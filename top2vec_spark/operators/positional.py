"""Positional fulltext queries: exact phrase, conjunctive AND,
proximity (minimal cover span), and best-window snippets.

The reference's keyword search is bag-of-words (top2vec/top2vec.py:
2855-2945 — terms contribute independently, no position information).
These operators complete the fulltext-index tier on top of the same
tokens(doc_id, pos, term) long table the BM25 engine already builds
(operators/tokens.py): ``pos`` — the reference's tokenized-list index
(top2vec.py:664) — becomes a real join key, which is all positional
retrieval needs.

Scale notes (the 10^12-doc plans):

- Every operator starts from a term-pruned scan: ``term IN (query
  terms)`` is a pushed-down parquet filter, so the input is the query
  terms' postings, never the corpus. With positions folded into the
  posting blocks (the codec's block layout leaves a documented seam),
  the same logical plans read the index instead of raw tokens.
- Phrase matching is a chain of (doc_id, adjusted-pos) equi-joins,
  ordered rarest-term-first (df from the vocab table) so the running
  intermediate is bounded by the rarest term's postings; AQE
  broadcasts the small side per join.
- The minimal-cover-span sweep is the textbook O(m) two-pointer over
  each doc's query-term hits. The join-combinatoric alternative is
  O(prod per-term occurrence counts) per doc — fine for a small-SF
  DuckDB oracle, explosive on a 10^5-token page with stopword-ish
  terms — so the scale path is ONE shuffle of the pruned hits
  (groupBy doc) into an Arrow kernel, cost O(query-term occurrences),
  never corpus-sized.
- Snippets join the winning window back to the tokens table on
  doc_id: with doc-bucketed storage (the index's doc-shard layout)
  that join is co-located.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top2vec_spark.config import BM25Config
from top2vec_spark.operators.bm25 import (
    bm25_score_col,
    idf,
    resolve_query_terms,
    term_weights,
)
from top2vec_spark.functions.querylang import has_wildcard
from top2vec_spark.operators.corpus_stats import CorpusGlobals


def _lower(terms: Sequence[str]) -> list[str]:
    # query-time lowercase — the engine-wide T4 contract
    # (reference top2vec.py:1433-1434)
    return [t.lower() for t in terms]


# ---------------------------------------------------------------------------
# Positional sidecar index: term-bucketed positional postings.
#
# The raw-tokens plans above must re-tokenize the corpus per query (the
# term filter sits ABOVE the posexplode, so nothing pushes into the
# parquet scan). The serving-time answer is the same move the BM25
# index makes for tf postings: materialize (term, doc_id, positions)
# once at build, partitioned by pbucket = pmod(xxhash64(term), B) and
# term-sorted within files. A phrase/proximity query then reads ONLY
# its terms' buckets (directory pruning) and within them only the
# row-groups whose term-range covers a query term (parquet min/max
# stats) — query cost is the query terms' postings, never the corpus.
# Positions are an int32 array per (term, doc) row; the codec's
# delta+varint block form is the denser production encoding and the
# documented seam (operators/codec.py — same blocks, one extra stream).
# ---------------------------------------------------------------------------
POSITIONS_SUBDIR = "positions"


def term_buckets(spark: SparkSession, terms: Sequence[str], n_buckets: int) -> list[int]:
    """pbucket of each term — computed BY Spark (one tiny local job) so
    the write-side xxhash64 and the query-side pruning can never
    disagree (no Python reimplementation of the JVM hash)."""
    rows = spark.createDataFrame(
        [(t,) for t in _lower(terms)], "term string"
    ).select(
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
    )
    return sorted({r["b"] for r in rows.collect()})


def build_position_index(
    tokens: DataFrame,
    path: str,
    n_buckets: int = 64,
    meta_extra: dict | None = None,
) -> None:
    """Write the positional sidecar under ``path``/positions.

    One corpus-scale shuffle (the (term, doc_id) groupBy — the same
    shape as the tf aggregation the main build already pays), then one
    repartition to align output files with bucket dirs;
    sortWithinPartitions(term, doc_id) gives parquet row-group min/max
    stats on term, so intra-bucket reads skip row groups too.
    """
    import json
    import os

    rows = (
        tokens.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn(
            "pbucket",
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
        )
    )
    (
        rows.repartition("pbucket")
        .sortWithinPartitions("term", "doc_id")
        .write.partitionBy("pbucket")
        .mode("overwrite")
        .parquet(f"{path}/{POSITIONS_SUBDIR}")
    )
    meta = {"n_buckets": n_buckets, "version": 1, **(meta_extra or {})}
    with open(os.path.join(path, f"{POSITIONS_SUBDIR}.json"), "w") as f:
        json.dump(meta, f)


def position_index_meta(path: str) -> dict | None:
    """The sidecar's meta dict, or None when no sidecar exists at
    ``path`` — the facade's freshness check (the stored next_doc_id
    must equal the live index's: an epoch append bumps it, which means
    the sidecar is missing the new docs and must not serve)."""
    import json
    import os

    mpath = os.path.join(path, f"{POSITIONS_SUBDIR}.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        return json.load(f)


def load_position_postings(
    spark: SparkSession, path: str, terms: Sequence[str]
) -> DataFrame:
    """Pruned positional postings of ``terms`` as (doc_id, pos, term) —
    the exact shape the query operators above take, so every positional
    operator runs off the index unchanged. The pbucket IN filter is
    partition-directory pruning; the term IN filter pushes to parquet.
    """
    import json
    import os

    with open(os.path.join(path, f"{POSITIONS_SUBDIR}.json")) as f:
        meta = json.load(f)
    uniq = list(dict.fromkeys(_lower(terms)))
    buckets = term_buckets(spark, uniq, meta["n_buckets"])
    return (
        spark.read.parquet(f"{path}/{POSITIONS_SUBDIR}")
        .filter(F.col("pbucket").isin(buckets))
        .filter(F.col("term").isin(uniq))
        .select("doc_id", F.explode("positions").alias("pos"), "term")
    )


def phrase_occurrences(
    tokens: DataFrame,
    phrase: Sequence[str],
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, start) for every exact consecutive occurrence of
    ``phrase`` — start is the 0-based position of the phrase's first
    token.

    Implementation: each phrase slot j contributes the pruned postings
    of its term re-keyed to (doc_id, pos - j); an occurrence at
    ``start`` is a row present in ALL slots' re-keyed sets, i.e. the
    chain of equi-joins on (doc_id, start). Join order is
    rarest-term-first when a vocab frame is supplied (one tiny
    filtered collect, the resolve_query_terms pattern), so the running
    intermediate never exceeds the rarest term's postings. Repeated
    words in the phrase are handled naturally (each slot filters its
    own term).
    """
    phrase = _lower(phrase)
    if not phrase:
        raise ValueError("phrase must have at least one term")
    order = list(range(len(phrase)))
    if vocab is not None and len(phrase) > 1:
        dfs = {
            r["term"]: r["df"]
            for r in vocab.filter(F.col("term").isin(list(set(phrase))))
            .select("term", "df")
            .collect()
        }
        # unknown terms (not in vocab => zero postings) sort first:
        # the empty side empties the chain immediately
        order.sort(key=lambda j: dfs.get(phrase[j], -1))
    out = None
    for j in order:
        side = tokens.filter(F.col("term") == phrase[j]).select(
            "doc_id", (F.col("pos") - F.lit(j)).alias("start")
        )
        out = side if out is None else out.join(side, ["doc_id", "start"])
    return out.select("doc_id", "start")


def phrase_topk(
    tokens: DataFrame,
    doc_stats: DataFrame,
    globs: CorpusGlobals,
    phrase: Sequence[str],
    k: int,
    cfg: BM25Config = BM25Config(),
    vocab: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k treating the exact phrase as ONE pseudo-term
    (Lucene PhraseQuery scoring shape): tf_d = occurrences of the
    phrase in d, df = number of docs with >= 1 occurrence, idf from
    that df with the engine's BM25 constants.

    Returns (doc_id, tf, score), score DESC / doc_id ASC, k rows.
    The per-phrase df is query planning (one count over the persisted
    match set — the same driver-side scalar the brute scorer computes
    per keyword via resolve_query_terms).
    """
    occ = phrase_occurrences(tokens, phrase, vocab)
    tf = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tf"))
    # The phrase's df is a value of the SAME tf aggregate, consumed via
    # crossJoin(broadcast(count)): Spark reuses the tf aggregation's
    # exchange across both branches (ReusedExchange — pinned by test),
    # so the match set is computed ONCE with no persist (a persist here
    # would outlive the query: the ADVICE._project leak pattern) and no
    # driver-side count action. idf therefore uses F.log (JVM) rather
    # than bm25.py's driver-side math.log; the phrase pseudo-term has
    # no WAND twin demanding bit-parity, and the 1-ulp JVM/libm
    # divergence is absorbed by the driver rows' round(4) contract.
    dfp = tf.agg(F.count(F.lit(1)).alias("_df"))
    n = F.lit(float(globs.n_docs))
    scored = (
        tf.crossJoin(F.broadcast(dfp))
        .join(doc_stats, "doc_id")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (n - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn("avgdl", F.lit(globs.avgdl))
        .withColumn("sign", F.lit(1.0))
        .select(
            "doc_id",
            "tf",
            bm25_score_col(cfg, globs.n_docs).alias("score"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)


def bool_and_topk(
    spark: SparkSession,
    tokens: DataFrame,
    doc_stats: DataFrame,
    globs: CorpusGlobals,
    vocab: DataFrame,
    terms: Sequence[str],
    k: int,
    cfg: BM25Config = BM25Config(),
) -> DataFrame:
    """Conjunctive (AND) BM25 top-k: only documents containing ALL
    query terms are ranked; the score is the usual per-term BM25 sum.

    Same physical shape as the brute scorer (term-pruned scan ->
    partial+final tf hash agg -> broadcast query join -> per-doc agg
    -> TakeOrderedAndProject) plus one HAVING on the matched-term
    count — the (doc, term) rows are distinct per term after the tf
    agg, so ``count(*) == len(terms)`` is exactly the ALL predicate.
    """
    terms = list(dict.fromkeys(_lower(terms)))
    w = term_weights(spark, vocab, terms)  # validates vocab membership
    wrows = w.collect()
    wq = spark.createDataFrame(
        [
            (r["term"], r["term_id"], r["df"], 1.0, idf(globs.n_docs, r["df"]))
            for r in wrows
        ],
        "term string, term_id long, df long, sign double, idf double",
    )
    tf = (
        tokens.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(wq), "term")
        .join(doc_stats, "doc_id")
        .withColumn("avgdl", F.lit(globs.avgdl))
        .withColumn("contrib", bm25_score_col(cfg, globs.n_docs))
        .groupBy("doc_id")
        .agg(
            # deterministic accumulation order (term_id-sorted), the
            # bm25_scores contract
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term_id", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score"),
            F.count(F.lit(1)).alias("_nmatched"),
        )
        .filter(F.col("_nmatched") == len(terms))
        .select("doc_id", "score")
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(k)


def _sweep_min_spans(pos, tid, doc_ids, need):
    """Vectorized-boundary batch form of the classic minimal-cover
    two-pointer: rows are (doc_id, pos, tid) sorted by (doc_id, pos);
    one O(m) pass per doc, doc boundaries found with np.unique.
    Returns (docs_with_all_terms, spans)."""
    import numpy as np

    out_docs: list[int] = []
    out_spans: list[int] = []
    uniq_docs, starts = np.unique(doc_ids, return_index=True)
    bounds = list(starts) + [len(doc_ids)]
    for gi, d in enumerate(uniq_docs):
        lo, hi = bounds[gi], bounds[gi + 1]
        counts = [0] * need
        have = 0
        left = lo
        best = None
        for right in range(lo, hi):
            t = tid[right]
            counts[t] += 1
            if counts[t] == 1:
                have += 1
            while have == need:
                span = int(pos[right] - pos[left])
                if best is None or span < best:
                    best = span
                tl = tid[left]
                counts[tl] -= 1
                if counts[tl] == 0:
                    have -= 1
                left += 1
        if best is not None:
            out_docs.append(int(d))
            out_spans.append(best)
    return out_docs, out_spans


def span_near_tf(
    tokens: DataFrame, terms: Sequence[str], slop: int
) -> DataFrame:
    """(doc_id, tf) for an UNORDERED span-near match — the executor
    behind ``"a b"~N`` sloppy phrases (Lucene SpanNearQuery with
    inOrder=false). A hit position ``p`` qualifies iff the window
    ``[p, p + limit]`` with ``limit = n_distinct_terms - 1 + slop``
    contains at least one occurrence of EVERY phrase term; ``tf`` is
    the count of qualifying start positions. ``slop=0`` therefore
    means "all terms adjacent in any order" — the documented delta vs
    Lucene's ordered sloppy freq (which weights each match by
    1/(1+matchLength)); match-counting keeps the engine score the
    same BM25 shape as exact phrases and replays exactly in SQL.

    DISTINCT-TERMS semantics (documented delta): repeated words in
    the phrase are deduplicated, so ``"fast fast"~0`` matches any doc
    with one ``fast`` occurrence — Lucene's SpanNearQuery would
    require two distinct occurrences. The engine's window predicate
    is "every DISTINCT phrase term occurs in the window".

    Physical shape mirrors best_snippet's WINDOW-BUCKET equi-join:
    candidate (start, hit) pairs come from a (doc_id, bucket)
    equi-join where each hit explodes to the 2 width-(limit+1)
    buckets it can serve, never a per-doc theta join — O(hits x
    limit) pairs instead of O(hits^2), the difference that keeps a
    stopword-ish term on a 10^5-token page from going quadratic."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    uniq = list(dict.fromkeys(_lower(terms)))
    need = len(uniq)
    limit = need - 1 + slop
    w = limit + 1
    mapping = F.create_map(
        *[F.lit(x) for t, i in ((t, i) for i, t in enumerate(uniq)) for x in (t, i)]
    )
    hits = tokens.filter(F.col("term").isin(uniq)).select(
        "doc_id", "pos", mapping[F.col("term")].cast("int").alias("tid")
    )
    starts = hits.select(
        "doc_id",
        F.col("pos").alias("start"),
        F.floor(F.col("pos") / w).alias("_b"),
    )
    exploded = hits.select(
        "doc_id",
        "pos",
        "tid",
        F.explode(
            F.array(
                F.floor(F.col("pos") / w),
                F.floor(F.col("pos") / w) - 1,
            )
        ).alias("_b"),
    )
    qualifying = (
        starts.join(exploded, ["doc_id", "_b"])
        .filter(
            (F.col("pos") >= F.col("start"))
            & (F.col("pos") <= F.col("start") + limit)
        )
        .groupBy("doc_id", "start")
        .agg(F.count_distinct("tid").alias("_nt"))
        .filter(F.col("_nt") == need)
    )
    return qualifying.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tf"))


# Vocabulary terms one wildcard/fuzzy atom may expand to — shared by the
# facade's source router and the executor so both resolve the same set.
MAX_EXPANSIONS = 128


def expand_wildcard_terms(
    vocab: DataFrame, pat: str, max_expansions: int = MAX_EXPANSIONS
) -> list:
    """Resolve one wildcard atom against the vocabulary into concrete
    (term, df) rows — Lucene PrefixQuery/WildcardQuery expansion as
    one tiny vocab-filtered collect at planning time. Shared by the
    executor (:func:`_mixed_contribs`) and the facade's source router
    (expansion happens BEFORE token-source routing, so the expanded
    set rides the term-pruned positional sidecar instead of forcing a
    corpus re-tokenize — the r05 wildcard scale fix)."""
    import re as _re

    if pat.endswith("*") and not has_wildcard(pat[:-1]):
        # pure trailing-* prefix: startswith stays a prune-friendly
        # range predicate on the term-sorted vocab scan
        prefix = pat[:-1]
        if not prefix:
            raise ValueError("empty prefix in query")
        matcher = F.col("term").startswith(prefix)
        what = f"prefix '{prefix}*'"
    else:
        # general Lucene WildcardQuery: * = any run, ? = one char;
        # anchored regex over the vocab scan (leading wildcards
        # were rejected at parse, so the scan still prunes on the
        # literal head via the startswith conjunct)
        head = _re.match(r"[^*?]*", pat).group(0)
        rx = (
            "^"
            + _re.escape(pat).replace(r"\*", ".*").replace(r"\?", ".")
            + "$"
        )
        matcher = F.col("term").startswith(head) & F.col("term").rlike(rx)
        what = f"wildcard '{pat}'"
    exp = (
        vocab.filter(matcher)
        .select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions + 1)
        .collect()
    )
    if not exp:
        raise ValueError(f"no vocabulary terms match {what}")
    if len(exp) > max_expansions:
        raise ValueError(
            f"{what} matches more than "
            f"{max_expansions} vocabulary terms"
        )
    return exp


def expand_fuzzy_terms(
    vocab: DataFrame, word: str, fz: int, max_expansions: int = MAX_EXPANSIONS
) -> list:
    """Resolve one fuzzy atom (``word~fz``) against the vocabulary
    into concrete (term, df) rows — Lucene FuzzyQuery's automaton walk
    re-expressed columnar. Shared by the executor and the facade's
    source router (see :func:`expand_wildcard_terms`)."""
    if not word:
        raise ValueError("empty fuzzy term in query")
    # length prefilter is free pruning (|len(a)-len(b)| lower-bounds
    # Levenshtein); the distance itself is JVM codegen, no Python
    exp = (
        vocab.filter(
            F.length("term").between(len(word) - fz, len(word) + fz)
        )
        .filter(F.levenshtein(F.col("term"), F.lit(word)) <= fz)
        .select("term", "df")
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions + 1)
        .collect()
    )
    if not exp:
        raise ValueError(
            f"no vocabulary terms within edit distance {fz} "
            f"of '{word}'"
        )
    if len(exp) > max_expansions:
        raise ValueError(
            f"fuzzy term '{word}~{fz}' matches more than "
            f"{max_expansions} vocabulary terms"
        )
    return exp


def _mixed_contribs(
    spark: SparkSession,
    tokens: DataFrame,
    doc_stats: DataFrame,
    globs: CorpusGlobals,
    vocab: DataFrame,
    atoms: Sequence[tuple[float, tuple[str, ...]]],
    cfg: BM25Config = BM25Config(),
    max_expansions: int = MAX_EXPANSIONS,
    doc_meta: DataFrame | None = None,
):
    """Shared front half of :func:`mixed_query_scores` and
    :func:`mixed_query_explain`: validate + expand the parsed atoms
    and build the per-(doc, atom) contribution frame. Returns
    ``(out, must_ids, must_groups, filter_atoms)`` where ``out`` is
    (doc_id, atom_id, contrib) rows — or ``None`` for a filter-only
    query (no scoring atoms; the caller decides what that means).

    Execution semantics of the atoms (scoring model of the engine):
    every atom contributes sign * BM25 — bag-of-words terms through
    the brute-scorer shape, phrases as exact-occurrence pseudo-terms
    (phrase df via the same ReusedExchange crossJoin as phrase_topk),
    and trailing-* prefix atoms as the OR-sum of BM25 over their
    vocabulary expansions (Lucene PrefixQuery shape; expansion is one
    tiny vocab-filtered collect at planning, capped at
    ``max_expansions`` — over the cap raises rather than silently
    rewriting to a different scorer, the documented delta vs Lucene's
    constant-score rewrite).

    One contribution frame per phrase plus ONE shared frame for all
    single terms, unioned and summed per doc with the engine's
    deterministic accumulation contract (atom-index-sorted
    left-to-right float64 sum). ``+``-required (must) atoms score
    identically but additionally gate the result to docs matching
    every must atom — enforced via a collect_set(atom_id) in the same
    aggregation. ``~N`` fuzzy atoms expand against the vocabulary by
    classic Levenshtein distance (JVM ``levenshtein`` codegen over a
    length-prefiltered vocab scan — Lucene FuzzyQuery's automaton
    walk re-expressed columnar), each expansion contributing like a
    prefix expansion. ``field:value`` filter atoms never score: they
    gate the result through ONE semi-join against ``doc_meta`` with
    the field predicates pushed into its scan (values and ranges on a
    field OR together, fields AND together, sign<0 excludes) — the
    doc-values filter pattern. ``"a b"~N`` sloppy phrases score as
    unordered span-near pseudo-terms (see :func:`span_near_tf`).
    Parenthesized groups were already lowered by the parser — boosts
    and signs arrive distributed into member atoms; a required group
    arrives as a shared ``group`` id and gates disjunctively (the doc
    must match >= 1 member) via an ``arrays_overlap`` against the same
    collect_set(atom_id) the singleton must gate uses.
    Returns the FULL match set as (doc_id, score) — unordered,
    unlimited; facet aggregation consumes it whole, ranked retrieval
    goes through :func:`mixed_query_topk`.
    """
    # atoms are querylang.Atom(sign, terms, must, fuzz, field, slop,
    # rng, group) — index access keeps hand-built legacy (sign, terms)
    # 2-tuples working
    atoms = [
        (
            a[0],
            a[1],
            a[2] if len(a) > 2 else False,
            a[3] if len(a) > 3 else None,
            a[4] if len(a) > 4 else None,
            a[5] if len(a) > 5 else None,
            a[6] if len(a) > 6 else None,
            a[7] if len(a) > 7 else None,
        )
        for a in atoms
    ]
    if not atoms:
        raise ValueError("query contains no terms")
    filter_atoms = [
        (s, t[0] if t else None, fld, rng)
        for s, t, _, _, fld, _, rng, _ in atoms
        if fld is not None
    ]
    scoring = [
        (i, s, t, m, fz, sl, grp)
        for i, (s, t, m, fz, fld, sl, _, grp) in enumerate(atoms)
        if fld is None
    ]
    if filter_atoms and doc_meta is None:
        raise ValueError(
            "field filters in the query need document metadata "
            "(pass doc_meta)"
        )
    if not scoring:
        # filter-only query: no contribution frame to build
        return None, [], {}, filter_atoms
    must_ids = [i for i, _, _, m, _, _, _ in scoring if m]
    # disjunctive must-groups (a required (...) group): a doc must
    # match >= 1 member of each group — gid -> member atom ids
    must_groups: dict[int, list[int]] = {}
    for i, _, _, _, _, _, grp in scoring:
        if grp is not None:
            must_groups.setdefault(grp, []).append(i)
    term_atoms = [
        (i, s, t[0])
        for i, s, t, _, fz, sl, _ in scoring
        if len(t) == 1 and fz is None and sl is None and not has_wildcard(t[0])
    ]
    fuzzy_atoms = [
        (i, s, t[0], fz)
        for i, s, t, _, fz, _, _ in scoring
        if len(t) == 1 and fz is not None
    ]
    wildcard_atoms = [
        (i, s, t[0])
        for i, s, t, _, fz, sl, _ in scoring
        if len(t) == 1 and fz is None and sl is None and has_wildcard(t[0])
    ]
    phrase_atoms = [
        (i, s, t)
        for i, s, t, _, _, sl, _ in scoring
        if len(t) > 1 and sl is None
    ]
    slop_atoms = [
        (i, s, t, sl) for i, s, t, _, _, sl, _ in scoring if sl is not None
    ]
    # vocabulary validation over every NON-prefix, NON-fuzzy word
    # (phrase words included) — message parity with keyword validation;
    # fuzzy words are the user's possibly-misspelled input and validate
    # at expansion (>=1 vocabulary term within distance) instead
    all_words = [
        w
        for _, _, t, _, fz, _, _ in scoring
        if fz is None
        for w in t
        if not has_wildcard(w)
    ]
    resolved = (
        {
            t: (tid, df)
            for t, tid, df, _ in resolve_query_terms(vocab, all_words)
        }
        if all_words
        else {}
    )
    weight_rows = [
        (t, i, s, idf(globs.n_docs, resolved[t][1])) for i, s, t in term_atoms
    ]
    for i, s, pat in wildcard_atoms:
        exp = expand_wildcard_terms(vocab, pat, max_expansions)
        weight_rows.extend(
            (r["term"], i, s, idf(globs.n_docs, r["df"])) for r in exp
        )
    for i, s, word, fz in fuzzy_atoms:
        exp = expand_fuzzy_terms(vocab, word, fz, max_expansions)
        weight_rows.extend(
            (r["term"], i, s, idf(globs.n_docs, r["df"])) for r in exp
        )
    frames = []
    if weight_rows:
        wq = spark.createDataFrame(
            weight_rows,
            "term string, atom_id int, sign double, idf double",
        )
        tf = (
            tokens.filter(
                F.col("term").isin(sorted({t for t, _, _, _ in weight_rows}))
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        frames.append(
            tf.join(F.broadcast(wq), "term")
            .join(doc_stats, "doc_id")
            .withColumn("avgdl", F.lit(globs.avgdl))
            .select(
                "doc_id",
                "atom_id",
                bm25_score_col(cfg, globs.n_docs).alias("contrib"),
            )
        )
    n = F.lit(float(globs.n_docs))
    for i, s, terms in phrase_atoms:
        occ = phrase_occurrences(tokens, list(terms), vocab)
        tfp = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("tf"))
        dfp = tfp.agg(F.count(F.lit(1)).alias("_df"))
        frames.append(
            tfp.crossJoin(F.broadcast(dfp))
            .join(doc_stats, "doc_id")
            .withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (n - F.col("_df") + F.lit(0.5))
                    / (F.col("_df") + F.lit(0.5))
                ),
            )
            .withColumn("avgdl", F.lit(globs.avgdl))
            .withColumn("sign", F.lit(float(s)))
            .select(
                "doc_id",
                F.lit(i).alias("atom_id"),
                bm25_score_col(cfg, globs.n_docs).alias("contrib"),
            )
        )
    for i, s, terms, sl in slop_atoms:
        # sloppy phrase: tf = unordered span-near match count, scored
        # as ONE pseudo-term exactly like an exact phrase (df over the
        # matching docs via the same ReusedExchange crossJoin shape)
        tfs = span_near_tf(tokens, list(terms), sl)
        dfs = tfs.agg(F.count(F.lit(1)).alias("_df"))
        frames.append(
            tfs.crossJoin(F.broadcast(dfs))
            .join(doc_stats, "doc_id")
            .withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (n - F.col("_df") + F.lit(0.5))
                    / (F.col("_df") + F.lit(0.5))
                ),
            )
            .withColumn("avgdl", F.lit(globs.avgdl))
            .withColumn("sign", F.lit(float(s)))
            .select(
                "doc_id",
                F.lit(i).alias("atom_id"),
                bm25_score_col(cfg, globs.n_docs).alias("contrib"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out, must_ids, must_groups, filter_atoms


def mixed_query_scores(
    spark: SparkSession,
    tokens: DataFrame,
    doc_stats: DataFrame,
    globs: CorpusGlobals,
    vocab: DataFrame,
    atoms: Sequence[tuple[float, tuple[str, ...]]],
    cfg: BM25Config = BM25Config(),
    max_expansions: int = MAX_EXPANSIONS,
    doc_meta: DataFrame | None = None,
    min_should_match: int | None = None,
) -> DataFrame:
    """Execute parsed query-language atoms — see
    :func:`_mixed_contribs` for the per-atom scoring model. Sums the
    contribution frame per doc with the engine's deterministic
    accumulation contract (atom-index-sorted left-to-right float64
    sum), applies the must / must-group gates inside the same
    aggregation and the field filters as one semi-join. A FILTER-ONLY
    query (no scoring atoms) is ES bool-filter context: every doc
    passing the filters matches at constant score 0.0 (match_all
    gated by metadata; one pruned scan, no token read).
    ``min_should_match=N`` is the ES/Lucene minimum_should_match
    parameter: a doc must additionally match at least N of the
    POSITIVE should atoms (bare non-must, non-group, non-negated
    scoring atoms — must/filter/prohibited clauses are unaffected,
    Lucene's rule); N greater than the should-atom count matches
    nothing, exactly as Lucene. Returns the FULL match set as
    (doc_id, score) — unordered, unlimited; facet aggregation
    consumes it whole, ranked retrieval goes through
    :func:`mixed_query_topk`."""
    out, must_ids, must_groups, filter_atoms = _mixed_contribs(
        spark, tokens, doc_stats, globs, vocab, atoms,
        cfg=cfg, max_expansions=max_expansions, doc_meta=doc_meta,
    )
    if out is None:
        if min_should_match is not None:
            raise ValueError(
                "min_should_match needs scoring atoms in the query"
            )
        return _filter_allowed_docs(doc_meta, filter_atoms).select(
            "doc_id", F.lit(0.0).alias("score")
        )
    msm_ids = None
    if min_should_match is not None:
        if not isinstance(min_should_match, int) or min_should_match < 1:
            raise ValueError("min_should_match must be a positive integer")
        norm = [
            (
                a[0], a[1],
                a[2] if len(a) > 2 else False,
                a[4] if len(a) > 4 else None,
                a[7] if len(a) > 7 else None,
            )
            for a in atoms
        ]
        msm_ids = [
            i
            for i, (sign, _, must, fld, grp) in enumerate(norm)
            if fld is None and sign > 0 and not must and grp is None
        ]
    sum_expr = F.aggregate(
        F.sort_array(F.collect_list(F.struct("atom_id", "contrib"))),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    ).alias("score")
    if must_ids or must_groups or msm_ids is not None:
        # a doc matches must atom i iff it has a contribution row with
        # atom_id == i (tf > 0 / a phrase occurrence / any prefix
        # expansion) — checked inside the SAME per-doc aggregation
        # (collect_set of atom ids), so the must filter costs one
        # array intersect per doc, never a second scan or join; a
        # required (...) GROUP is the disjunctive twin: arrays_overlap
        # with the group's member ids (>= 1 member must match)
        cond = None
        if must_ids:
            cond = (
                F.size(
                    F.array_intersect(
                        "_aids", F.array(*[F.lit(i) for i in must_ids])
                    )
                )
                == len(must_ids)
            )
        for grp in sorted(must_groups):
            over = F.arrays_overlap(
                "_aids", F.array(*[F.lit(i) for i in must_groups[grp]])
            )
            cond = over if cond is None else cond & over
        if msm_ids is not None:
            # minimum_should_match: >= N of the should atom ids present
            # in the same collect_set — one more array_intersect, same
            # aggregation, still no extra scan/join
            enough = (
                F.size(
                    F.array_intersect(
                        "_aids", F.array(*[F.lit(i) for i in msm_ids])
                    )
                )
                >= min_should_match
            ) if msm_ids else F.lit(False)
            cond = enough if cond is None else cond & enough
        scored = (
            out.groupBy("doc_id")
            .agg(sum_expr, F.collect_set("atom_id").alias("_aids"))
            .filter(cond)
            .select("doc_id", "score")
        )
    else:
        scored = out.groupBy("doc_id").agg(sum_expr)
    if filter_atoms:
        scored = scored.join(
            _filter_allowed_docs(doc_meta, filter_atoms), "doc_id", "left_semi"
        )
    return scored


def mixed_query_explain(
    spark: SparkSession,
    tokens: DataFrame,
    doc_stats: DataFrame,
    globs: CorpusGlobals,
    vocab: DataFrame,
    atoms: Sequence[tuple[float, tuple[str, ...]]],
    doc_id: int,
    cfg: BM25Config = BM25Config(),
    max_expansions: int = MAX_EXPANSIONS,
    doc_meta: DataFrame | None = None,
) -> DataFrame:
    """Lucene ``IndexSearcher.explain`` re-expression: the per-atom
    BM25 contribution breakdown of ONE document under a parsed query
    — (atom_id, n_terms, contrib) per atom the doc matches, where
    ``n_terms`` counts the matching expansion terms (1 for a plain
    term/phrase, >1 when a prefix/fuzzy expansion hit several vocab
    terms) and ``contrib`` folds that atom's contributions in the
    engine's deterministic order. The doc's search score is the
    atom-ordered sum of these rows (associativity regroups the same
    ordered fold, so totals agree to float64 ULP).

    Scale: the ``doc_id`` equality pushes through the contribution
    aggregations into the term-pruned scans (a grouping-key filter,
    visible as PushedFilters EqualTo(doc_id)), so term atoms read one
    doc's rows. Phrase/slop atoms additionally pay their pseudo-term
    df (a corpus-wide count over the phrase terms' postings — the
    same statistic query-time scoring needs; inherent, not
    plan-avoidable)."""
    out, _, _, _ = _mixed_contribs(
        spark, tokens, doc_stats, globs, vocab, atoms,
        cfg=cfg, max_expansions=max_expansions, doc_meta=doc_meta,
    )
    if out is None:
        raise ValueError(
            "filter-only query has no scoring atoms to explain"
        )
    fold = F.aggregate(
        F.sort_array(F.collect_list(F.struct("atom_id", "contrib"))),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    ).alias("contrib")
    return (
        out.filter(F.col("doc_id") == int(doc_id))
        .groupBy("atom_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), fold)
        .orderBy("atom_id")
    )


def mixed_query_topk(
    spark: SparkSession,
    tokens: DataFrame,
    doc_stats: DataFrame,
    globs: CorpusGlobals,
    vocab: DataFrame,
    atoms: Sequence[tuple[float, tuple[str, ...]]],
    k: int,
    cfg: BM25Config = BM25Config(),
    max_expansions: int = MAX_EXPANSIONS,
    doc_meta: DataFrame | None = None,
) -> DataFrame:
    """Top-k over :func:`mixed_query_scores` — (doc_id, score), score
    DESC / doc_id ASC, k rows (TakeOrderedAndProject, never a global
    sort)."""
    return (
        mixed_query_scores(
            spark,
            tokens,
            doc_stats,
            globs,
            vocab,
            atoms,
            cfg=cfg,
            max_expansions=max_expansions,
            doc_meta=doc_meta,
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _range_bound(doc_meta: DataFrame, fld: str, text: str):
    """Type a range bound to the metadata column: numeric columns get
    a numeric literal (a string literal against a numeric column
    would force a cast that kills parquet predicate pushdown), string
    columns keep the text (lexicographic keyword comparison)."""
    dtype = doc_meta.schema[fld].dataType.simpleString()
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        try:
            return int(text)
        except ValueError:
            raise ValueError(
                f"range bound '{text}' is not an integer "
                f"(field '{fld}' is {dtype})"
            ) from None
    if dtype in ("float", "double") or dtype.startswith("decimal"):
        try:
            return float(text)
        except ValueError:
            raise ValueError(
                f"range bound '{text}' is not a number "
                f"(field '{fld}' is {dtype})"
            ) from None
    if dtype == "string":
        return text
    raise ValueError(
        f"field '{fld}' ({dtype}) does not support range filters"
    )


def _exact_value(doc_meta: DataFrame, fld: str, text: str):
    """Type an exact ``field:value`` literal to the metadata column —
    numeric columns get numeric literals so the equality stays a
    pushable parquet predicate (the documented pushdown guarantee held
    only for ranges before; a string literal forced a cast). Non-
    numeric columns keep the raw text, the previous behavior."""
    dtype = doc_meta.schema[fld].dataType.simpleString()
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        try:
            return int(text)
        except ValueError:
            raise ValueError(
                f"filter value '{text}' is not an integer "
                f"(field '{fld}' is {dtype})"
            ) from None
    if dtype in ("float", "double") or dtype.startswith("decimal"):
        try:
            return float(text)
        except ValueError:
            raise ValueError(
                f"filter value '{text}' is not a number "
                f"(field '{fld}' is {dtype})"
            ) from None
    return text


def _range_pred(doc_meta: DataFrame, fld: str, rng: tuple):
    """Column predicate for one [lo TO hi] range atom — bare typed
    comparisons so the conjunct pushes into the parquet scan;
    [* TO *] degenerates to IS NOT NULL (Lucene's field-exists
    query)."""
    lo, hi, lo_inc, hi_inc = rng
    col = F.col(fld)
    if lo is None and hi is None:
        return col.isNotNull()
    pred = None
    if lo is not None:
        b = _range_bound(doc_meta, fld, lo)
        p = col >= F.lit(b) if lo_inc else col > F.lit(b)
        pred = p
    if hi is not None:
        b = _range_bound(doc_meta, fld, hi)
        p = col <= F.lit(b) if hi_inc else col < F.lit(b)
        pred = p if pred is None else (pred & p)
    return pred


def _filter_allowed_docs(
    doc_meta: DataFrame,
    filter_atoms: Sequence[tuple[float, str | None, str, tuple | None]],
) -> DataFrame:
    """doc_ids passing every ``field:value`` / ``field:[lo TO hi]``
    filter atom: per field, positive values and ranges OR together,
    negative atoms exclude; all fields AND together in ONE predicate
    over ONE metadata scan — every conjunct is a plain (typed) column
    comparison, so it pushes into the parquet scan (PushedFilters)
    and the caller's semi-join is the only extra operator a filtered
    query pays. NULL metadata never matches (neither includes nor
    survives an exclusion — an explicit IS NOT NULL guards the
    negative-only case) — SQL three-valued logic, documented."""
    by_field: dict[str, tuple[list, list]] = {}
    for a in filter_atoms:
        s, value, fld = a[0], a[1], a[2]
        rng = a[3] if len(a) > 3 else None
        if fld not in doc_meta.columns:
            raise ValueError(
                f"unknown filter field '{fld}' — not a metadata column"
            )
        pos, neg = by_field.setdefault(fld, ([], []))
        atom_pred = (
            _range_pred(doc_meta, fld, rng)
            if rng is not None
            # exact keyword-field match (case preserved): a bare
            # column comparison stays a pushable predicate — wrapping
            # the column in lower() would silently turn the pruned
            # metadata scan into a full read (PushedFilters drop to
            # IsNotNull only). The literal is TYPED to the column
            # (numeric columns get numeric literals, like range
            # bounds) — a string literal against a numeric column
            # inserts casts that kill parquet pushdown.
            else (F.col(fld) == F.lit(_exact_value(doc_meta, fld, value)))
        )
        (pos if s > 0 else neg).append(atom_pred)
    pred = F.lit(True)
    for fld, (pos, neg) in by_field.items():
        if pos:
            ored = pos[0]
            for p in pos[1:]:
                ored = ored | p
            pred = pred & ored
        if neg:
            # IS NOT NULL keeps the documented NULL-never-matches rule
            # when a field carries only exclusions (NOT(x) over NULL
            # is NULL and would otherwise drop the row anyway — but
            # NOT(IS NOT NULL ranges) like -f:[* TO *] would flip it)
            pred = pred & F.col(fld).isNotNull()
            for p in neg:
                pred = pred & ~p
    return doc_meta.filter(pred).select("doc_id")


def min_cover_span(
    tokens: DataFrame,
    terms: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, span) — the minimal positional span (max pos - min pos)
    of any window containing at least one occurrence of EVERY query
    term; only documents containing all terms emit a row.

    The classic two-pointer sweep over each doc's position-sorted
    query-term hits — O(m) per doc where m is that doc's query-term
    occurrence count. (The SQL-expressible alternative — min over the
    cross product of one occurrence per term — is the small-SF DuckDB
    oracle; its cost is the product of per-term occurrence counts,
    which a stopword-ish term on a long page makes explosive.)

    Physical shape, measured not guessed (BENCH/POSITIONAL_SCALING):
    ONE explicit repartition(n, doc_id) + sortWithinPartitions feeding
    a mapInPandas sweep — one Python call per Arrow BATCH with doc
    groups carried across batch boundaries. The first cut used
    groupBy(doc_id).applyInPandas, which (a) paid ~1-2 ms of pandas
    per doc group and (b) let AQE coalesce the few-MB shuffle to ONE
    partition, serializing the kernel at every core count. The
    explicit numPartitions is exempt from AQE coalescing — size-based
    coalescing underestimates Python-CPU-bound exchanges.
    """
    import pandas as pd

    uniq = list(dict.fromkeys(_lower(terms)))
    if len(uniq) < 2:
        raise ValueError("min_cover_span needs at least 2 distinct terms")
    need = len(uniq)
    mapping = F.create_map(
        *[F.lit(x) for t, i in ((t, i) for i, t in enumerate(uniq)) for x in (t, i)]
    )
    hits = tokens.filter(F.col("term").isin(uniq)).select(
        "doc_id", "pos", mapping[F.col("term")].cast("int").alias("tid")
    )
    spark = tokens.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism * 2
    part = hits.repartition(n_part, "doc_id").sortWithinPartitions(
        "doc_id", "pos"
    )

    def sweep_batches(batches):
        carry: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            docs, spans = _sweep_min_spans(
                pdf["pos"].to_numpy(),
                pdf["tid"].to_numpy(),
                pdf["doc_id"].to_numpy(),
                need,
            )
            return pd.DataFrame({"doc_id": docs, "span": spans})

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            # rows are (doc_id, pos)-sorted within the partition, so
            # the last doc may continue in the next batch: hold it back
            last = pdf["doc_id"].iloc[-1]
            mask = pdf["doc_id"].to_numpy() == last
            carry = pdf[mask]
            body = pdf[~mask]
            if len(body):
                yield emit(body)
        if carry is not None and len(carry):
            yield emit(carry)

    return part.mapInPandas(sweep_batches, "doc_id long, span int")


def best_snippet(
    tokens: DataFrame,
    terms: Sequence[str],
    width: int = 8,
) -> DataFrame:
    """(doc_id, start, hits, snippet) — per matching document, the
    fixed-width token window with the most query-term hits (tie: the
    smallest start), and its text rebuilt from the token stream.

    The optimal window must start AT a hit (shifting a window right to
    its first hit never loses a hit), so candidate starts are exactly
    the hit positions. The start-hit pairing is a WINDOW-BUCKET
    equi-join, not a bare per-doc theta join: a hit at ``pos`` can
    only serve starts in [pos-width+1, pos], whose floor(start/width)
    is one of {floor(pos/width)-1, floor(pos/width)} — so each hit is
    exploded to those two bucket keys and joined on
    (doc_id, bucket) before the exact range filter. Candidate pairs
    are O(hits x width) instead of the bare join's O(hits^2) per doc
    — a stopword-ish term on a 10^5-token page makes the difference
    between 2·10^5·w pairs and 10^10. Snippet text is the TOKEN
    stream (post-tokenizer), the documented delta vs raw-text
    highlighting.
    """
    if width < 1:
        raise ValueError("width must be >= 1")
    uniq = list(dict.fromkeys(_lower(terms)))
    hits = tokens.filter(F.col("term").isin(uniq)).select("doc_id", "pos")
    starts = hits.select(
        "doc_id",
        F.col("pos").alias("start"),
        F.floor(F.col("pos") / width).alias("_b"),
    )
    exploded = hits.select(
        "doc_id",
        "pos",
        F.explode(
            F.array(
                F.floor(F.col("pos") / width),
                F.floor(F.col("pos") / width) - 1,
            )
        ).alias("_b"),
    )
    counted = (
        starts.join(exploded, ["doc_id", "_b"])
        .filter(
            (F.col("pos") >= F.col("start"))
            & (F.col("pos") < F.col("start") + width)
        )
        .groupBy("doc_id", "start")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    from pyspark.sql.window import Window

    best = (
        counted.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("hits").desc(), F.col("start").asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        tokens.join(best, "doc_id")
        .filter(
            (F.col("pos") >= F.col("start"))
            & (F.col("pos") < F.col("start") + width)
        )
        .groupBy("doc_id", "start", "hits")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "term"))),
                    lambda x: x["term"],
                ),
                " ",
            ).alias("snippet")
        )
    )
