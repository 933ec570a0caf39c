"""The benchmark's workloads, driven through the engine's public API.

``serve``: a base index built, ``cache()``d and warmed in set-up, then
a closed loop of single keyword queries (``wand_topk``) followed by
batches through ``wand_topk_many``.

``churn``: an uncached base index built in set-up, then append epochs
(``append_documents``), each followed by a tombstone batch
(``delete_documents``) and a probe phase over the multi-epoch,
tombstoned layout, and finally ``compact()`` and a last probe phase.

Every query result, and the postings of every full build, is checked
against the numpy oracle. Each workload returns its end-to-end metrics
and a report of every figure it measured; ``layer_metrics`` gives the
per-layer metrics of a traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from corpus import Query, ZipfSource, queries
from oracle import Oracle
from top2vec_spark.operators.bm25 import resolve_query_terms
from top2vec_spark.operators.codec import decode_blocks
from top2vec_spark.operators.wand import wand_topk, wand_topk_many
from top2vec_spark.plans.build import IndexBuilder

K = 10
VOCAB = 4000
WARMUP_DOCS = 256
SERVE_DOCS = 10_000  # three doc-shards
SERVE_QUERIES = 200  # serve's single queries cycle over these
BATCH = 50  # serve repeats one batch of this many other queries
SINGLE_SHARE = 0.5  # of serve's timed phase; the rest runs batches
CHURN_DOCS = 4_500  # two doc-shards
CHURN_EPOCHS = 1
CHURN_APPEND = 300
CHURN_DELETE_OLD, CHURN_DELETE_NEW = 30, 10  # per epoch
CHURN_PROBES = 4  # a probe round runs these singly, then all
CHURN_BATCH = 40  # CHURN_BATCH probes as one batch
ROUND_SECONDS = 12  # a probe phase runs one round per this much of --seconds


def docs_per_shard(n_docs: int) -> int:
    """The frozen bench.py shard size, so queries fan out over shards."""
    return max(4096, n_docs // 32)


def median(xs) -> float:
    return float(statistics.median(xs))


class Run:
    """One benchmark run: Spark, tracer, outcome counters and samples."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.samples: dict[str, list] = defaultdict(list)

    def outcome(self, what: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
            print(f"perfbench: FAILED {what}: {error}", file=sys.stderr)

    def guarded(self, what: str, fn, *args):
        """Run one operation; an exception counts it as failed."""
        try:
            return fn(*args)
        except Exception as e:  # one failed operation must not end the run
            self.outcome(what, f"{type(e).__name__}: {e}")
            return None


# -- index outputs, read with pyarrow after the operation -------------------
def _dataset(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def index_counts(path: str) -> dict:
    """Counts the postings layer produced, from the index's own tables."""
    t = _dataset(f"{path}/postings").to_table(
        columns=["term_id", "shard", "bucket", "n", "doc_ids", "tfs"]
    )
    nbytes = pc.add(pc.binary_length(t["doc_ids"]), pc.binary_length(t["tfs"]))
    t = t.append_column("bytes", nbytes)
    emitted = pc.sum(t["n"]).as_py()
    per_bucket = t.group_by("bucket").aggregate([("bytes", "sum")])["bytes_sum"]
    bucket_bytes = np.asarray(per_bucket.to_pylist(), dtype=np.float64)
    return {
        "vocab_terms": _dataset(f"{path}/vocab").count_rows(),
        "runs": t.group_by(["term_id", "shard"]).aggregate([]).num_rows,
        "blocks": t.num_rows,
        "postings_emitted": emitted,
        "bits_per_posting": 8.0 * pc.sum(t["bytes"]).as_py() / emitted,
        "bucket_bytes_max_over_mean": float(bucket_bytes.max() / bucket_bytes.mean()),
    }


def stages_done(path: str) -> dict[str, float]:
    """Completion time of each build stage, from ``_stages/*.json``."""
    done = {}
    for stage in ("tf", "vocab", "doc_stats", "globals", "postings", "manifest"):
        with open(f"{path}/_stages/{stage}.json") as f:
            done[stage] = json.load(f)["completed_at"]
    return done


def build_stages(path: str, start: float) -> list[tuple]:
    """(stage, layer, start, end) of a build that started at ``start``.
    vocab, doc_stats and globals run concurrently, so they form one
    stats span ending at the last of them."""
    done = stages_done(path)
    stats_end = max(done["vocab"], done["doc_stats"], done["globals"])
    return [
        ("tf", "operators.tokens", start, done["tf"]),
        ("vocab+doc_stats+globals", "operators.corpus_stats", done["tf"], stats_end),
        ("postings", "operators.postings", stats_end, done["postings"]),
        ("manifest", "plans.build", done["postings"], done["manifest"]),
    ]


# -- operations -------------------------------------------------------------
def build(run: Run, path: str, docs, n_docs: int, n_tokens: int):
    shutil.rmtree(path, ignore_errors=True)
    with run.tracer.op("build_from_docs", "plans.build") as op_id:
        t0 = time.time()
        index = IndexBuilder(
            run.spark, path, docs_per_shard=docs_per_shard(n_docs)
        ).build_from_docs(docs, resume=False)
        t1 = time.time()
        stages = build_stages(path, t0)
        for name, layer, a, b in stages:
            run.tracer.add(name, layer, a, b)
    s = {name: b - a for name, _, a, b in stages}
    run.samples["build"].append({
        "op": op_id,
        "wall_s": t1 - t0,
        "tf_s": s["tf"],
        "tokens_per_s": n_tokens / s["tf"],
        "stats_s": s["vocab+doc_stats+globals"],
        "postings_s": s["postings"],
        "manifest_s": s["manifest"],
        "share_of_build": s["postings"] / (t1 - t0),
        "stage_coverage": (stages[-1][3] - t0) / (t1 - t0),
        **index_counts(path),
    })
    return index, t1 - t0


def load_vocab(run: Run, index) -> dict:
    with run.tracer.span("vocab.collect", "plans.build.PostingsIndex"):
        return {r["term"]: (r["term_id"], r["df"]) for r in index.vocab.collect()}


def check_stats(run: Run, what: str, index, oracle: Oracle) -> None:
    g = index.globs
    err = None
    if (g.n_docs, g.avgdl) != (oracle.n_docs, oracle.avgdl):
        err = f"N/avgdl engine {(g.n_docs, g.avgdl)} oracle {(oracle.n_docs, oracle.avgdl)}"
    run.outcome(what, err)


def check_postings(run: Run, what: str, path: str, oracle: Oracle) -> None:
    """The decoded postings of a fresh or compacted index, term by term
    in doc order, must equal the oracle's (term, doc, tf) triples, and
    the vocabulary must hold exactly the terms the oracle counts."""
    vocab = _dataset(f"{path}/vocab").to_table(columns=["term", "term_id"])
    term_id = dict(zip(vocab["term"].to_pylist(), vocab["term_id"].to_pylist()))
    t = _dataset(f"{path}/postings").to_table(
        columns=["term_id", "shard", "block_id", "n", "doc_ids", "tfs"]
    ).sort_by([("term_id", "ascending"), ("shard", "ascending"),
               ("block_id", "ascending")])
    n = t["n"].to_numpy()
    blocks = decode_blocks(t["doc_ids"].to_pylist(), t["tfs"].to_pylist(), n)
    got = np.stack([np.repeat(t["term_id"].to_numpy(), n),
                    np.concatenate([d for d, _ in blocks]),
                    np.concatenate([f for _, f in blocks])])
    want = oracle.triples(term_id)
    err = None
    if len(term_id) != int((oracle.df_all() > 0).sum()):
        err = f"vocabulary of {len(term_id)} terms, oracle {(oracle.df_all() > 0).sum()}"
    elif got.shape != want.shape or not np.array_equal(got, want):
        err = f"{got.shape[1]} postings differ from the oracle's {want.shape[1]}"
    run.outcome(what, err)


def query(run: Run, index, vmap: dict, q: Query, oracle: Oracle) -> float:
    """One closed-loop query; returns its latency in seconds."""
    tr = run.tracer
    with tr.op("query", "client") as op_id:
        t0 = time.perf_counter()
        with tr.span("resolve_query_terms", "operators.bm25"):
            resolved = resolve_query_terms(vmap, q.pos, q.neg)
        t1 = time.perf_counter()
        with tr.span("wand_topk", "operators.wand"):
            df = wand_topk(run.spark, index, resolved, index.globs, K)
        t2 = time.perf_counter()
        with tr.span("collect", "operators.wand"):
            rows = [(r["doc_id"], r["score"]) for r in df.collect()]
        t3 = time.perf_counter()
    run.outcome(f"query {q}", oracle.mismatch(resolved, rows, K))
    run.samples["query_split"].append({
        "op": op_id, "resolve_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
        "blocks_in_scope": oracle.blocks_in_scope(q.pos + q.neg),
    })
    return t3 - t0


def batch(run: Run, index, vmap: dict, qs: list[Query], oracle: Oracle) -> float:
    """One ``wand_topk_many`` call over ``qs``; returns its seconds."""
    tr = run.tracer
    with tr.op("batch", "client") as op_id:
        t0 = time.perf_counter()
        with tr.span("resolve_query_terms", "operators.bm25"):
            resolved = {f"{i:04d}": resolve_query_terms(vmap, q.pos, q.neg)
                        for i, q in enumerate(qs)}
        with tr.span("wand_topk_many", "operators.wand"):
            df = wand_topk_many(run.spark, index, resolved, index.globs, K)
        t1 = time.perf_counter()
        with tr.span("collect", "operators.wand"):
            out = df.collect()
        t2 = time.perf_counter()
    rows = defaultdict(list)
    for r in out:
        rows[r["query_id"]].append((r["doc_id"], r["score"]))
    for qid, res in resolved.items():
        run.outcome(f"batched query {qs[int(qid)]}", oracle.mismatch(res, rows[qid], K))
    run.samples["batch_split"].append({"op": op_id, "exec_s": t2 - t1})
    return t2 - t0


def warm_up(run: Run, index, vmap: dict, qs: list[Query], oracle: Oracle) -> None:
    """One query and one small batch, so that the first timed query and
    batch do not pay the session's one-time costs. Checked, not timed."""
    query(run, index, vmap, qs[0], oracle)
    batch(run, index, vmap, qs[:5], oracle)
    run.samples.pop("query_split")
    run.samples.pop("batch_split")


def warm_up_build(run: Run, src: ZipfSource) -> None:
    """A small build before the measured one, so that it does not pay
    the session's one-time costs (Python worker start-up, code
    generation, JIT compilation)."""
    docs = src.docs(WARMUP_DOCS)
    docs.to_parquet(f"{run.work}/warmup.parquet", np.arange(docs.n))
    with run.tracer.op("build_from_docs(warm-up)", "plans.build"):
        IndexBuilder(run.spark, f"{run.work}/warmup",
                     docs_per_shard=docs_per_shard(docs.n)).build_from_docs(
            run.spark.read.parquet(f"{run.work}/warmup.parquet"), resume=False)


def resume_noop(run: Run, path: str, docs, n_docs: int) -> None:
    """A ``resume=True`` re-call on a finished index: every stage is skipped."""
    with run.tracer.op("build_from_docs(resume)", "plans.build"):
        t0 = time.perf_counter()
        IndexBuilder(run.spark, path, docs_per_shard=docs_per_shard(n_docs)
                     ).build_from_docs(docs, resume=True)
        run.samples["resume_noop_s"].append(time.perf_counter() - t0)


# -- workloads --------------------------------------------------------------
def serve(run: Run, session_s: float):
    src = ZipfSource(run.rng, VOCAB)
    corpus = src.docs(SERVE_DOCS)
    ids = np.arange(corpus.n, dtype=np.int64)
    text_bytes = corpus.to_parquet(f"{run.work}/docs.parquet", ids)
    oracle = Oracle(src.words, docs_per_shard(corpus.n))
    oracle.add(corpus, ids)
    pool = queries(src.words, oracle.df_all(), SERVE_QUERIES + BATCH)
    docs = run.spark.read.parquet(f"{run.work}/docs.parquet")
    path = f"{run.work}/serve"

    t0 = time.perf_counter()
    warm_up_build(run, src)
    index, build_s = build(run, path, docs, corpus.n, corpus.tokens.size)
    with run.tracer.op("cache", "plans.build.PostingsIndex"):
        tc = time.perf_counter()
        index.cache()
        cache_s = time.perf_counter() - tc
    vmap = load_vocab(run, index)
    warm_up(run, index, vmap, pool, oracle)
    setup = time.perf_counter() - t0
    check_stats(run, "build statistics", index, oracle)
    check_postings(run, "build postings", path, oracle)
    resume_noop(run, path, docs, corpus.n)

    lat, batch_s, n_batched = [], 0.0, 0
    # every batch is the same, so their number does not change the mix
    singles, qs = pool[:SERVE_QUERIES], pool[SERVE_QUERIES:]
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < SINGLE_SHARE * run.seconds:
        s = run.guarded("query", query, run, index, vmap, singles[i % len(singles)], oracle)
        if s is not None:
            lat.append(s)
        i += 1
    while time.perf_counter() - start < run.seconds or not n_batched:
        s = run.guarded("batch", batch, run, index, vmap, qs, oracle)
        if s is not None:
            batch_s, n_batched = batch_s + s, n_batched + len(qs)

    e2e = {
        "setup_s": session_s + setup,
        "index_docs_per_s": corpus.n / build_s,
        "index_bytes_per_input_byte": dir_bytes(path) / text_bytes,
        "query_p50_s": median(lat),
        "batch_qps": n_batched / batch_s,
    }
    report = dict(e2e, build_docs_per_s=e2e["index_docs_per_s"],
                  query_p90_s=float(np.percentile(lat, 90)), query_samples=len(lat),
                  batched_queries=n_batched, index_cache_s=cache_s)
    return e2e, report


def churn(run: Run, session_s: float):
    src = ZipfSource(run.rng, VOCAB)
    base = src.docs(CHURN_DOCS)
    epochs = [src.docs(CHURN_APPEND) for _ in range(CHURN_EPOCHS)]
    # tombstones by position: base rows and rows of the epoch just
    # appended, drawn up front so the probes can avoid terms that
    # compaction would drop
    dead_base = [run.rng.choice(base.n, CHURN_DELETE_OLD, replace=False)
                 for _ in range(CHURN_EPOCHS)]
    dead_new = [run.rng.choice(CHURN_APPEND, CHURN_DELETE_NEW, replace=False)
                for _ in range(CHURN_EPOCHS)]
    oracle = Oracle(src.words, docs_per_shard(base.n))
    ids = np.arange(base.n, dtype=np.int64)
    oracle.add(base, ids)
    survivors = np.ones(base.n, bool)
    survivors[np.concatenate(dead_base)] = False
    probes = queries(src.words, oracle.df_all(survivors), CHURN_BATCH)

    base_bytes = base.to_parquet(f"{run.work}/base.parquet", ids)
    docs = run.spark.read.parquet(f"{run.work}/base.parquet")
    path = f"{run.work}/churn"
    t0 = time.perf_counter()
    index, build_s = build(run, path, docs, base.n, base.tokens.size)
    vmap = load_vocab(run, index)
    warm_up(run, index, vmap, probes, oracle)
    setup = time.perf_counter() - t0
    check_stats(run, "build statistics", index, oracle)
    check_postings(run, "build postings", path, oracle)
    resume_noop(run, path, docs, base.n)

    doc_bytes = [base_bytes]
    lat, batch_s, append_s, delete_s = [], [], [], []
    appended = 0
    rounds = max(1, round(run.seconds / ROUND_SECONDS))

    def probe_phase() -> None:
        """A fixed number of rounds, so that every run has the same mix
        of cold (first after a write) and warm probes."""
        for _ in range(rounds):
            for q in probes[:CHURN_PROBES]:
                s = run.guarded("probe", query, run, index, vmap, q, oracle)
                if s is not None:
                    lat.append(s)
            s = run.guarded("probe batch", batch, run, index, vmap, probes, oracle)
            if s is not None:
                batch_s.append(s)

    for e, new in enumerate(epochs):
        with run.tracer.op("append_documents", "plans.build.append"):
            t0 = time.perf_counter()
            lo = index.next_doc_id()
            t_ids = time.perf_counter() - t0
            new_ids = lo + np.arange(new.n, dtype=np.int64)
            doc_bytes.append(new.to_parquet(f"{run.work}/epoch{e}.parquet", new_ids))
            t0 = time.perf_counter()
            index = index.append_documents(
                run.spark.read.parquet(f"{run.work}/epoch{e}.parquet"))
            append_s.append(t_ids + time.perf_counter() - t0)
        appended += new.n
        oracle.add(new, new_ids)
        check_stats(run, f"epoch {e} append statistics", index, oracle)
        dead = np.concatenate([dead_base[e], new_ids[dead_new[e]]])
        with run.tracer.op("delete_documents", "plans.build.append"):
            t0 = time.perf_counter()
            index.delete_documents(dead.tolist())
            delete_s.append(time.perf_counter() - t0)
        oracle.delete(dead)
        vmap = load_vocab(run, index)
        probe_phase()

    with run.tracer.op("compact", "plans.build.compact"):
        t0 = time.perf_counter()
        index = index.compact()
        compact_s = time.perf_counter() - t0
    oracle.compact()
    check_stats(run, "compaction statistics", index, oracle)
    check_postings(run, "compaction postings", path, oracle)
    compacted = oracle.n_docs
    vmap = load_vocab(run, index)
    probe_phase()

    e2e = {
        "setup_s": session_s + setup,
        "index_docs_per_s": (appended + compacted) / (sum(append_s) + compact_s),
        "index_bytes_per_input_byte": dir_bytes(path) / sum(doc_bytes),
        "query_p50_s": median(lat),
        "batch_qps": len(probes) * len(batch_s) / sum(batch_s),
    }
    report = dict(e2e, build_docs_per_s=base.n / build_s,
                  append_docs_per_s=appended / sum(append_s),
                  append_epoch_s=median(append_s), delete_s=median(delete_s),
                  compact_s=compact_s, churn_query_p50_s=e2e["query_p50_s"],
                  query_samples=len(lat), tombstones=int((~oracle.live).sum()),
                  compact_postings_stage_s=_postings_stage_s(path))
    return e2e, report


def _postings_stage_s(path: str) -> float:
    """Postings stage of the build that wrote ``path`` (for a compacted
    index, of the compaction), from its stage markers."""
    done = stages_done(path)
    return done["postings"] - max(done["vocab"], done["doc_stats"], done["globals"])


WORKLOADS = {"serve": serve, "churn": churn}


def layer_metrics(run: Run, session_s: float) -> dict:
    """Per-layer metrics of a traced run: stage times and counts from
    the workload's base builds, query splits, and job/task counts."""
    counts = run.tracer.job_counts()
    builds = run.samples["build"]
    qs, bs = run.samples["query_split"], run.samples["batch_split"]

    def b(key):
        return median([x[key] for x in builds])

    return {
        "session.start_s": session_s,
        "tokens.tf_stage_s": b("tf_s"),
        "tokens.tokens_per_s": b("tokens_per_s"),
        "corpus_stats.stats_stage_s": b("stats_s"),
        "corpus_stats.vocab_terms": b("vocab_terms"),
        "postings.stage_s": b("postings_s"),
        "postings.share_of_build": b("share_of_build"),
        "postings.runs": b("runs"),
        "postings.blocks": b("blocks"),
        "postings.postings_emitted": b("postings_emitted"),
        "postings.bits_per_posting": b("bits_per_posting"),
        "postings.bucket_bytes_max_over_mean": b("bucket_bytes_max_over_mean"),
        "build.manifest_s": b("manifest_s"),
        "build.stage_coverage": b("stage_coverage"),
        "build.jobs": median([counts[x["op"]]["jobs"] for x in builds]),
        "build.tasks": median([counts[x["op"]]["tasks"] for x in builds]),
        "build.failed_tasks": sum(counts[x["op"]]["failed_tasks"] for x in builds),
        "build.resume_noop_s": median(run.samples["resume_noop_s"]),
        "bm25.resolve_s": median([x["resolve_s"] for x in qs]),
        "wand.plan_s": median([x["plan_s"] for x in qs]),
        "wand.exec_s": median([x["exec_s"] for x in qs]),
        "wand.jobs_per_query": median([counts[x["op"]]["jobs"] for x in qs]),
        "wand.tasks_per_query": median([counts[x["op"]]["tasks"] for x in qs]),
        "wand.blocks_in_scope": median([x["blocks_in_scope"] for x in qs]),
        "wand.batch_exec_s": median([x["exec_s"] for x in bs]),
        "wand.batch_tasks": median([counts[x["op"]]["tasks"] for x in bs]),
    }
