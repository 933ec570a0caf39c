"""U2 tombstone deletes: queries skip deleted docs immediately;
conservation invariant mirrors the reference suite
(test_top2vec.py:183-205)."""

from __future__ import annotations

import re

import pytest

from top2vec_spark.operators.bm25 import resolve_query_terms
from top2vec_spark.operators.tokens import assign_doc_ids
from top2vec_spark.operators.wand import wand_topk
from top2vec_spark.plans.build import IndexBuilder, PostingsIndex
from top2vec_spark.sources.pages import generate_pages_pdf


def test_tombstone_delete(spark, tmp_path):
    pdf = generate_pages_pdf(200, seed=51)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    path = str(tmp_path / "didx")
    idx = IndexBuilder(spark, path, docs_per_shard=64, n_buckets=8).build_from_docs(
        docs, resume=False
    )
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    q = resolve_query_terms(vmap, ["wa", "wb"], [])
    before = wand_topk(spark, idx, q, idx.globs, 10).collect()
    victims = [r["doc_id"] for r in before[:3]]

    idx.delete_documents(victims)
    after = wand_topk(spark, idx, q, idx.globs, 10).collect()
    assert not (set(victims) & {r["doc_id"] for r in after})
    assert len(after) == 10
    # survivors keep their relative order and scores
    surv_before = [(r["doc_id"], r["score"]) for r in before if r["doc_id"] not in victims]
    assert [(r["doc_id"], r["score"]) for r in after[: len(surv_before)]] == surv_before

    # idempotent + persisted across load
    idx.delete_documents(victims)
    loaded = PostingsIndex.load(spark, path)
    assert set(victims) <= loaded.tombstones
    again = wand_topk(spark, loaded, q, loaded.globs, 10).collect()
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in after]


def test_api_delete_with_index(spark, tmp_path):
    from top2vec_spark import Top2VecSpark

    pdf = generate_pages_pdf(150, seed=52)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]]))
    eng = Top2VecSpark(spark, docs)
    eng.build_index(str(tmp_path / "aidx"))
    top = eng.search_documents_by_keywords(["wa"], 3, return_documents=False).collect()
    gone = top[0]["doc_id"]
    eng.delete_documents([gone])
    res = eng.search_documents_by_keywords(["wa"], 3, return_documents=False).collect()
    assert gone not in {r["doc_id"] for r in res}
    assert eng.docs.filter(f"doc_id = {gone}").count() == 0
    with pytest.raises(ValueError):
        eng.delete_documents([10**9])


def test_tombstone_sidecar_scales(spark, tmp_path):
    """Tombstones are a per-shard parquet sidecar, NOT task-closure
    freight: with 10^5 tombstoned ids the kernel closure carries only
    query-side exclusions, and results still skip every deleted doc."""
    import os

    from top2vec_spark.operators import wand as wand_mod

    pdf = generate_pages_pdf(200, seed=53)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    path = str(tmp_path / "sidx")
    idx = IndexBuilder(spark, path, docs_per_shard=64, n_buckets=8).build_from_docs(
        docs, resume=False
    )
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    q = resolve_query_terms(vmap, ["wa", "wb"], [])
    before = wand_topk(spark, idx, q, idx.globs, 10).collect()
    victims = [r["doc_id"] for r in before[:3]]

    # mass delete: the 3 real victims + 10^5 ids beyond the corpus
    idx.delete_documents(victims + list(range(10**6, 10**6 + 100_000)))

    # layout: shard-partitioned dirs, so kernels prune to their own
    shard_dirs = [
        d for d in os.listdir(f"{path}/tombstones") if d.startswith("shard=")
    ]
    assert len(shard_dirs) > 1

    # the closure-side exclusion set stays tiny: spy on the kernel maker
    captured = {}
    orig = wand_mod.make_shard_kernel

    def spy(qinfo, k, k1, b, avgdl, exclude, *a, **kw):
        captured["exclude"] = exclude
        return orig(qinfo, k, k1, b, avgdl, exclude, *a, **kw)

    wand_mod.make_shard_kernel = spy
    try:
        after = wand_topk(spark, idx, q, idx.globs, 10).collect()
    finally:
        wand_mod.make_shard_kernel = orig
    assert captured["exclude"] == frozenset()  # tombstones NOT in closure
    assert not (set(victims) & {r["doc_id"] for r in after})
    surv = [(r["doc_id"], r["score"]) for r in before if r["doc_id"] not in victims]
    assert [(r["doc_id"], r["score"]) for r in after[: len(surv)]] == surv


def test_flat_tombstone_layout_migrates(spark, tmp_path):
    """An index persisted BEFORE the shard-sidecar change (flat
    part-*.parquet under tombstones/) migrates on load: deleted docs
    stay deleted and further deletes don't break partition discovery."""
    pdf = generate_pages_pdf(150, seed=54)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    path = str(tmp_path / "flidx")
    idx = IndexBuilder(spark, path, docs_per_shard=64, n_buckets=8).build_from_docs(
        docs, resume=False
    )
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    q = resolve_query_terms(vmap, ["wa", "wb"], [])
    before = wand_topk(spark, idx, q, idx.globs, 10).collect()
    victims = [r["doc_id"] for r in before[:2]]

    # simulate the pre-sidecar layout: flat parquet at the dir root
    spark.createDataFrame([(int(v),) for v in victims], "doc_id long").write.mode(
        "overwrite"
    ).parquet(f"{path}/tombstones")

    loaded = PostingsIndex.load(spark, path)  # migrates
    import os

    assert any(
        d.startswith("shard=") for d in os.listdir(f"{path}/tombstones")
    )
    after = wand_topk(spark, loaded, q, loaded.globs, 10).collect()
    assert not (set(victims) & {r["doc_id"] for r in after})
    # further deletes append cleanly to the migrated layout
    more = after[0]["doc_id"]
    loaded.delete_documents([more])
    assert set(victims) | {more} <= loaded.tombstones
    final = wand_topk(spark, loaded, q, loaded.globs, 10).collect()
    assert more not in {r["doc_id"] for r in final}


def test_wand_topk_many_honors_tombstones(spark, tmp_path):
    """Batched serving must skip deleted docs exactly like the single-
    query kernel (both read the same per-shard tombstone sidecar)."""
    from top2vec_spark.operators.wand import wand_topk_many

    pdf = generate_pages_pdf(200, seed=53)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    idx = IndexBuilder(
        spark, str(tmp_path / "midx"), docs_per_shard=64, n_buckets=8
    ).build_from_docs(docs, resume=False)
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    batch = {
        "a": resolve_query_terms(vmap, ["wa", "wb"], []),
        "b": resolve_query_terms(vmap, ["wc"], []),
    }
    before = wand_topk_many(spark, idx, batch, idx.globs, 10).collect()
    victims = sorted({r["doc_id"] for r in before})[:4]
    idx.delete_documents(victims)

    many = wand_topk_many(spark, idx, batch, idx.globs, 10).collect()
    assert not (set(victims) & {r["doc_id"] for r in many})
    by_q = {}
    for r in many:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in batch.items():
        single = [
            (r["doc_id"], r["score"])
            for r in wand_topk(spark, idx, q, idx.globs, 10).collect()
        ]
        assert by_q[qid] == single


def test_flat_tombstone_migration_crash_recovery(spark, tmp_path):
    """A crash between the aside-rename and the swap must not lose
    tombstones: on the next load the migration finds the .__old__ dir,
    restores it, and completes (plans/build.py _migrate_flat_tombstones
    crash-safe swap)."""
    import os
    import shutil

    from top2vec_spark.plans.build import IndexBuilder

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{chr(97 + i % 26)}") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    index = IndexBuilder(spark, path, docs_per_shard=16).build_from_docs(docs)
    # fabricate the legacy FLAT layout (pre-sidecar): part files at root
    tpath = index.tombstones_path
    spark.createDataFrame([(3,), (17,)], "doc_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tpath)
    assert any(f.endswith(".parquet") for f in os.listdir(tpath))
    # simulate a crash mid-swap: live dir renamed aside, new dir lost
    os.rename(tpath, f"{tpath}.__old__")
    assert not os.path.isdir(tpath)
    # next mutation triggers migration -> recovery -> partitioned layout
    index.delete_documents([5])
    assert os.path.isdir(tpath)
    assert any(d.startswith("shard=") for d in os.listdir(tpath))
    gone = {3, 17, 5}
    from top2vec_spark.operators.bm25 import resolve_query_terms

    vmap = {r["term"]: (r["term_id"], r["df"]) for r in index.vocab.collect()}
    from top2vec_spark.operators.wand import wand_topk

    q = resolve_query_terms(vmap, ["alpha"], [])
    hits = {
        r["doc_id"]
        for r in wand_topk(spark, index, q, index.globs, 40).collect()
    }
    assert hits.isdisjoint(gone)
    assert len(hits) == 40 - len(gone)


def test_stale_old_dir_cleaned_after_completed_migration(spark, tmp_path):
    """A crash AFTER the swap but BEFORE the old-dir delete leaves a
    stale tombstones.__old__ next to the live partitioned dir. The next
    migration check must delete it — otherwise a later loss of the live
    dir would let the crash-recovery path restore the stale
    pre-migration set, resurrecting documents deleted since
    (round-4 advice, plans/build.py _migrate_flat_tombstones)."""
    import os

    from top2vec_spark.plans.build import IndexBuilder

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{chr(97 + i % 26)}") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    index = IndexBuilder(spark, path, docs_per_shard=16).build_from_docs(docs)
    index.delete_documents([3])  # live partitioned tombstone dir exists
    tpath = index.tombstones_path
    assert any(d.startswith("shard=") for d in os.listdir(tpath))
    # fabricate the post-swap crash debris: a stale __old__ with a
    # DIFFERENT (pre-migration) tombstone set, plus a half-written tmp
    os.makedirs(f"{tpath}.__old__", exist_ok=True)
    with open(f"{tpath}.__old__/part-stale.parquet", "w") as f:
        f.write("stale")
    os.makedirs(f"{tpath}.__migrating__", exist_ok=True)
    index.delete_documents([7])  # any mutation runs the migration check
    assert not os.path.isdir(f"{tpath}.__old__")
    assert not os.path.isdir(f"{tpath}.__migrating__")
    # and the live set still holds both deletes
    assert {3, 7} <= set(index.tombstones)


def test_num_docs_bound_after_delete_save_load(spark, tmp_path):
    """api deletes filter ``eng.docs`` and save() persists that filtered
    frame, so after save -> load the live count must not subtract the
    tombstones a second time: num_docs == live is accepted, live + 1 is
    rejected with the live count in the message."""
    from top2vec_spark import Top2VecSpark

    words = ["beta", "gamma", "delta", "omega"]
    docs = spark.createDataFrame(
        [(i, f"alpha {words[i % 4]} {words[(i // 4) % 4]}") for i in range(40)],
        "doc_id long, text string",
    )
    eng = Top2VecSpark(spark, docs, min_count=0, ascii_fast_path=True)
    eng.build_index(str(tmp_path / "idx"), resume=False, docs_per_shard=16)
    eng._validate_num_docs(40)
    eng.delete_documents([3, 10, 21, 38])
    # the delete itself updates the live count: the bound costs no job
    sc = spark.sparkContext
    sc.setJobGroup("num_docs_bound", "live count after an api delete")
    try:
        eng._validate_num_docs(36)
        assert list(sc.statusTracker().getJobIdsForGroup("num_docs_bound")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    eng.save(str(tmp_path / "model"))
    for e in (eng, Top2VecSpark.load(spark, str(tmp_path / "model"))):
        hits = e.search_documents_by_keywords(
            ["alpha"], 36, return_documents=False
        ).collect()
        assert len(hits) == 36
        with pytest.raises(
            ValueError,
            match=r"num_docs cannot exceed the number of documents: 36\.",
        ):
            e.search_documents_by_keywords(["alpha"], 37)


# -- every non-WAND match-set path drops tombstones through one anti-join ---

_Q = 'alpha "beta gamma"'
_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa"]


_MATCH_SET_CALLS = {
    "facet_counts": lambda e, c: e.facet_counts(_Q, "source"),
    "histogram_counts": lambda e, c: e.histogram_counts(_Q, "n_chars", 16),
    "stats_agg": lambda e, c: e.stats_agg(_Q, "n_chars"),
    "facet_stats": lambda e, c: e.facet_stats(_Q, "source", "n_chars"),
    "collapse_search": lambda e, c: e.collapse_search(
        _Q, "source", 3, return_documents=False
    ),
    "range_agg": lambda e, c: e.range_agg(
        _Q, "n_chars", [(None, 40), (40, 60), (60, None)]
    ),
    "significant_terms": lambda e, c: e.significant_terms(_Q, 5),
    "count_matches": lambda e, c: e.count_matches(_Q),
    "search_sort": lambda e, c: e.search(
        _Q, 6, return_documents=False, sort=[("n_chars", "desc")]
    ),
    "search_after": lambda e, c: e.search(
        _Q, 6, return_documents=False, search_after=c
    ),
    "rescore": lambda e, c: e.rescore(
        _Q, '"gamma delta"', 5, window_size=12, return_documents=False
    ),
}
_POSITIONAL_CALLS = {
    "phrase": lambda e, k: e.search_documents_by_phrase(
        ["beta", "gamma"], k, return_documents=False
    ),
    "keywords_all": lambda e, k: e.search_documents_by_keywords_all(
        ["alpha", "beta"], k, return_documents=False
    ),
    "proximity": lambda e, k: e.search_documents_by_proximity(
        ["alpha", "omega"], k, return_documents=False
    ),
    "snippets": lambda e, k: e.get_search_snippets(["alpha", "omega"], 4),
}


def _norm(out):
    """Comparable form of a call's result: rows as tuples, floats rounded
    past partition-order summation noise."""
    if isinstance(out, int):
        return out
    return [
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in out.collect()
    ]


def _tombstone_engine(spark, tmp_path_factory):
    """An indexed engine over 120 seeded docs with metadata columns."""
    import random

    from top2vec_spark import Top2VecSpark

    rng = random.Random(11)
    rows = []
    for i in range(120):
        text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 12)))
        source = None if i % 11 == 0 else ("web", "news", "blog")[i % 3]
        rows.append((i, text, source, None if i % 13 == 0 else len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars int"
    )
    eng = Top2VecSpark(spark, docs, min_count=0, ascii_fast_path=True)
    eng.build_index(
        str(tmp_path_factory.mktemp("tombstoned")),
        resume=False,
        docs_per_shard=32,
        n_buckets=4,
        store_positions=True,
    )
    return eng


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """(engine, expected, victims, cursor). Every call in the tables
    above first runs on the undeleted engine with the victims removed by
    hand — from its match set, or from an over-fetched positional
    ranking — and then the victims are tombstoned on the RAW index,
    which leaves ``eng.docs`` unfiltered, so only the query-time
    exclusion can hide them. Scores agree because tombstones keep the
    corpus statistics stale."""
    from pyspark.sql import functions as F

    eng = _tombstone_engine(spark, tmp_path_factory)
    top = lambda df: [r["doc_id"] for r in df.collect()][:3]  # noqa: E731
    victims = sorted(
        set(top(eng.search(_Q, 3, return_documents=False)))
        | set(top(_POSITIONAL_CALLS["phrase"](eng, 3)))
        | set(top(_POSITIONAL_CALLS["proximity"](eng, 3)))
    )

    raw = eng._query_match_scores
    eng._query_match_scores = lambda query, **kw: raw(query, **kw).filter(
        ~F.col("doc_id").isin(victims)
    )
    last = eng.search(_Q, 4, return_documents=False).collect()[-1]
    cursor = (last["score"], last["doc_id"])
    expected = {
        name: _norm(call(eng, cursor))
        for name, call in _MATCH_SET_CALLS.items()
    }
    del eng._query_match_scores
    for name, call in _POSITIONAL_CALLS.items():
        rows = [
            r for r in _norm(call(eng, 5 + len(victims))) if r[0] not in victims
        ]
        # snippets: one unranked row per matching doc
        expected[name] = sorted(rows) if name == "snippets" else rows[:5]

    eng._index.delete_documents(victims)
    # a raw-index delete bypasses the engine, so its live count is
    # recounted once: run that count here, outside the plans below
    eng._validate_num_docs(1)
    return eng, expected, victims, cursor


@pytest.fixture(scope="module")
def api_tombstoned(spark, tmp_path_factory, tombstoned):
    """The same engine and victims deleted through the public
    ``delete_documents``, which also drops them from ``eng.docs``."""
    _, expected, victims, cursor = tombstoned
    eng = _tombstone_engine(spark, tmp_path_factory)
    eng.delete_documents(victims)
    return eng, expected, victims, cursor


def _executed_plans(spark, fn):
    """Run ``fn`` and return (its result, the physical plan text of every
    SQL execution it started — collects inside the call included). Reads
    the SQL status store by execution id: the store evicts its oldest
    entries once full, so positions are not stable across a call."""
    jss = spark._jsparkSession
    store = jss.sharedState().statusStore()
    bus = jss.sparkContext().listenerBus()

    def recent(n=200):
        bus.waitUntilEmpty()
        total = store.executionsCount()
        execs = store.executionsList(max(total - n, 0), n)
        return [execs.apply(i) for i in range(execs.size())]

    before = max((e.executionId() for e in recent(1)), default=-1)
    out = _norm(fn())
    plans = [
        e.physicalPlanDescription()
        for e in recent()
        if e.executionId() > before
    ]
    return out, "\n".join(plans)


def _doc_id_literals(plan: str) -> set[int]:
    """Every id an In / InSet predicate on doc_id carries in ``plan``."""
    lists = re.findall(r"doc_id#\d+L? IN \(([^)]*)\)", plan)
    lists += re.findall(r"doc_id#\d+L? INSET ([\d, ]+)", plan)
    lists += re.findall(r"In\(doc_id, \[([^\]]*)\]\)", plan)
    return {int(x) for lst in lists for x in re.findall(r"\d+", lst)}


@pytest.mark.parametrize("deleted_via", ["raw_index", "api"])
@pytest.mark.parametrize(
    "name", sorted(_MATCH_SET_CALLS) + sorted(_POSITIONAL_CALLS)
)
def test_tombstones_leave_every_match_set_path(
    spark, request, name, deleted_via
):
    """Each query-language aggregation / search / rescore path and each
    positional method over a tombstoned index equals the same call on
    the undeleted engine with the victims removed by hand, and the
    deleted ids leave through a broadcast LeftAnti join, never as an
    In / InSet literal list on doc_id."""
    fixture = "tombstoned" if deleted_via == "raw_index" else "api_tombstoned"
    eng, expected, victims, cursor = request.getfixturevalue(fixture)
    if name in _MATCH_SET_CALLS:
        got, plans = _executed_plans(
            spark, lambda: _MATCH_SET_CALLS[name](eng, cursor)
        )
    else:
        got, plans = _executed_plans(
            spark, lambda: _POSITIONAL_CALLS[name](eng, 5)
        )
        if name == "snippets":
            got = sorted(got)
    assert got, "the comparison must not be vacuous"
    assert got == expected[name]
    assert "BroadcastHashJoin LeftAnti" in plans
    assert not _doc_id_literals(plans) & set(victims)


def test_50k_tombstones_leave_through_a_broadcast_anti_join(spark, tmp_path):
    """With 5 * 10^4 tombstones the exclusion is still one
    BroadcastHashJoin LeftAnti and no doc_id list enters the plan. The
    real victims leave the facet counts; the ids beyond the corpus
    change nothing."""
    from top2vec_spark import Top2VecSpark

    docs = spark.createDataFrame(
        [(i, f"alpha {_WORDS[i % 7]}", ("web", "news")[i % 2]) for i in range(64)],
        "doc_id long, text string, source string",
    )
    eng = Top2VecSpark(spark, docs, min_count=0, ascii_fast_path=True)
    # one doc-shard spans 2^17 ids, so the 50k-id table is a few files
    eng.build_index(str(tmp_path / "idx"), resume=False, docs_per_shard=1 << 17)
    victims = [0, 1, 2, 5, 9]
    eng._index.delete_documents(victims + list(range(10**5, 10**5 + 50_000)))
    assert len(eng._index.tombstones) == 50_005
    got, plans = _executed_plans(
        spark, lambda: eng.facet_counts("alpha", "source")
    )
    assert got == [("web", 30), ("news", 29)]
    assert "BroadcastHashJoin LeftAnti" in plans
    assert not _doc_id_literals(plans) & set(victims)
