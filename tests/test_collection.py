"""Collection execution (exec.h:64-177): per-source scoring + app-side merge."""

import pytest

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators.collection import exec_query_collection
from trinity_spark.operators.indexer import build_index
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query
from trinity_spark.sources.store import SegmentStore

N_A, N_B = 500, 400


@pytest.fixture()
def two_stores(spark, tmp_path):
    corpora = [gen_transcripts(N_A), gen_transcripts(N_B, seed=77)]
    stores = []
    for i, c in enumerate(corpora):
        st = SegmentStore(str(tmp_path / f"idx{i}"))
        build_index(spark, spark.createDataFrame(c), st, rows_per_segment=len(c))
        stores.append(st)
    return stores, corpora


def test_collection_merges_per_source_topk(spark, two_stores):
    stores, corpora = two_stores
    k = 10
    for q in ["error", "error AND timeout", "retry OR backoff", '"rate limit"']:
        node = parse_query(q)
        # expectation: each source scored with ITS OWN stats (the reference's
        # per-source exec), then merged by (score desc, source, doc_id)
        want = []
        for i, c in enumerate(corpora):
            oracle = OracleIndex.build(docs_in_stable_order(c))
            want += [(i, d, s) for d, s in oracle.topk(node, k=k)]
        want.sort(key=lambda r: (-r[2], r[0], r[1]))
        want = want[:k]

        got = [
            (r["source"], r["doc_id"], r["score"])
            for r in exec_query_collection(spark, stores, node, k=k).collect()
        ]
        assert [(s, d) for s, d, _ in got] == [(s, d) for s, d, _ in want], q
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_collection_doc_ids_are_per_source(spark, two_stores):
    stores, _ = two_stores
    rows = exec_query_collection(spark, stores, "error", k=20).collect()
    assert {r["source"] for r in rows} == {0, 1}  # both sources contribute
    # same doc_id may legally appear under different sources (separate spaces)
    assert len({(r["source"], r["doc_id"]) for r in rows}) == len(rows)


def test_collection_rejects_empty(spark):
    with pytest.raises(ValueError):
        exec_query_collection(spark, [], "error")


def test_collection_documents_only(spark, two_stores):
    stores, corpora = two_stores
    node = parse_query("error AND timeout")
    want = set()
    for i, c in enumerate(corpora):
        oracle = OracleIndex.build(docs_in_stable_order(c))
        want |= {(i, d) for d, _ in oracle.topk(node, k=10**6)}
    rows = exec_query_collection(
        spark, stores, node, documents_only=True
    ).collect()
    assert {(r["source"], r["doc_id"]) for r in rows} == want
    assert rows and set(rows[0].asDict()) == {"source", "doc_id"}  # no score col


def test_collection_plan_time_actions_batched(spark, tmp_path):
    """Plan-time stats for the WHOLE collection ride O(1) driver actions
    (one tagged term_dict union; n_docs off the manifests) — not 1-2 tiny
    jobs per store.  8 stores must plan in <= 3 jobs."""
    stores = []
    for i in range(8):
        st = SegmentStore(str(tmp_path / f"c{i}"))
        build_index(
            spark, spark.createDataFrame(gen_transcripts(300, seed=i)), st,
            rows_per_segment=300,
        )
        stores.append(st)
    sc = spark.sparkContext
    sc.setJobGroup("collection-plan", "plan-time actions")
    try:
        df = exec_query_collection(spark, stores, "error AND timeout", k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("collection-plan")
    assert len(jobs) <= 3, f"plan-time ran {len(jobs)} jobs: {sorted(jobs)}"
    rows = df.collect()
    assert rows and all(
        rows[i]["score"] >= rows[i + 1]["score"] for i in range(len(rows) - 1)
    )


def test_batched_stats_uses_warmed_term_dict_caches(spark, tmp_path):
    """Stores whose driver-side term-dict cache is already warm (stats_for's
    _df_cache) answer the batched lookup with ZERO Spark jobs — repeat
    collection queries over the same SegmentIndex list must not pay the
    tagged union job the cold path needs."""
    from trinity_spark.operators.collection import _batched_stats
    from trinity_spark.operators.indexer import SegmentIndex

    terms = ["error", "timeout"]
    indexes = []
    for i in range(3):
        st = SegmentStore(str(tmp_path / f"w{i}"))
        build_index(
            spark, spark.createDataFrame(gen_transcripts(200, seed=i)), st,
            rows_per_segment=200,
        )
        idx = SegmentIndex(spark, st)
        idx.stats_for(terms)  # warms _df_cache (dict: small dictionary)
        assert isinstance(idx._df_cache, dict)
        indexes.append(idx)
    sc = spark.sparkContext
    sc.setJobGroup("warm-batched-stats", "must be driver-side only")
    try:
        stats = _batched_stats(indexes, terms)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("warm-batched-stats")
    assert len(jobs) == 0, f"warm batched stats ran {len(jobs)} jobs"
    for idx, got in zip(indexes, stats):
        want = idx.stats_for(terms)
        assert got.n_docs == want.n_docs
        assert {t: got.df(t) for t in terms} == {t: want.df(t) for t in terms}


def test_collection_par_matches_serial(spark, tmp_path, monkeypatch, jobs_in_window):
    """exec_query_collection_par (exec_query_par, exec.h:87-177): identical
    rows and order to the serial union path over an 8-store collection, and
    exec_query_collection auto-routes to it at PAR_MIN_STORES."""
    from trinity_spark.operators import collection as coll

    stores = []
    for i in range(8):
        c = gen_transcripts(150, seed=100 + i)
        st = SegmentStore(str(tmp_path / f"par{i}"))
        build_index(spark, spark.createDataFrame(c), st, rows_per_segment=150)
        stores.append(st)
    q = "error OR timeout"
    # serial reference: force the union path even at 8 stores
    monkeypatch.setattr(coll, "PAR_MIN_STORES", 99)
    want = [
        (r["source"], r["doc_id"], r["score"])
        for r in exec_query_collection(spark, stores, q, k=10).collect()
    ]
    par, grouped, started = jobs_in_window(
        "collection-par",
        lambda: coll.exec_query_collection_par(spark, stores, q, k=10),
    )
    # the per-store pool threads run under the caller's job group
    assert started and grouped == started
    got = [(r["source"], r["doc_id"], r["score"]) for r in par.collect()]
    assert got == want and len(got) == 10
    # the dispatcher takes the par path only when a per-store gate would
    # open (driver-side pass-1 actions are what serialize); wiring checked
    # by forcing the gate probe, rows must be unchanged
    monkeypatch.setattr(coll, "PAR_MIN_STORES", 8)
    monkeypatch.setattr(coll, "_any_gate_opens", lambda *a, **kw: True)
    auto = [
        (r["source"], r["doc_id"], r["score"])
        for r in exec_query_collection(spark, stores, q, k=10).collect()
    ]
    assert auto == want
    # gate-closed queries stay on the lazy union (one action, overlapped
    # stages — measured faster than pooling)
    monkeypatch.setattr(coll, "_any_gate_opens", lambda *a, **kw: False)
    auto2 = [
        (r["source"], r["doc_id"], r["score"])
        for r in exec_query_collection(spark, stores, q, k=10).collect()
    ]
    assert auto2 == want


def test_collection_pooled_with_documents_only_raises(spark, two_stores):
    """documents_only is unbounded (lazy union only); a forced pooled=True
    must conflict loudly instead of being silently dropped."""
    stores, _ = two_stores
    with pytest.raises(ValueError, match="documents_only"):
        exec_query_collection(
            spark, stores, "error", documents_only=True, pooled=True
        )
