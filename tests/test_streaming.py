"""NRT micro-segment appends: batch path + a real Structured Streaming run."""

import os

import pytest

from trinity_spark.fixtures import gen_transcripts
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentStore
from trinity_spark.streaming.nrt import (
    append_micro_segment,
    nrt_segment_id,
    start_indexing_stream,
)

N0, N1 = 600, 300


def _oracle_for(base_corpus, appended_corpus):
    """Doc ids: batch order across batches, (conv_id, turn_idx) within."""
    from trinity_spark.fixtures import docs_in_stable_order

    docs = docs_in_stable_order(base_corpus)
    extra = docs_in_stable_order(appended_corpus)
    docs += [(d + len(docs), t) for d, t in extra]
    return OracleIndex.build(docs)


@pytest.fixture()
def seeded_store(spark, tmp_path):
    corpus0 = gen_transcripts(N0)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(corpus0), store, rows_per_segment=N0)
    return store, corpus0


def test_batch_append(spark, seeded_store):
    store, corpus0 = seeded_store
    corpus1 = gen_transcripts(N1, seed=99)
    meta = append_micro_segment(spark, store, spark.createDataFrame(corpus1))
    assert meta.doc_lo == N0 and meta.doc_hi == N0 + N1
    assert meta.lineage["mode"] == "nrt-append"

    oracle = _oracle_for(corpus0, corpus1)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout", "retry OR backoff"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9  # stats summed across micro-segments


def test_append_jobs_stay_in_callers_job_group(spark, seeded_store, jobs_in_window):
    """An NRT append's commit writes run on pool threads; every job they
    start must carry the caller's job group (phase accounting, cancel by
    group), not only the jobs of the calling thread."""
    store, _ = seeded_store
    batch = spark.createDataFrame(gen_transcripts(200, seed=11))
    _, got, started = jobs_in_window(
        "nrt-append", lambda: append_micro_segment(spark, store, batch)
    )
    assert started and got == started, (sorted(got), sorted(started))


@pytest.mark.parametrize("mode", ["batch", "virtual"])
def test_key_only_slices_keep_the_docid_map_whole(spark, tmp_path, mode):
    """An NRT slice holds only (conv_id, turn_idx, doc_id); the index keeps
    ids, the caller keeps the text.  Over a batch map (non-dense input) or
    conv bases (dense input), read_docid_map serves exactly those keys with
    one row per doc id, a resumed batch-map build re-encodes a lost segment
    from the batch map rank-identically, and replace_documents finds and
    masks old versions in the batch part and in the slices."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from trinity_spark.fixtures import docs_in_stable_order
    from trinity_spark.streaming.nrt import replace_documents

    corpus0 = gen_transcripts(N0)
    if mode == "batch":
        corpus0["turn_idx"] = corpus0["turn_idx"] * 3 + 7  # same order, gappy
    corpus1 = gen_transcripts(N1, seed=99)
    corpus1["conv_id"] = "nrt-" + corpus1["conv_id"]  # keys disjoint from corpus0
    src = str(tmp_path / "input")
    spark.createDataFrame(corpus0).write.parquet(src)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(
        spark, spark.read.parquet(src), store, rows_per_segment=N0 // 2,
        input_desc=src,
    )
    assert store.docid_map_mode() == mode
    append_micro_segment(spark, store, spark.createDataFrame(corpus1))

    nrt_root = os.path.join(store.docid_map_dir(), "nrt")
    footers = [
        pq.read_schema(os.path.join(r, f)).names
        for r, _, fs in os.walk(nrt_root)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert footers and all(
        names == ["conv_id", "turn_idx", "doc_id"] for names in footers
    )

    dm = store.read_docid_map(spark)
    assert dm.columns == ["conv_id", "turn_idx", "doc_id"]
    assert dm.count() == dm.select("doc_id").distinct().count() == N0 + N1
    s0 = corpus0.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    keys = {
        r["doc_id"]: (r["conv_id"], r["turn_idx"])
        for r in dm.where(F.col("doc_id") < N0).collect()
    }
    assert keys == dict(enumerate(zip(s0["conv_id"], s0["turn_idx"])))

    oracle = _oracle_for(corpus0, corpus1)
    if mode == "batch":
        # a crash lost the second build segment's commit: the resumed build
        # re-encodes it from the batch map, text included
        lost = f"seg-{N0 // 2:014d}-{N0:014d}"
        with store._manifest_lock():
            m = store.read_manifest()
            m["segments"] = [s for s in m["segments"] if s["segment_id"] != lost]
            store._write_manifest(m)
        rebuilt = build_index(
            spark, spark.read.parquet(src), store, input_desc=src,
        )
        assert [s.segment_id for s in rebuilt][-1] == lost
        assert store.fsck(spark, deep=True)["ok"]
        planner = QueryPlanner(SegmentIndex(spark, store))
        for q in ["error", "error AND timeout", "retry OR backoff"]:
            node = parse_query(q)
            want = oracle.topk(node, k=10)
            got = [
                (r["doc_id"], r["score"])
                for r in planner.plan(node, k=10).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) <= 1e-9, q

    # one key whose live version sits in the batch part, one in a slice
    s1 = corpus1.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    upd = pd.concat([s0.iloc[[3]], s1.iloc[[5]]]).reset_index(drop=True)
    upd["text"] = ["qqkeyslicemarker one", "qqkeyslicemarker two"]
    meta = replace_documents(spark, store, spark.createDataFrame(upd))
    assert sorted(r["doc_id"] for r in store.read_deletes(spark).collect()) == [
        3, N0 + 5,
    ]
    planner = QueryPlanner(SegmentIndex(spark, store))
    assert sorted(
        r["doc_id"] for r in planner.plan("qqkeyslicemarker", k=5).collect()
    ) == [meta.doc_lo, meta.doc_lo + 1]
    assert store.fsck(spark, deep=True)["ok"]
    # rank identity after the build, the append and the replace
    docs = docs_in_stable_order(corpus0)
    docs += [(d + N0, t) for d, t in docs_in_stable_order(corpus1)]
    docs += [(d + meta.doc_lo, t) for d, t in docs_in_stable_order(upd)]
    oracle = OracleIndex.build(docs, deleted={3, N0 + 5})
    for q in ["error", "qqkeyslicemarker OR timeout", "retry OR backoff"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [
            (r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9, q


@pytest.mark.parametrize("dense", [True, False])
def test_build_over_nrt_slices_refuses_before_writing(spark, tmp_path, dense):
    """NRT appends into an empty store already hold doc ids from 0; a build
    into it would number its corpus from 0 again, so every id would map to
    two keys (and the batch map's overwrite would eat the slices).  Phase 0
    refuses for either map before anything is written: the manifest is
    unchanged, no conv_bases/ exists and the slices survive."""
    store = SegmentStore(str(tmp_path / "idx"))
    append_micro_segment(
        spark, store, spark.createDataFrame(gen_transcripts(N1, seed=5))
    )
    before = store.read_manifest()
    nrt_root = os.path.join(store.docid_map_dir(), "nrt")
    slices = sorted(os.listdir(nrt_root))
    corpus = gen_transcripts(N1)
    if not dense:
        corpus["turn_idx"] = corpus["turn_idx"] * 3 + 7
    with pytest.raises(RuntimeError, match="NRT micro-segment slices"):
        build_index(spark, spark.createDataFrame(corpus), store)
    assert store.read_manifest() == before
    assert not os.path.exists(store.conv_bases_dir())
    assert sorted(os.listdir(nrt_root)) == slices
    dm = store.read_docid_map(spark)
    assert dm.count() == dm.select("doc_id").distinct().count() == N1


def test_build_resumes_on_the_recorded_docid_map(spark, tmp_path):
    """A store whose manifest records a docid map resumes on that map, NRT
    slices notwithstanding: a batch map of DENSE input (the layout a build
    wrote before the input picked the map) stays the store's map, no conv
    bases are written, and a lost segment is re-encoded from it
    rank-identically."""
    from trinity_spark.operators.docids import assign_doc_ids

    corpus0 = gen_transcripts(N0)
    corpus1 = gen_transcripts(N1, seed=99)
    df = spark.createDataFrame(corpus0)
    store = SegmentStore(str(tmp_path / "idx"))
    store.write_docid_map(assign_doc_ids(df), n_docs=N0, layout=False)
    build_index(spark, df, store, rows_per_segment=N0 // 2)
    append_micro_segment(spark, store, spark.createDataFrame(corpus1))
    lost = f"seg-{N0 // 2:014d}-{N0:014d}"
    with store._manifest_lock():
        m = store.read_manifest()
        m["segments"] = [s for s in m["segments"] if s["segment_id"] != lost]
        store._write_manifest(m)
    rebuilt = build_index(spark, df, store)
    assert [s.segment_id for s in rebuilt][-1] == lost
    assert store.docid_map_mode() == "batch"
    assert not os.path.exists(store.conv_bases_dir())
    assert store.fsck(spark, deep=True)["ok"]
    oracle = _oracle_for(corpus0, corpus1)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout", "retry OR backoff"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q


def test_replace_documents_without_the_input(spark, tmp_path):
    """replace_documents needs nothing but the store: dense input built
    from a parquet path with default arguments keeps no copy of the text
    under docid_map/, and after the input path is deleted a replace still
    finds and masks the old version."""
    import shutil

    from trinity_spark.fixtures import docs_in_stable_order
    from trinity_spark.streaming.nrt import replace_documents

    corpus0 = gen_transcripts(N0)
    src = str(tmp_path / "input")
    spark.createDataFrame(corpus0).write.parquet(src)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.read.parquet(src), store, input_desc=src)
    assert not os.path.exists(store.docid_map_dir())
    shutil.rmtree(src)

    s0 = corpus0.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    upd = s0.iloc[[7]].reset_index(drop=True)
    upd["text"] = ["qqnoinputmarker"]
    meta = replace_documents(spark, store, spark.createDataFrame(upd))
    assert [r["doc_id"] for r in store.read_deletes(spark).collect()] == [7]
    docs = docs_in_stable_order(corpus0) + [(meta.doc_lo, "qqnoinputmarker")]
    oracle = OracleIndex.build(docs, deleted={7})
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["qqnoinputmarker", "error", "error AND timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
    assert store.fsck(spark, deep=True)["ok"]


def test_replace_documents_flow(spark, seeded_store):
    """One-call update (indexer.h:181-206): the old version is tombstoned and
    the new one indexed in ONE manifest commit; queries see only the new
    version pre- AND post-merge; docs_cnt stays exact."""
    import pandas as pd

    from trinity_spark.fixtures import docs_in_stable_order
    from trinity_spark.operators.merge import merge_segments
    from trinity_spark.streaming.nrt import replace_documents
    from trinity_spark.tokenizer import tokenize_terms_py

    store, corpus0 = seeded_store
    docs0 = docs_in_stable_order(corpus0)
    s = corpus0.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    old_id = 7
    key = (s["conv_id"][old_id], int(s["turn_idx"][old_id]))
    old_term = next(t for t, _ in tokenize_terms_py(docs0[old_id][1]))
    new_text = "replaced qqreplacemarker version with error inside"
    pdf = pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turn_idx": [key[1]],
            "role": ["user"],
            "text": [new_text],
            "tool": [""],
            "ts": [s["ts"][old_id]],
        }
    )
    meta = replace_documents(spark, store, spark.createDataFrame(pdf))
    assert meta.doc_lo == N0 and meta.docs_cnt == 1
    assert meta.lineage["replace"] is True
    # atomic: the tombstone generation was committed WITH the segment
    m = store.read_manifest()
    assert m["deletes"] and m["deletes"][-1]["gen"] == meta.metrics["tombstone_gen"]
    assert meta.generation == meta.metrics["tombstone_gen"] - 1

    # pre-merge: rank identity with the old doc masked but still in df/N
    docs = docs0 + [(N0, new_text)]
    oracle = OracleIndex.build(docs, deleted={old_id})
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["qqreplacemarker", "error", "error AND timeout", old_term]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9, q
    # the old version is invisible
    assert old_id not in [
        r["doc_id"] for r in planner.plan(old_term, k=N0 + 1).collect()
    ]
    assert [r["doc_id"] for r in planner.plan("qqreplacemarker", k=5).collect()] == [N0]

    # post-merge: tombstone applied physically, docs_cnt exact
    merged = merge_segments(spark, store)
    assert merged.docs_cnt == N0  # N0 + 1 new - 1 replaced
    assert store.read_manifest()["deletes"] == []
    oracle2 = OracleIndex.build([(d, t) for d, t in docs if d != old_id])
    oracle2.n_docs = N0
    planner2 = QueryPlanner(SegmentIndex(spark, store))
    for q in ["qqreplacemarker", "error", old_term]:
        node = parse_query(q)
        want = oracle2.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner2.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9, q


def test_replace_documents_insert_and_rereplace(spark, seeded_store):
    """A key with no live version is a plain insert; replacing an
    already-replaced key masks the previous replacement too."""
    import pandas as pd

    from trinity_spark.streaming.nrt import replace_documents

    store, _ = seeded_store

    def batch(text):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "conv_id": ["conv-brandnew"],
                    "turn_idx": [0],
                    "role": ["user"],
                    "text": [text],
                    "tool": [""],
                    "ts": [pd.Timestamp("2026-02-01")],
                }
            )
        )

    m1 = replace_documents(spark, store, batch("first qqversionone"))
    assert m1.doc_lo == N0
    planner = QueryPlanner(SegmentIndex(spark, store))
    assert [r["doc_id"] for r in planner.plan("qqversionone", k=5).collect()] == [N0]

    m2 = replace_documents(spark, store, batch("second qqversiontwo"))
    assert m2.doc_lo == N0 + 1
    planner = QueryPlanner(SegmentIndex(spark, store))
    assert planner.plan("qqversionone", k=5).collect() == []  # v1 masked
    assert [r["doc_id"] for r in planner.plan("qqversiontwo", k=5).collect()] == [
        N0 + 1
    ]


def test_structured_streaming_ingest(spark, seeded_store, tmp_path):
    store, corpus0 = seeded_store
    corpus1 = gen_transcripts(N1, seed=99)

    # stage the new batch as files and stream them in with availableNow
    src = str(tmp_path / "incoming")
    spark.createDataFrame(corpus1).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_indexing_stream(spark, store, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    metas = store.segments()
    assert any(s.lineage.get("mode") == "nrt-append" for s in metas)
    assert sum(s.docs_cnt for s in metas) == N0 + N1

    oracle = _oracle_for(corpus0, corpus1)
    planner = QueryPlanner(SegmentIndex(spark, store))
    node = parse_query("error")
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_replay_after_crash_is_idempotent(spark, seeded_store):
    """Crash between the docid_map slice write and commit_segment: the
    replayed batch must overwrite the same slice (no duplicate doc_id rows,
    no doubled tfs)."""
    from pyspark.sql import functions as F

    from trinity_spark.operators.docids import assign_doc_ids
    from trinity_spark.streaming.nrt import next_doc_id

    store, corpus0 = seeded_store
    corpus1 = gen_transcripts(N1, seed=99)
    df1 = spark.createDataFrame(corpus1)

    # simulate the crashed first attempt: slice written, segment NOT committed
    base = next_doc_id(store)
    sid = nrt_segment_id(base, N1, "stream-batch")
    with_ids = assign_doc_ids(df1).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(base)).cast("long")
    )
    store.write_docid_map_slice(with_ids, sid)

    # replay: append runs from scratch and must rewrite the same slice
    meta = append_micro_segment(spark, store, df1)
    assert meta.segment_id == sid
    n_rows = store.read_docid_map(spark).where(F.col("doc_id") >= base).count()
    assert n_rows == N1  # no duplicate doc_id rows from the replay

    oracle = _oracle_for(corpus0, corpus1)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "retry OR backoff"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9  # tfs not doubled


def test_micro_segment_compaction(spark, seeded_store):
    """The NRT story end-to-end: several micro-segments pile up, merge
    compacts them into one, ranks stay oracle-identical."""
    from trinity_spark.operators.merge import merge_segments

    store, corpus0 = seeded_store
    batches = [gen_transcripts(100, seed=50 + i) for i in range(3)]
    for b in batches:
        append_micro_segment(spark, store, spark.createDataFrame(b))
    assert len(store.segments()) == 4  # seed + 3 micro

    from trinity_spark.fixtures import docs_in_stable_order

    docs = list(docs_in_stable_order(corpus0))
    off = len(docs)
    for b in batches:
        part = docs_in_stable_order(b)
        docs += [(d + off, t) for d, t in part]
        off += len(part)
    oracle = OracleIndex.build(docs)

    meta = merge_segments(spark, store)
    assert len(store.segments()) == 1
    assert meta.docs_cnt == len(docs)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "retry OR backoff", "error AND timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


# --- streaming percolator (alerts) -----------------------------------------

def test_streaming_percolator_matches_batch(spark, tmp_path):
    """percolate over a file stream == batch percolate over the same docs."""
    from trinity_spark.operators.percolator import percolate
    from trinity_spark.streaming.alerts import start_alert_stream

    docs = [
        (0, "disk failure on node seven"),
        (1, "all systems nominal"),
        (2, "failure to acquire lock retry scheduled"),
        (3, "disk nearly full"),
        (4, "lock failure disk failure"),
    ]
    queries = {
        "alert_disk": "disk",
        "alert_fail_not_retry": "failure NOT retry",
        "alert_phrase": '"disk failure"',
    }
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want = sorted((r["doc_id"], r["query_id"])
                  for r in percolate(df, queries).collect())
    assert want  # non-trivial fixture

    src = str(tmp_path / "in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sink = str(tmp_path / "alerts")
    q = start_alert_stream(stream, queries, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = sorted((r["doc_id"], r["query_id"])
                 for r in spark.read.parquet(sink).collect())
    assert got == want


def test_streaming_percolator_is_stateless_projection(spark):
    """The compiled plan must carry no aggregation or join: pure projection
    (what makes it watermark-free and shuffle-free on a stream)."""
    from trinity_spark.operators.percolator import percolate

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    plan = percolate(df, {"q1": "a", "q2": '"a b"'})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


# --- streaming sessionization + watermarked window counts -------------------

def test_sessionize_stream_state_spans_microbatches(spark, tmp_path):
    """Gap sessions continue across micro-batches via applyInPandasWithState:
    one file per trigger, second batch both continues an open session and
    opens a new one after the gap."""
    import time as _time
    from datetime import datetime

    from trinity_spark.streaming.sessions import sessionize_stream

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    rows1 = [
        (0, datetime(2024, 1, 1, 8, 0, 0), 1, "click", 1.0, ""),
        (1, datetime(2024, 1, 1, 8, 10, 0), 1, "click", 1.0, ""),
        (5, datetime(2024, 1, 1, 9, 0, 0), 2, "view", 1.0, ""),
    ]
    rows2 = [
        (2, datetime(2024, 1, 1, 8, 20, 0), 1, "click", 1.0, ""),   # continues
        (3, datetime(2024, 1, 1, 10, 20, 0), 1, "error", 1.0, ""),  # 2h gap
        (6, datetime(2024, 1, 1, 9, 10, 0), 2, "view", 1.0, ""),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/b1")
    _time.sleep(1.1)  # distinct mtimes pin file-source processing order
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema(spark.createDataFrame(rows1, schema).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    sink = str(tmp_path / "out")
    q = (
        sessionize_stream(stream, gap_minutes=30, state_ttl_min=None)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {r["event_id"]: r["session_id"]
           for r in spark.read.parquet(sink).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 5: 0, 6: 0}

    # session_start_sec: one value per (user, session), equal to the
    # session's first event time — the durable identity that survives TTL
    # eviction (session_id numbering restarts after a state timeout)
    from pyspark.sql import functions as F

    for r in (
        spark.read.parquet(sink)
        .groupBy("user_id", "session_id")
        .agg(
            F.count_distinct("session_start_sec").alias("nstarts"),
            F.first("session_start_sec").alias("start"),
            F.min(F.col("ts").cast("double")).alias("min_sec"),
        )
        .collect()
    ):
        assert r["nstarts"] == 1 and abs(r["start"] - r["min_sec"]) < 1e-6, r

    # same ids as the batch sessionizer over the union (events in order)
    from trinity_spark.dataops.sessions import sessionize

    batch = sessionize(
        spark.createDataFrame(rows1 + rows2, schema), gap_minutes=30
    )
    want = {r["event_id"]: r["session_id"] for r in batch.collect()}
    assert got == want


def test_sessionize_stream_validates(spark):
    import pytest as _pytest

    from trinity_spark.streaming.sessions import sessionize_stream

    df = spark.readStream.format("rate").load().selectExpr(
        "value AS event_id", "timestamp AS ts", "value % 3 AS user_id"
    )
    with _pytest.raises(ValueError, match="gap_minutes"):
        sessionize_stream(df, gap_minutes=0)


def test_sessionize_stream_null_keys_fail_loudly(spark, tmp_path):
    """NULL user_id / NaT ts fail the stream job (batch sessionize parity):
    a NaT ts would otherwise silently become the int64 sentinel under
    .astype('int64') and glue/split sessions arbitrarily."""
    from datetime import datetime

    import pytest as _pytest

    from trinity_spark.streaming.sessions import sessionize_stream

    schema = "event_id long, ts timestamp, user_id long"
    rows = [
        (0, datetime(2024, 1, 1, 8, 0, 0), 1),
        (1, None, 1),  # NaT ts for a live user
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.createDataFrame(rows, schema).schema)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, state_ttl_min=None)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="NULL ts"):
        q.awaitTermination(180)
        q.processAllAvailable()


def test_windowed_event_counts_watermark_finalization(spark, tmp_path):
    """Append-mode tumbling windows emit exactly the finalized windows
    (window_end <= final watermark); the straggler window stays open."""
    from datetime import datetime

    from trinity_spark.streaming.sessions import windowed_event_counts

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    rows = [
        (0, datetime(2024, 1, 1, 8, 0, 0), 1, "click", 1.0, ""),
        (1, datetime(2024, 1, 1, 8, 10, 0), 1, "click", 1.0, ""),
        (2, datetime(2024, 1, 1, 8, 20, 0), 2, "click", 1.0, ""),
        (3, datetime(2024, 1, 1, 9, 0, 0), 2, "view", 1.0, ""),
        (4, datetime(2024, 1, 1, 9, 10, 0), 1, "view", 1.0, ""),
        (5, datetime(2024, 1, 1, 10, 20, 0), 1, "error", 1.0, ""),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame(rows, schema).schema
    ).parquet(src)
    sink = str(tmp_path / "out")
    q = (
        windowed_event_counts(stream, window="30 minutes", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    # final watermark = 10:20 - 10min = 10:10 -> windows ending <= 10:10
    # finalize; the error event's 10:00-10:30 window stays open (no row)
    assert got == {
        ("2024-01-01 08:00:00", "click"): 3,
        ("2024-01-01 09:00:00", "view"): 2,
    }


def test_sessionize_stream_sorts_across_arrow_chunks(spark, tmp_path):
    """A hot key whose micro-batch spans several Arrow chunks must be
    sorted as ONE batch — per-chunk sorting would regress last_sec and
    misassign sessions (chunks arrive in arbitrary relative order)."""
    from datetime import datetime, timedelta

    from trinity_spark.dataops.sessions import sessionize
    from trinity_spark.streaming.sessions import sessionize_stream

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    base = datetime(2024, 1, 1, 8, 0, 0)
    # 40 events, shuffled order in the file, alternating 10-min and 50-min
    # gaps when sorted -> many session breaks that only a global sort finds
    ordered = []
    t = base
    for i in range(40):
        ordered.append((i, t, 1, "click", 1.0, ""))
        t += timedelta(minutes=(10 if i % 2 == 0 else 50))
    shuffled = ordered[::2] + ordered[1::2]
    src = str(tmp_path / "in")
    spark.createDataFrame(shuffled, schema).coalesce(1).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema(
            spark.createDataFrame(shuffled, schema).schema
        ).parquet(src)
        sink = str(tmp_path / "out")
        q = (
            sessionize_stream(stream, gap_minutes=30, state_ttl_min=None)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r["event_id"]: r["session_id"]
           for r in spark.read.parquet(sink).collect()}
    want = {r["event_id"]: r["session_id"]
            for r in sessionize(
                spark.createDataFrame(ordered, schema), gap_minutes=30
            ).collect()}
    assert got == want
    assert max(got.values()) >= 10  # many breaks: the property is non-trivial


def test_stream_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on the shared content hash: the
    first arrival of each distinct text is admitted, in-horizon duplicates
    are dropped; identity matches the batch side's content_hash."""
    from datetime import datetime

    from trinity_spark.streaming.dedup import dedup_stream

    rows = [
        (0, "alpha beta", datetime(2026, 1, 1, 10, 0, 0)),
        (1, "gamma delta", datetime(2026, 1, 1, 10, 0, 1)),
        (2, "alpha beta", datetime(2026, 1, 1, 10, 0, 2)),   # dup of 0
        (3, "epsilon", datetime(2026, 1, 1, 10, 0, 3)),
        (4, "gamma delta", datetime(2026, 1, 1, 10, 0, 4)),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    src = str(tmp_path / "in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sink = str(tmp_path / "out")
    q = (
        dedup_stream(stream, watermark_delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert got == [0, 1, 3]


def test_replace_documents_replayed_after_crash_keeps_new_docs(
    spark, seeded_store
):
    """Crash-replay safety: a crashed attempt leaves its docid-map slice on
    disk (written before the commit), so the retry's old-version lookup sees
    the NEW doc range for the same keys — it must not tombstone the
    replacement documents it is about to commit (old versions can only have
    doc_id < the committed high-water mark)."""
    import pandas as pd

    from trinity_spark.fixtures import docs_in_stable_order
    from trinity_spark.operators.docids import assign_doc_ids
    from pyspark.sql import functions as F
    from trinity_spark.streaming.nrt import next_doc_id, replace_documents
    from trinity_spark.tokenizer import tokenize_py

    store, corpus0 = seeded_store
    s = corpus0.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    key = (s["conv_id"][3], int(s["turn_idx"][3]))
    pdf = pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turn_idx": [key[1]],
            "role": ["user"],
            "text": ["replayed qqreplaymarker content"],
            "tool": [""],
            "ts": [s["ts"][3]],
        }
    )
    turns = spark.createDataFrame(pdf)
    # simulate the crashed attempt: slice written, segment never committed
    base = next_doc_id(store)
    crashed = assign_doc_ids(turns).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(base)).cast("long")
    )
    store.write_docid_map_slice(crashed, nrt_segment_id(base, 1, "replace-batch"))
    # retry: the same one-call replace
    meta = replace_documents(spark, store, turns)
    assert meta.doc_lo == base
    planner = QueryPlanner(SegmentIndex(spark, store))
    # the replacement doc must be VISIBLE (the old bug tombstoned it)
    assert [r["doc_id"] for r in planner.plan("qqreplaymarker", k=5).collect()] == [
        base
    ]
    # the old version is masked: a term of doc 3's original text no longer
    # matches it, while the unmasked docs holding the term still match
    docs0 = docs_in_stable_order(corpus0)
    others = {
        t: {d for d, text in docs0 if d != 3 and t in tokenize_py(text)}
        for t in tokenize_py(docs0[3][1])
    }
    term = next(t for t in sorted(others) if others[t])
    hits = {r["doc_id"] for r in planner.plan(term, k=N0 + 5).collect()}
    assert 3 not in hits and others[term] <= hits
    deletes = store.read_deletes(spark)
    assert deletes is not None
    masked = [r["doc_id"] for r in deletes.collect()]
    assert masked == [3] and base not in masked


def test_gc_reclaims_orphan_docid_map_slice(spark, tmp_path_factory):
    """A crashed NRT attempt's docid-map slice (written, never committed)
    must be gc-able once a retry committed the range under a different
    segment_id — otherwise read_docid_map serves duplicate doc_ids from both
    slices forever.  Slices of LIVE segments and of segments retired by a
    MERGE (whose translations still live only in the original slices) must
    survive.  A slice name's doc range is its 2nd and 3rd dash fields: an
    orphan named like an NRT attempt (hex marker suffix) is reclaimed too,
    and a retired NRT segment whose marker suffix is all digits keeps its
    slice."""
    import hashlib
    import os

    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.merge import merge_segments
    from trinity_spark.sources.store import SegmentStore
    from trinity_spark.streaming.nrt import append_micro_segment

    store = SegmentStore(str(tmp_path_factory.mktemp("orphan_slice")))
    corpus = gen_transcripts(120)
    a, b = corpus.iloc[:60], corpus.iloc[60:]
    append_micro_segment(spark, store, spark.createDataFrame(a), "batch-a")

    # crashed attempt: slice for seg [60, 120) written, commit never happened
    from trinity_spark.operators.docids import assign_doc_ids
    from pyspark.sql import functions as F

    orphan_id = "seg-00000000000060-00000000000120"
    with_ids = assign_doc_ids(spark.createDataFrame(b)).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(60)).cast("long")
    )
    store.write_docid_map_slice(with_ids, orphan_id)
    suffixed_id = orphan_id + "-deadbeef"  # an NRT attempt's name
    store.write_docid_map_slice(with_ids, suffixed_id)
    # retry commits FEWER rows (first 40 turns) under a different id, whose
    # marker suffix is all digits
    digits_desc = next(
        d for d in (f"batch-b{i}" for i in range(10_000))
        if hashlib.md5(d.encode()).hexdigest()[:8].isdigit()
    )
    retry = append_micro_segment(
        spark, store, spark.createDataFrame(b.iloc[:40]), digits_desc
    )
    assert retry.segment_id.rsplit("-", 1)[1].isdigit()

    nrt_root = os.path.join(store.docid_map_dir(), "nrt")
    assert {orphan_id, suffixed_id} <= set(os.listdir(nrt_root))
    removed = store.gc()
    assert removed["docid_map_slices"] == [orphan_id, suffixed_id]
    live = set(os.listdir(nrt_root))
    assert orphan_id not in live and len(live) == 2  # both committed slices
    # duplicate translations are gone
    m = store.read_docid_map(spark)
    assert m.groupBy("doc_id").count().where("count > 1").count() == 0

    # merge retires the NRT segment ids; their slices must SURVIVE gc,
    # also once no retained snapshot names the retired segments
    merge_segments(spark, store)
    store.expire_snapshots(keep_last=1)
    removed2 = store.gc()
    assert removed2["docid_map_slices"] == []
    assert set(os.listdir(nrt_root)) == live


def test_streaming_percolator_chunked_registry(spark, tmp_path, monkeypatch):
    """Registries past MAX_COMPILED_QUERIES must still work on a STREAM:
    the chunked path localCheckpoints the tokenized frame for batch input,
    which is illegal on streaming DataFrames (AnalysisException) — streams
    re-tokenize per chunk instead."""
    from trinity_spark.operators import percolator as perc_mod
    from trinity_spark.operators.percolator import percolate
    from trinity_spark.streaming.alerts import start_alert_stream

    monkeypatch.setattr(perc_mod, "MAX_COMPILED_QUERIES", 2)
    docs = [
        (0, "disk failure on node seven"),
        (1, "all systems nominal"),
        (2, "failure to acquire lock retry scheduled"),
        (3, "disk nearly full"),
    ]
    queries = {
        "q_disk": "disk",
        "q_fail": "failure",
        "q_lock": "lock",
        "q_retry": "retry",
        "q_phrase": '"disk failure"',
    }
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want = sorted(
        (r["doc_id"], r["query_id"]) for r in percolate(df, queries).collect()
    )
    assert want

    src = str(tmp_path / "in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sink = str(tmp_path / "alerts")
    q = start_alert_stream(stream, queries, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["query_id"])
        for r in spark.read.parquet(sink).collect()
    )
    assert got == want


def test_concurrent_nrt_writers_loser_rejected(spark, seeded_store):
    """Two ingest writers that both read the same high-water mark (optimistic
    doc-id allocation, no lock) must not silently destroy each other: their
    marker-suffixed segment ids keep the data paths disjoint, and the second
    commit is REJECTED by the store's nrt range-overlap check with the
    winner's batch fully intact."""
    import time

    import pytest
    from pyspark.sql import functions as F

    from trinity_spark.operators.docids import assign_doc_ids
    from trinity_spark.streaming.nrt import _append_assigned, next_doc_id

    store, corpus0 = seeded_store
    base = next_doc_id(store)

    def assigned(corpus):
        df = spark.createDataFrame(corpus)
        return assign_doc_ids(df).withColumn(
            "doc_id", (F.col("doc_id") + F.lit(base)).cast("long")
        )

    c_a = gen_transcripts(40, seed=71)
    c_b = gen_transcripts(40, seed=72)
    meta_a = _append_assigned(
        spark, store, assigned(c_a), 40, base, time.monotonic(),
        "stream-a-epoch-0",
    )
    # writer B allocated against the SAME stale high-water mark
    with pytest.raises(ValueError, match="overlaps committed segment"):
        _append_assigned(
            spark, store, assigned(c_b), 40, base, time.monotonic(),
            "stream-b-epoch-0",
        )
    # the winner's batch survives end-to-end: its segment is live, and the
    # loser's orphan slice was discarded on rejection — the doc-id space
    # serves exactly one translation per id
    live = {s.segment_id for s in store.segments()}
    assert meta_a.segment_id in live
    dm = store.read_docid_map(spark)
    n_ids = dm.select("doc_id").distinct().count()
    assert dm.count() == n_ids == N0 + 40
    # and the winner's docs are queryable
    planner = QueryPlanner(SegmentIndex(spark, store))
    assert planner.plan("error", k=5).count() >= 0


def test_stream_dedup_null_text_passes_through(spark, tmp_path):
    """NULL-text docs share a NULL content hash; keying them would collapse
    every NULL-text doc after the first.  They must pass through undeduped
    (batch parity: curate gates them individually, never as duplicates)."""
    from datetime import datetime

    from trinity_spark.streaming.dedup import dedup_stream

    rows = [
        (0, "alpha beta", datetime(2026, 1, 1, 10, 0, 0)),
        (1, None, datetime(2026, 1, 1, 10, 0, 1)),
        (2, None, datetime(2026, 1, 1, 10, 0, 2)),
        (3, "alpha beta", datetime(2026, 1, 1, 10, 0, 3)),  # dup of 0
        (4, None, datetime(2026, 1, 1, 10, 0, 4)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    src = str(tmp_path / "in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sink = str(tmp_path / "out")
    q = (
        dedup_stream(stream, watermark_delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert got == [0, 1, 2, 4]  # all three NULL-text docs admitted


def test_percolate_routed_rejects_streaming_input(spark, tmp_path):
    """The routed path self-joins the doc frame (unsupported on streams);
    it must fail fast with a pointer to the stream-safe percolate()."""
    import pytest

    from trinity_spark.operators.percolator import percolate_routed

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(0, "alpha beta")], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    with pytest.raises(ValueError, match="batch DataFrame"):
        percolate_routed(stream, {"q0": "alpha"})
