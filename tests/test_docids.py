"""Dense doc_id assignment: stable (conv_id, turn_idx) order, dense ids,
driver-known count — including the non-dense turn_idx fallback path."""

import pandas as pd
import pytest

import trinity_spark.operators.docids as D
from trinity_spark.fixtures import gen_transcripts
from trinity_spark.operators.docids import assign_doc_ids_counted


def _each_enumerate_path(monkeypatch):
    """Run the caller's body once per conv-bases enumerate path: the
    driver-side path (default cap) and the distributed path the
    >8M-conversation regime takes (cap forced to 0)."""
    for cap in (D.BROADCAST_MAX_CONVS, 0):
        monkeypatch.setattr(D, "BROADCAST_MAX_CONVS", cap)
        yield cap


def _check(spark, pdf, num_partitions):
    sdf, n = assign_doc_ids_counted(spark.createDataFrame(pdf), num_partitions)
    got = sdf.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert n == len(pdf)
    assert list(got["doc_id"]) == list(range(len(pdf)))  # dense from 0
    want = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )
    assert list(got["conv_id"]) == list(want["conv_id"])
    assert list(got["turn_idx"]) == list(want["turn_idx"])
    assert list(got["text"]) == list(want["text"])  # per-turn text equality


def test_dense_turn_idx_path(spark):
    _check(spark, gen_transcripts(700), num_partitions=5)


def test_sparse_turn_idx_fallback(spark, monkeypatch):
    """Gappy / non-zero-based turn_idx must still enumerate in (conv_id,
    turn_idx) order via the row_number fallback, on both enumerate paths."""
    pdf = gen_transcripts(400)
    pdf = pdf.copy()
    pdf["turn_idx"] = pdf["turn_idx"] * 3 + 7  # gaps + nonzero start
    for _ in _each_enumerate_path(monkeypatch):
        _check(spark, pdf, num_partitions=4)


def test_duplicate_turn_idx_with_gap_routes_to_fallback(spark, monkeypatch):
    """turn_idx [0, 0, 2, 3] passes the min/max/count screen (min=0, max=n-1,
    count=n) but is NOT a permutation; the exact distinct-count test must
    route such convs to the row_number path so doc_ids stay unique — the
    arithmetic path would mint base+0 twice.  Both enumerate paths."""
    rows = []
    for c in range(6):
        idxs = [0, 1, 2, 3] if c % 2 == 0 else [0, 0, 2, 3]
        for i, t in enumerate(idxs):
            rows.append(
                {
                    "conv_id": f"c{c:03d}",
                    "turn_idx": t,
                    "role": "user",
                    "text": f"msg {c} {i}",
                    "tool": "",
                    "ts": pd.Timestamp("2026-01-01"),
                }
            )
    pdf = pd.DataFrame(rows)
    for cap in _each_enumerate_path(monkeypatch):
        sdf, n = assign_doc_ids_counted(spark.createDataFrame(pdf), 3)
        got = sdf.toPandas()
        assert n == len(pdf)
        # unique AND dense
        assert sorted(got["doc_id"]) == list(range(len(pdf))), cap
        # each conversation still owns a contiguous doc_id range in conv order
        by_conv = got.groupby("conv_id")["doc_id"].agg(["min", "max", "count"])
        base = 0
        for conv_id in sorted(by_conv.index):
            r = by_conv.loc[conv_id]
            assert (r["min"], r["max"], r["count"]) == (base, base + 3, 4), (
                cap, conv_id,
            )
            base += 4


def test_single_conversation_many_partitions(spark):
    pdf = gen_transcripts(120)
    pdf = pdf.copy()
    pdf["conv_id"] = "conv-000"
    pdf["turn_idx"] = range(len(pdf))
    _check(spark, pdf, num_partitions=6)


def test_null_conv_id_raises(spark, monkeypatch):
    """NULL conv_id would be counted in n_docs but dropped by the equi-join
    back to the corpus — silent index corruption.  Must fail loudly, at the
    same collect the drift check already pays (zero extra actions), on both
    enumerate paths."""
    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b"), (None, 0, "ghost")],
        "conv_id string, turn_idx int, text string",
    )
    for _ in _each_enumerate_path(monkeypatch):
        with pytest.raises(ValueError, match="NULL conv_id"):
            assign_doc_ids_counted(df)


def test_long_conv_duplicate_with_gap_routes_to_fallback(spark, monkeypatch):
    """A conversation longer than the 62-slot dense-test bitmap whose
    turn_idx stream passes the min/max/count screen (min=0, max=n-1,
    count=n) but contains a duplicate+gap: the exact filtered
    countDistinct pass must catch it and route the corpus to the
    row_number fallback so doc_ids stay unique, on both enumerate paths."""
    rows = []
    # 70 turns: 0, 1, ..., 67, 67, 69  -> count=70, min=0, max=69, dup at 67
    idxs = list(range(68)) + [67, 69]
    for i, t in enumerate(idxs):
        rows.append(
            {
                "conv_id": "c-long",
                "turn_idx": t,
                "role": "user",
                "text": f"msg {i}",
                "tool": "",
                "ts": pd.Timestamp("2026-01-01"),
            }
        )
    pdf = pd.DataFrame(rows)
    for cap in _each_enumerate_path(monkeypatch):
        sdf, n = assign_doc_ids_counted(spark.createDataFrame(pdf), 3)
        got = sdf.toPandas()
        assert n == len(pdf)
        # unique AND dense
        assert sorted(got["doc_id"]) == list(range(len(pdf))), cap


def test_worker_attach_matches_broadcast_join(spark, tmp_path):
    """Dense builds attach doc ids worker-side at every conv count: with
    the driver-side cap forced to 0 (distributed conv bases, each of the 3
    segments loading only its conv_id slice) the blocks and query rows must
    be identical to the <=cap build.  The same turns with non-dense
    turn_idx (``turn_idx*3+7``: same order, same ids) build through the
    batch map, and every build's decoded postings match postings computed
    straight from the broadcast-join assignment."""
    import shutil

    from pyspark.sql import functions as F
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.fastbuild import postings_from_turns
    from trinity_spark.operators.indexer import SegmentIndex, build_index
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.sources.store import SegmentStore

    df = spark.createDataFrame(gen_transcripts(12_000))
    sparse = df.withColumn("turn_idx", F.col("turn_idx") * 3 + 7)
    postings_hash = F.expr("bit_xor(xxhash64(term, doc_id, tf, positions))")
    ref_postings = (
        postings_from_turns(D.assign_doc_ids(df)).select(postings_hash)
        .collect()[0][0]
    )
    saved = D.BROADCAST_MAX_CONVS
    outs = {}
    try:
        for label, corpus, mode, thresh in [
            ("cap", df, "virtual", 8_000_000),
            ("sliced", df, "virtual", 0),
            ("batch", sparse, "batch", 8_000_000),
        ]:
            D.BROADCAST_MAX_CONVS = thresh
            base = str(tmp_path / f"attach_{label}")
            shutil.rmtree(base, ignore_errors=True)
            st = SegmentStore(base)
            # varbyte: the block bytes below are part of the identity
            build_index(spark, corpus, st, rows_per_segment=5_000,
                        input_desc="eq", codec="varbyte")
            assert st.docid_map_mode() == mode
            idx = SegmentIndex(spark, st)
            p = QueryPlanner(idx)
            rows = {
                q: [(r["doc_id"], r["score"]) for r in p.plan(q, k=10).collect()]
                for q in ("error AND timeout", '"connection reset by peer"')
            }
            blocks = idx.blocks.select(F.expr(
                "bit_xor(xxhash64(term, chunk, block_id, min_doc_id, "
                "max_doc_id, doc_deltas, tf_bytes, pos_bytes))"
            )).collect()[0][0]
            postings = idx.postings.select(postings_hash).collect()[0][0]
            outs[label] = (rows, blocks, postings, len(st.segments()))
    finally:
        D.BROADCAST_MAX_CONVS = saved
    assert outs["cap"][3] == 3
    assert outs["sliced"] == outs["cap"]
    assert outs["cap"][2] == ref_postings
    batch_rows, _, batch_postings, batch_segs = outs["batch"]
    assert (outs["cap"][0], outs["cap"][2], outs["cap"][3]) == (
        batch_rows, batch_postings, batch_segs
    )


def test_worker_attach_conv_missing_from_slice_raises(spark, tmp_path):
    """A turn whose conv_id is absent from the conv_bases slice its worker
    loaded is a corrupt virtual docid map: the fused pass must fail loudly
    rather than mint a wrong doc_id or drop the turn."""
    import pyarrow as pa
    import pytest
    from pyspark.sql import functions as F

    from trinity_spark.operators.fastbuild import blocks_from_turns
    from trinity_spark.sources.store import SegmentStore

    st = SegmentStore(str(tmp_path / "idx"))
    st.write_conv_bases(
        pa.table({
            "conv_id": ["c0", "c1", "c2"],
            "n_turns": pa.array([2, 2, 2], pa.int64()),
            "base": pa.array([0, 2, 4], pa.int64()),
        }),
        n_docs=6, n_convs=3, input_desc="slice",
    )
    turns = spark.createDataFrame(
        [(c, t, f"hello {c} {t}") for c in ("c0", "c1", "c2") for t in (0, 1)],
        "conv_id string, turn_idx int, text string",
    ).coalesce(1)
    path = st.conv_bases_dir()
    # whole table: every conv resolves, doc ids cover [0, 6)
    whole = blocks_from_turns(turns, conv_attach=(path, 0, 6, None))
    lo_hi = whole.agg(F.min("min_doc_id"), F.max("max_doc_id")).first()
    assert tuple(lo_hi) == (0, 5)
    # c2 is in the table but outside the ("c0", "c1") slice
    sliced = blocks_from_turns(turns, conv_attach=(path, 0, 6, ("c0", "c1")))
    with pytest.raises(Exception, match="ValueError: conv_id .* missing from conv_bases"):
        sliced.count()


def test_conv_bases_past_the_cap_aggregates_the_corpus_once(spark, monkeypatch):
    """Past the broadcast cap the capped driver collect and the distributed
    enumerate share ONE corpus aggregation: the conv table is persisted
    before the collect, so the input is scanned exactly once."""
    monkeypatch.setattr(D, "BROADCAST_MAX_CONVS", 0)
    scanned = spark.sparkContext.accumulator(0)

    def passthrough(batches):
        for b in batches:
            scanned.add(b.num_rows)
            yield b

    src = spark.createDataFrame(gen_transcripts(500))
    bases, n_docs, _, dense = D._conv_bases(
        src.mapInArrow(passthrough, src.schema), 2
    )
    assert (n_docs, dense) == (500, True)
    assert bases.count() > 0
    assert scanned.value == 500
