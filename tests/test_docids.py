"""Dense doc_id assignment: stable (conv_id, turn_idx) order, dense ids,
driver-known count — including the non-dense turn_idx fallback path."""

import pandas as pd

from trinity_spark.fixtures import gen_transcripts
from trinity_spark.operators.docids import assign_doc_ids_counted


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


def test_sparse_turn_idx_fallback(spark):
    """Gappy / non-zero-based turn_idx must still enumerate in (conv_id,
    turn_idx) order via the row_number fallback."""
    pdf = gen_transcripts(400)
    pdf = pdf.copy()
    pdf["turn_idx"] = pdf["turn_idx"] * 3 + 7  # gaps + nonzero start
    _check(spark, pdf, num_partitions=4)


def test_duplicate_turn_idx_with_gap_routes_to_fallback(spark):
    """turn_idx [0, 0, 2, 3] passes the min/max/count screen (min=0, max=n-1,
    count=n) but is NOT a permutation; the exact distinct-count test must
    route such convs to the row_number path so doc_ids stay unique — the
    arithmetic path would mint base+0 twice."""
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
    sdf, n = assign_doc_ids_counted(spark.createDataFrame(pdf), 3)
    got = sdf.toPandas()
    assert n == len(pdf)
    assert sorted(got["doc_id"]) == list(range(len(pdf)))  # unique AND dense
    # each conversation still owns a contiguous doc_id range in conv order
    by_conv = got.groupby("conv_id")["doc_id"].agg(["min", "max", "count"])
    base = 0
    for conv_id in sorted(by_conv.index):
        r = by_conv.loc[conv_id]
        assert (r["min"], r["max"], r["count"]) == (base, base + 3, 4), conv_id
        base += 4


def test_single_conversation_many_partitions(spark):
    pdf = gen_transcripts(120)
    pdf = pdf.copy()
    pdf["conv_id"] = "conv-000"
    pdf["turn_idx"] = range(len(pdf))
    _check(spark, pdf, num_partitions=6)


def test_null_conv_id_raises(spark):
    """NULL conv_id would be counted in n_docs but dropped by the equi-join
    back to the corpus — silent index corruption.  Must fail loudly, at the
    same collect the drift check already pays (zero extra actions)."""
    import pytest

    from trinity_spark.operators.docids import assign_doc_ids_counted

    df = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b"), (None, 0, "ghost")],
        "conv_id string, turn_idx int, text string",
    )
    with pytest.raises(ValueError, match="NULL conv_id"):
        assign_doc_ids_counted(df)


def test_long_conv_duplicate_with_gap_routes_to_fallback(spark):
    """A conversation longer than the 62-slot dense-test bitmap whose
    turn_idx stream passes the min/max/count screen (min=0, max=n-1,
    count=n) but contains a duplicate+gap: the exact filtered
    countDistinct pass must catch it and route the corpus to the
    row_number fallback so doc_ids stay unique."""
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
    sdf, n = assign_doc_ids_counted(spark.createDataFrame(pdf), 3)
    got = sdf.toPandas()
    assert n == len(pdf)
    assert sorted(got["doc_id"]) == list(range(len(pdf)))  # unique AND dense


def test_worker_attach_matches_broadcast_join(spark, tmp_path):
    """Virtual builds attach doc ids worker-side at every conv count: with
    the driver-side cap forced to 0 (distributed conv bases, each of the 3
    segments loading only its conv_id slice) the blocks and query rows must
    be identical to the <=cap build, and both builds' decoded postings must
    match the materialized-map reference."""
    import shutil

    import trinity_spark.operators.docids as D
    from pyspark.sql import functions as F
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.indexer import SegmentIndex, build_index
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.sources.store import SegmentStore

    df = spark.createDataFrame(gen_transcripts(12_000))
    saved = D.BROADCAST_MAX_CONVS
    outs = {}
    try:
        for label, mode, thresh in [
            ("cap", "virtual", 8_000_000),
            ("sliced", "virtual", 0),
            ("materialized", "materialized", 8_000_000),
        ]:
            D.BROADCAST_MAX_CONVS = thresh
            base = str(tmp_path / f"attach_{label}")
            shutil.rmtree(base, ignore_errors=True)
            st = SegmentStore(base)
            build_index(spark, df, st, rows_per_segment=5_000,
                        input_desc="eq", docid_map_mode=mode)
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
            postings = idx.postings.select(
                F.expr("bit_xor(xxhash64(term, doc_id, tf, positions))")
            ).collect()[0][0]
            outs[label] = (rows, blocks, postings, len(st.segments()))
    finally:
        D.BROADCAST_MAX_CONVS = saved
    assert outs["cap"][3] == 3
    assert outs["sliced"] == outs["cap"]
    ref_rows, _, ref_postings, ref_segs = outs["materialized"]
    assert (outs["cap"][0], outs["cap"][2], outs["cap"][3]) == (
        ref_rows, ref_postings, ref_segs
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
