"""Selectable wire codec (PFOR) as a first-class segment format:
codec identity in lineage (codecs.h:93-95 / indexer.cpp:268-270 analog),
rank identity off a PFOR-wired store, and one wire layout per store — a
second codec or chunk width is refused at commit and at build, so every
merge is a same-codec merge (merge.cpp:256-287) that keeps byte reuse."""

import json
import os

import numpy as np
import pytest

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.functions.pfor import (
    pfor_decode_rows,
    pfor_encode,
    pfor_encode_rows,
)
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.merge import merge_segments
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentStore

QUERIES = [
    "error",
    "error AND timeout",
    "retry OR backoff",
    '"rate limit"',
    '("rate limit" OR throttle) AND api NOT sandbox',
]


def _assert_rank_identity(spark, store, corpus_docs, queries=QUERIES):
    oracle = OracleIndex.build(corpus_docs)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in queries:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in planner.plan(node, k=10).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9, q


def test_pfor_rows_roundtrip_and_per_row_byte_identity():
    rng = np.random.default_rng(7)
    for _ in range(20):
        counts = rng.integers(0, 500, size=rng.integers(1, 30))
        rows = [
            rng.integers(
                0, rng.choice([2, 64, 2**16, 2**40, 2**63]), size=c, dtype=np.uint64
            )
            for c in counts
        ]
        flat = (
            np.concatenate(rows) if counts.sum() else np.empty(0, dtype=np.uint64)
        )
        buf, off = pfor_encode_rows(flat, counts)
        # each row's bytes must equal the single-buffer encoder's output —
        # the two API layers share one wire format
        for i, r in enumerate(rows):
            assert buf[off[i] : off[i + 1]].tobytes() == pfor_encode(r)
        vals, n = pfor_decode_rows(buf, off)
        assert (n == counts).all()
        assert (vals == flat).all()


@pytest.fixture(scope="module")
def pfor_store(spark, tmp_path_factory):
    corpus = gen_transcripts(1200)
    store = SegmentStore(str(tmp_path_factory.mktemp("pfor_idx")))
    build_index(
        spark,
        spark.createDataFrame(corpus),
        store,
        rows_per_segment=400,
        codec="pfor",
    )
    return store, corpus


def test_pfor_store_codec_identity_recorded(pfor_store):
    store, _ = pfor_store
    assert store.layout().codec == "pfor"
    for m in store.segments():
        assert m.lineage["codec"] == "pfor"


def test_pfor_store_rank_identity(spark, pfor_store):
    store, corpus = pfor_store
    _assert_rank_identity(spark, store, docs_in_stable_order(corpus))


def test_pfor_store_fsck_deep(spark, pfor_store):
    store, _ = pfor_store
    rep = store.fsck(spark, deep=True)
    assert rep["ok"], rep["errors"]


def test_pfor_store_merge_preserves_codec_and_reuses(spark, pfor_store):
    store, corpus = pfor_store
    meta = merge_segments(spark, store)
    assert meta.lineage["codec"] == "pfor"
    # same-codec merge keeps the byte-reuse fast path alive
    assert meta.metrics["blocks_reused"] > 0
    _assert_rank_identity(spark, store, docs_in_stable_order(corpus))


def test_nrt_append_inherits_store_codec(spark, tmp_path):
    from trinity_spark.streaming.nrt import append_micro_segment

    corpus = gen_transcripts(500)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(
        spark, spark.createDataFrame(corpus), store,
        rows_per_segment=500, codec="pfor",
    )
    extra = gen_transcripts(90, seed=11)
    append_micro_segment(spark, store, spark.createDataFrame(extra))
    appended = [m for m in store.segments() if m.lineage.get("mode") == "nrt-append"]
    assert appended and all(m.lineage["codec"] == "pfor" for m in appended)
    docs = docs_in_stable_order(corpus)
    docs += [(d + len(docs), t) for d, t in docs_in_stable_order(extra)]
    _assert_rank_identity(spark, store, docs, queries=["error", '"rate limit"'])


def test_mixed_codec_store_reads_and_merge_reencodes(spark, tmp_path):
    """A store holds ONE codec: hand-committing a PFOR segment into a
    varbyte store raises at the commit and leaves the manifest's segments
    and generation counter untouched — no mixed-codec store can arise, so
    reads and merges need no per-codec split (merge.cpp:256-287 same-codec
    raw copy holds by construction)."""
    from pyspark.sql import functions as F

    from trinity_spark.operators.docids import assign_doc_ids
    from trinity_spark.operators.fastbuild import blocks_from_turns
    from trinity_spark.sources.store import SegmentMeta

    corpus_a = gen_transcripts(400)
    corpus_b = gen_transcripts(300, seed=5)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(
        spark, spark.createDataFrame(corpus_a), store, rows_per_segment=400,
        codec="varbyte",
    )
    before = store.read_manifest()
    turns_b = assign_doc_ids(spark.createDataFrame(corpus_b)).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(400)).cast("long")
    )
    blocks = blocks_from_turns(turns_b, codec="pfor").persist()
    with pytest.raises(ValueError, match="codec='pfor'"):
        store.commit_segment(
            blocks,
            SegmentMeta(
                "seg-pfor-b", 0, 400, 700, 300,
                {"chunk_bits": 16, "codec": "pfor"}, {},
            ),
        )
    blocks.unpersist()
    # the rejected attempt's data is discarded with it
    assert not os.path.exists(os.path.join(store.base, "segments", "seg-pfor-b"))
    after = store.read_manifest()
    assert after["segments"] == before["segments"]
    assert after["next_generation"] == before["next_generation"]
    assert after["snapshot_id"] == before["snapshot_id"]
    assert SegmentIndex(spark, store).codec == "varbyte"
    assert store.fsck(spark, deep=True)["ok"]
    _assert_rank_identity(
        spark, store, docs_in_stable_order(corpus_a),
        queries=["error", '"rate limit"'],
    )


def test_unknown_codec_tag_raises_not_drops(spark, tmp_path):
    """A manifest or segment lineage naming a codec this engine does not
    know must fail LOUD — at SegmentIndex open, at merge, and as an fsck
    error — never decode the blocks with another codec or drop them."""
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(
        spark, spark.createDataFrame(gen_transcripts(100)), store,
        rows_per_segment=100,
    )
    good = store.read_manifest()
    path = os.path.join(store.base, "manifest.json")

    def _write(m):
        with open(path, "w") as f:
            json.dump(m, f)

    for where in ("manifest", "lineage"):
        bad = json.loads(json.dumps(good))
        target = bad if where == "manifest" else bad["segments"][0]["lineage"]
        target["codec"] = "codec-from-the-future"
        _write(bad)
        with pytest.raises(ValueError, match="codec-from-the-future"):
            SegmentIndex(spark, store)
        with pytest.raises(ValueError, match="codec-from-the-future"):
            merge_segments(spark, store)
        rep = store.fsck(spark, deep=True)
        assert not rep["ok"], where
        assert any("codec-from-the-future" in e for e in rep["errors"]), where
    _write(good)
    assert store.fsck(spark, deep=True)["ok"]


def test_build_with_conflicting_layout_raises_before_any_job(spark, tmp_path):
    """The store fixes its chunk width (and codec) at the first commit: a
    later build asking for another value raises before phase 0 runs a
    single Spark job, and the manifest is untouched."""
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(
        spark, spark.createDataFrame(gen_transcripts(200)), store,
        rows_per_segment=200, chunk_bits=8,
    )
    assert store.layout() == ("native", 8)  # the default codec
    before = store.read_manifest()
    turns = spark.createDataFrame(gen_transcripts(300))
    sc = spark.sparkContext
    group = "layout-conflict-probe"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="chunk_bits=12"):
            build_index(spark, turns, store, chunk_bits=12)
        with pytest.raises(ValueError, match="codec='pfor'"):
            build_index(spark, turns, store, codec="pfor")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert store.read_manifest() == before


def test_payloads_without_positions_honored(spark, tmp_path):
    """with_payloads=True + with_positions=False must skip the position
    stream AND omit the positions column, under every codec (the block
    decode silently ignored the flag)."""
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.indexer import build_index
    from trinity_spark.operators.segments import CODECS, decode_segments
    from trinity_spark.sources.store import SegmentStore

    corpus = spark.createDataFrame(gen_transcripts(100))
    for codec in CODECS:
        store = SegmentStore(str(tmp_path / codec))
        build_index(spark, corpus, store, rows_per_segment=100, codec=codec)
        stored = store.read_postings(spark)
        out = decode_segments(
            stored, with_payloads=True, with_positions=False, codec=codec
        )
        assert "positions" not in out.columns and "payloads" in out.columns, codec
        ref = decode_segments(stored, with_payloads=True, codec=codec)
        assert out.count() == ref.count() > 0, codec


def test_keyless_manifest_reads_as_varbyte(spark, tmp_path):
    """A store recorded before the layout keys existed (no ``codec`` or
    ``chunk_bits`` in its manifest or lineages) was written as varbyte, the
    only codec then: it keeps opening, answering and passing fsck as
    varbyte, and an NRT append writes and stamps varbyte, whatever the
    default codec for new stores."""
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.indexer import SegmentIndex, build_index
    from trinity_spark.operators.segments import DEFAULT_CODEC
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.sources.store import SegmentStore
    from trinity_spark.streaming.nrt import append_micro_segment

    assert DEFAULT_CODEC != "varbyte"
    store = SegmentStore(str(tmp_path / "old"))
    build_index(
        spark, spark.createDataFrame(gen_transcripts(400)), store,
        rows_per_segment=200, codec="varbyte",
    )

    def top(q):
        out = QueryPlanner(SegmentIndex(spark, store)).plan(q, k=10).collect()
        return [(r["doc_id"], round(r["score"], 9)) for r in out]

    want = top("error AND timeout")
    with store._manifest_lock():
        m = store.read_manifest()
        for d in [m] + [s["lineage"] for s in m["segments"]]:
            d.pop("codec", None)
            d.pop("chunk_bits", None)
        store._write_manifest(m)
    assert store.layout() == ("varbyte", 16)
    assert SegmentIndex(spark, store).codec == "varbyte"
    assert top("error AND timeout") == want
    assert store.fsck(spark, deep=True)["ok"]

    extra = gen_transcripts(100, seed=9)
    extra["conv_id"] = "nrt-" + extra["conv_id"]
    meta = append_micro_segment(spark, store, spark.createDataFrame(extra))
    m = store.read_manifest()
    assert (m["codec"], meta.lineage["codec"]) == ("varbyte", "varbyte")
    assert os.path.isdir(store.segment_dir(meta.segment_id, "term_dict"))
    assert store.fsck(spark, deep=True)["ok"]
    assert top("error AND timeout")
