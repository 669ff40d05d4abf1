"""Compaction policy (plan/compact) + store integrity checker (fsck).

The reference leaves merge CANDIDATE SELECTION to applications
(MergeCandidatesCollection, /root/reference/merge.cpp:6-25); plan_compaction
is our size-tiered policy over the manifest, compact() the cascade driver.
fsck checks the invariants the segment model guarantees by construction.
"""

import shutil

import pytest

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators.compaction import compact, plan_compaction
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.merge import merge_segments
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentMeta, SegmentStore
from trinity_spark.streaming.nrt import append_micro_segment

N_BASE, N_MICRO = 600, 120


@pytest.fixture()
def tiered_store(spark, tmp_path):
    """One 600-doc build segment + four 120-doc NRT micro-segments."""
    corpus0 = gen_transcripts(N_BASE)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(corpus0), store, rows_per_segment=N_BASE)
    batches = [gen_transcripts(N_MICRO, seed=50 + i) for i in range(4)]
    for b in batches:
        append_micro_segment(spark, store, spark.createDataFrame(b))
    return store, corpus0, batches


def _oracle(corpus0, batches):
    docs = docs_in_stable_order(corpus0)
    for b in batches:
        extra = docs_in_stable_order(b)
        docs += [(d + len(docs), t) for d, t in extra]
    return OracleIndex.build(docs)


def test_plan_groups_micro_segments_only(tiered_store):
    store, _, _ = tiered_store
    plans = plan_compaction(store, min_merge=4, micro_docs=256)
    assert len(plans) == 1
    micro_ids = {m.segment_id for m in store.segments() if m.docs_cnt == N_MICRO}
    assert set(plans[0]) == micro_ids  # the 600-doc segment is a higher tier
    # below the eligibility threshold nothing is planned
    assert plan_compaction(store, min_merge=5, micro_docs=256) == []


def test_compact_cascades_gc_and_rank_identity(spark, tiered_store):
    store, corpus0, batches = tiered_store
    produced = compact(spark, store, min_merge=2, micro_docs=256)
    assert produced  # at least the tier-0 merge happened
    live = store.segments()
    assert len(live) == 1  # cascade folded everything into one segment
    assert live[0].docs_cnt == N_BASE + 4 * N_MICRO
    # gc ran: retired segment dirs are physically gone
    import os

    seg_root = os.path.join(store.base, "segments")
    assert sorted(os.listdir(seg_root)) == [live[0].segment_id]
    assert store.fsck(spark, deep=True)["ok"]

    oracle = _oracle(corpus0, batches)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout", '"rate limit"', "retry OR backoff"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_noncontiguous_merge_claims_are_legal(spark, tmp_path):
    """Merging a non-contiguous candidate set claims [min_lo, max_hi), which
    overlaps the live middle segment — legal (merge.py per-meta ranges);
    fsck must not flag it and ranking must be unchanged."""
    corpus = gen_transcripts(900)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(corpus), store, rows_per_segment=300)
    ids = sorted(m.segment_id for m in store.segments())
    assert len(ids) == 3
    merge_segments(spark, store, [ids[0], ids[2]])
    rep = store.fsck(spark, deep=True)
    assert rep["ok"], rep["errors"]

    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    planner = QueryPlanner(SegmentIndex(spark, store))
    node = parse_query("error OR timeout")
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_fsck_detects_corruption(spark, tiered_store):
    store, _, _ = tiered_store
    assert store.fsck()["ok"]
    victim = store.segments()[0].segment_id
    # a segment's second part: block_meta (native), term_dict (block codecs)
    part = "block_meta" if store.layout().codec == "native" else "term_dict"
    shutil.rmtree(store.segment_dir(victim, part))
    rep = store.fsck()
    assert not rep["ok"] and any(part in e for e in rep["errors"])


def test_fsck_deep_detects_docs_cnt_drift(spark, tiered_store):
    store, _, _ = tiered_store
    m = store.read_manifest()
    m["segments"][0]["docs_cnt"] -= 5  # stays metadata-valid; physically wrong
    store._write_manifest(m)
    assert store.fsck()["ok"]  # metadata pass cannot see it
    rep = store.fsck(spark, deep=True)
    assert not rep["ok"]
    assert any("physical docs" in e for e in rep["errors"])
    assert any("sum(docs_cnt)" in e for e in rep["errors"])


def test_fsck_deep_detects_lost_postings_file(spark, tiered_store):
    """Delete one postings part-file: the doc-count check is one-sided
    (physical < manifest only warns — zero-token docs legitimately depress
    it), but the write-time n_blocks lineage count is exact, so the loss
    errors."""
    import os

    store, _, _ = tiered_store
    meta = store.segments()[0]
    assert meta.lineage.get("n_blocks")  # every write path records it
    pdir = store.segment_dir(meta.segment_id, "postings")
    parts = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))
    os.remove(os.path.join(pdir, parts[0]))
    rep = store.fsck(spark, deep=True)
    assert not rep["ok"]
    assert any("n_blocks" in e for e in rep["errors"]), rep["errors"]


def test_fsck_empty_store(tmp_path):
    assert SegmentStore(str(tmp_path / "idx")).fsck()["ok"]


def test_merge_defragments_and_reuses_lone_partials(spark, tmp_path):
    """Both sides of the (term, chunk)-granular reuse rule:
    1. a fragmented build (many scan slices -> several partials per group)
       is consolidated: post-merge every (term, chunk) has <= 1 partial;
    2. a second merge over the now-packed segment + a micro append moves the
       packed blocks byte-identical (reused == the packed segment's blocks,
       modulo the append's groups)."""
    import pyspark.sql.functions as F

    from trinity_spark.operators.fastbuild import blocks_from_turns
    from trinity_spark.operators.segments import BLOCK_SIZE
    from trinity_spark.sources.store import SegmentMeta

    corpus = gen_transcripts(2000)
    store = SegmentStore(str(tmp_path / "idx"))
    # force fragmentation: 8 input partitions -> 8 independent encode slices
    turns = spark.createDataFrame(corpus)
    from trinity_spark.operators.docids import assign_doc_ids

    with_ids = assign_doc_ids(turns).repartition(8)
    # the varbyte wire's byte-reuse rule
    blocks = blocks_from_turns(with_ids, codec="varbyte").persist()
    meta = SegmentMeta(
        "seg-frag", 0, 0, 2000, 2000, {"chunk_bits": 16, "codec": "varbyte"}, {}
    )
    store.commit_segment(blocks, meta)
    blocks.unpersist()

    def multi_groups(df):
        return (
            df.where(F.col("doc_count") < BLOCK_SIZE)
            .groupBy("term", "chunk").count().where("count > 1").count()
        )

    assert multi_groups(store.read_blocks(spark)) > 0  # fragmentation is real
    m1 = merge_segments(spark, store)
    out = store.read_blocks(spark)
    assert multi_groups(out) == 0  # defragmented: <= 1 partial per group
    assert m1.metrics["blocks_reencoded"] > 0
    n_packed = out.count()

    append_micro_segment(spark, store, spark.createDataFrame(gen_transcripts(50, seed=7)))
    # the rule, replicated: blocks reuse unless their (term, chunk) group
    # holds 2+ partials across the inputs (here: terms the append shares
    # with the packed segment — everything lives in chunk 0 at this scale)
    pre = store.read_blocks(spark)
    multi = (
        pre.where(F.col("doc_count") < BLOCK_SIZE)
        .groupBy("term", "chunk").count().where("count > 1")
        .select("term", "chunk")
    )
    expect_reused = pre.join(multi, ["term", "chunk"], "left_anti").count() + (
        pre.where(F.col("doc_count") == BLOCK_SIZE)
        .join(multi, ["term", "chunk"], "left_semi").count()
    )
    m2 = merge_segments(spark, store)
    assert m2.metrics["blocks_reused"] == expect_reused
    assert m2.metrics["blocks_reused"] > 0.8 * n_packed  # bulk moves untouched
    assert multi_groups(store.read_blocks(spark)) == 0  # repacked groups healed


def test_fsck_tolerates_zero_token_docs(spark, tmp_path):
    """A doc whose text tokenizes to nothing (empty/whitespace turn) has zero
    postings but a valid assigned doc id; deep fsck must WARN, not error
    (ADVICE r3: the old equality check failed a perfectly healthy store)."""
    corpus = gen_transcripts(300)
    corpus.loc[corpus.index[:7], "text"] = ""       # 7 empty turns
    corpus.loc[corpus.index[7:10], "text"] = "   "  # 3 whitespace turns
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(corpus), store, rows_per_segment=300)
    rep = store.fsck(spark, deep=True)
    assert rep["ok"], rep["errors"]
    assert any("zero-posting" in w for w in rep["warnings"])
    assert any("10 docs have zero postings" in w for w in rep["warnings"])


def test_fsck_deep_still_errors_on_duplicates(spark, tmp_path):
    """The one-sided check must still catch the corruption it exists for:
    physical docs EXCEEDING the manifest count (duplicate documents)."""
    corpus = gen_transcripts(200)
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(corpus), store, rows_per_segment=200)
    m = store.read_manifest()
    m["segments"][0]["docs_cnt"] -= 5  # physical (200) now exceeds manifest
    store._write_manifest(m)
    rep = store.fsck(spark, deep=True)
    assert not rep["ok"]
    assert any("duplicate" in e for e in rep["errors"])


def test_plan_compaction_validates_policy_args(tiered_store):
    store, _, _ = tiered_store
    with pytest.raises(ValueError, match="tier_factor"):
        plan_compaction(store, tier_factor=1)
    with pytest.raises(ValueError, match="micro_docs"):
        plan_compaction(store, micro_docs=0)
    with pytest.raises(ValueError, match="max_merge"):
        plan_compaction(store, min_merge=4, max_merge=3)
    with pytest.raises(ValueError, match="min_merge"):
        plan_compaction(store, min_merge=1)


def test_compact_warns_when_max_rounds_exhausted(spark, tiered_store):
    store, _, _ = tiered_store
    with pytest.warns(RuntimeWarning, match="still pending"):
        compact(spark, store, max_rounds=0, min_merge=2, micro_docs=256)
    # and quiescent runs do NOT warn
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        compact(spark, store, min_merge=2, micro_docs=256)


def test_tier_binning_exact_on_boundaries():
    """Tier = integer repeated division: a segment sitting EXACTLY on a
    tier boundary must land in the higher tier (float log(1000)/log(10)
    = 2.9999999999999996 truncated one tier low and grouped it with
    segments up to tier_factor x smaller)."""

    class _FakeStore:
        def __init__(self, sizes):
            self._metas = [
                SegmentMeta(
                    segment_id=f"s{i}", generation=i, doc_lo=0, doc_hi=n,
                    docs_cnt=n,
                )
                for i, n in enumerate(sizes)
            ]

        def segments(self):
            return self._metas

    micro = 100
    # four segments exactly at micro*10^3 (tier 4 for tier_factor=10) and
    # four at micro*10^2 (tier 3): each tier must merge among itself only
    sizes = [micro * 10**3] * 4 + [micro * 10**2] * 4
    plans = plan_compaction(
        _FakeStore(sizes), min_merge=4, tier_factor=10, micro_docs=micro
    )
    assert sorted(sorted(p) for p in plans) == [
        ["s0", "s1", "s2", "s3"],
        ["s4", "s5", "s6", "s7"],
    ]
