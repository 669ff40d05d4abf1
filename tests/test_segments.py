"""Physical segment layer: codec roundtrip, store, resume, deletes, merge —
and rank-identity straight off the encoded segments."""

import hashlib
import json
import os

import numpy as np
import pytest

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.merge import merge_segments
from trinity_spark.operators.segments import (
    BLOCK_SIZE,
    decode_segments,
    encode_postings,
)
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentStore

N_TURNS = 800


def _random_postings(spark, n_terms=5, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for t in range(n_terms):
        term = f"term{t}"
        n_docs = int(rng.integers(1, 400))
        doc_ids = np.sort(rng.choice(200_000, size=n_docs, replace=False))
        for d in doc_ids:
            tf = int(rng.integers(1, 6))
            pos = np.sort(rng.choice(1000, size=tf, replace=False) + 1)
            rows.append((term, int(d), tf, [int(p) for p in pos]))
    return rows


def test_encode_decode_roundtrip(spark):
    rows = _random_postings(spark)
    df = spark.createDataFrame(rows, "term string, doc_id long, tf int, positions array<int>")
    blocks = encode_postings(df)
    back = decode_segments(blocks)
    got = sorted(
        (r["term"], r["doc_id"], r["tf"], tuple(r["positions"])) for r in back.collect()
    )
    want = sorted((t, d, tf, tuple(p)) for t, d, tf, p in rows)
    assert got == want


def test_block_invariants(spark):
    rows = _random_postings(spark, n_terms=2, seed=11)
    df = spark.createDataFrame(rows, "term string, doc_id long, tf int, positions array<int>")
    blocks = {(r["term"], r["block_id"]): r for r in encode_postings(df).collect()}
    by_term = {}
    for t, d, tf, p in rows:
        by_term.setdefault(t, []).append((d, tf))
    for (term, block_id), r in blocks.items():
        assert 1 <= r["doc_count"] <= BLOCK_SIZE
        docs = [d for d, _ in by_term[term]]
        assert r["max_doc_id"] in docs
    # per-term doc counts preserved
    for term, posts in by_term.items():
        total = sum(r["doc_count"] for (t, _), r in blocks.items() if t == term)
        assert total == len(posts)


def _payload_postings():
    """Payload lists of every shape: one per hit, empty, null on some docs,
    and lists whose lengths disagree with tf.  A block keeps its stream only
    when no doc in it has a null list and its payload count equals its
    sum_tf; ``skew`` and ``nullskew`` tell those two rules apart."""
    rows = []
    for d in range(700):
        tf = 1 + (d % 3)
        pos = [p + 1 for p in range(tf)]
        rows.append(("perhit", d * 3, tf, pos, [(d << 8) | p for p in range(tf)]))
        if d % 2 == 0:
            rows.append(("empty", d, tf, pos, []))
        rows.append(("nulls", d, tf, pos, None if d % 50 == 7 else [d] * tf))
        if d % 5 == 0:
            rows.append(
                ("skew", d, 2, [0, 0], [d, d + 1, d + 2] if d % 10 == 0 else [d])
            )
        # a null list hidden by a neighbour's extra payload: counts match
        rows.append(
            ("nullskew", d, 1, [1], [None, [d, d], [d], [d]][d % 4])
        )
    return rows


def _block_digest(blocks) -> str:
    rows = sorted(
        (
            r["term"], r["chunk"], r["block_id"], r["doc_count"],
            r["min_doc_id"], r["max_doc_id"], r["max_tf"], r["sum_tf"],
            bytes(r["doc_deltas"]), bytes(r["tf_bytes"]), bytes(r["pos_bytes"]),
            None if r["pay_bytes"] is None else bytes(r["pay_bytes"]),
        )
        for r in blocks.collect()
    )
    return hashlib.sha256(repr(rows).encode()).hexdigest()


# sha256 of the sorted block rows encode_postings wrote before the
# vectorized encoder replaced the per-group one: the wire format is frozen
PINNED_BLOCK_DIGESTS = {
    ("varbyte", 16, "random"): "3b0490132d67a9051a312b34a19c67fe42210a344c984bba82c53335dfb4dbca",
    ("varbyte", 16, "payload"): "280b9ceea1f9bfdd6b808ad59871f264af228ac423ef03cd5a67307db49ecb04",
    ("varbyte", 8, "random"): "c922180f4c48b938e782dce8a7e4bec7f19f89e7fb848c767bb41d8595fb2901",
    ("varbyte", 8, "payload"): "15d26531ae874e499cba7eab8faafa3ae7db1cf863d059bd878c434f99998c42",
    ("pfor", 16, "random"): "36fa4ed0fc9b0e22bd018322439fa3f63ed10414ac66dfa6ea3ed9019336cfcd",
    ("pfor", 16, "payload"): "a9055098006614e0ec9c03bd057be812a2ed92f1800a61fb0d6ac041ab451de3",
    ("pfor", 8, "random"): "cb284b9ac446ca70caa1f71ccbf37a25b4c4f871d455aa9316c9576ef38292a5",
    ("pfor", 8, "payload"): "f0b429b9fc1e5856707db23f08f9dabc4192acff5cfe97ee15be1eb8d493a5a5",
}


def test_encode_postings_wire_format_is_pinned(spark):
    inputs = {
        "random": spark.createDataFrame(
            _random_postings(spark),
            "term string, doc_id long, tf int, positions array<int>",
        ),
        "payload": spark.createDataFrame(
            _payload_postings(),
            "term string, doc_id long, tf int, positions array<int>, "
            "payloads array<long>",
        ),
    }
    got = {
        (codec, cb, name): _block_digest(
            encode_postings(df, chunk_bits=cb, codec=codec)
        )
        for codec in ("varbyte", "pfor")
        for cb in (16, 8)
        for name, df in inputs.items()
    }
    assert got == PINNED_BLOCK_DIGESTS


def test_group_split_across_arrow_batches_packs_as_one_group(spark):
    """One (term, chunk) group arriving in many small Arrow batches from
    several input partitions still packs as ONE group: full blocks first,
    one partial tail."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        df = spark.createDataFrame(
            [("solo", d, 1, [1]) for d in range(1000)],
            "term string, doc_id long, tf int, positions array<int>",
        ).repartition(3)
        assert df.rdd.getNumPartitions() == 3
        got = sorted(
            (r["block_id"], r["doc_count"])
            for r in encode_postings(df).select("block_id", "doc_count").collect()
        )
    finally:
        spark.conf.set(key, prev)
    assert got == [(i, BLOCK_SIZE) for i in range(7)] + [(7, 104)]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("index"))
    corpus = gen_transcripts(N_TURNS)
    store = SegmentStore(base)
    turns = spark.createDataFrame(corpus)
    metas = build_index(spark, turns, store, rows_per_segment=300, input_desc="fixture-800")
    return store, metas, corpus


def test_build_creates_segments_with_metrics(built):
    store, metas, _ = built
    assert len(metas) == 3  # 800 rows / 300
    m = store.read_manifest()
    assert len(m["segments"]) == 3
    for s in m["segments"]:
        assert s["metrics"]["docs_per_sec"] > 0
        assert s["metrics"]["docs"] == s["docs_cnt"]
        assert s["lineage"]["input"] == "fixture-800"
        assert s["lineage"]["doc_range"] == [s["doc_lo"], s["doc_hi"]]
    gens = [s["generation"] for s in m["segments"]]
    assert gens == sorted(gens)


def test_resume_skips_committed_segments(spark, built):
    store, metas, corpus = built
    before = json.dumps(store.read_manifest(), sort_keys=True)
    turns = spark.createDataFrame(corpus)
    again = build_index(spark, turns, store, rows_per_segment=300, input_desc="fixture-800")
    assert [m.segment_id for m in again] == [m.segment_id for m in metas]
    assert json.dumps(store.read_manifest(), sort_keys=True) == before  # untouched


QUERIES = [
    "error",
    "error AND timeout",
    "retry OR backoff OR timeout",
    "error NOT test",
    '"connection reset by peer"',
    "[gpu, cuda, driver, kernel] min=2",
    "the AND zxqv-marker-7",
]


def test_rank_identity_from_segments(spark, built):
    store, _, corpus = built
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in QUERIES:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (gd, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9, (q, gd)


def test_deletes_then_merge(spark, built):
    store, _, corpus = built
    oracle0 = OracleIndex.build(docs_in_stable_order(corpus))
    node = parse_query("error")
    top = oracle0.topk(node, k=3)
    kill = [d for d, _ in top[:2]]

    store.add_deletes(spark, kill)
    planner = QueryPlanner(SegmentIndex(spark, store))
    got = [r["doc_id"] for r in planner.plan(node, k=10).collect()]
    assert not set(kill) & set(got)

    # merge applies tombstones physically and retires inputs
    meta = merge_segments(spark, store)
    m = store.read_manifest()
    assert [s["segment_id"] for s in m["segments"]] == [meta.segment_id]
    assert m["deletes"] == []
    assert meta.docs_cnt == N_TURNS - len(kill)

    # post-merge scores use the shrunken docs_cnt (reference recomputes stats)
    oracle1 = OracleIndex.build(
        [(d, t) for d, t in docs_in_stable_order(corpus) if d not in kill]
    )
    oracle1.n_docs = N_TURNS - len(kill)
    planner2 = QueryPlanner(SegmentIndex(spark, store))
    got2 = [(r["doc_id"], r["score"]) for r in planner2.plan(node, k=10).collect()]
    want2 = oracle1.topk(node, k=10)
    assert [d for d, _ in got2] == [d for d, _ in want2]
    for (gd, gs), (_, ws) in zip(got2, want2):
        assert abs(gs - ws) <= 1e-9


def test_half_written_segment_invisible(spark, tmp_path_factory):
    """A crashed write (data present, no manifest entry) must be invisible."""
    base = str(tmp_path_factory.mktemp("crash"))
    store = SegmentStore(base)
    os.makedirs(store.segment_dir("seg-orphan", "postings"), exist_ok=True)
    assert store.segments() == []
    assert store.read_blocks(spark).count() == 0


def _fresh_index(spark, tmp_path_factory, name, n_turns=800, rows_per_segment=400):
    base = str(tmp_path_factory.mktemp(name))
    corpus = gen_transcripts(n_turns)
    store = SegmentStore(base)
    build_index(
        spark, spark.createDataFrame(corpus), store,
        rows_per_segment=rows_per_segment, input_desc=name,
    )
    return store, corpus


def test_merge_byte_reuse_fast_path(spark, tmp_path_factory):
    """Full blocks with no tombstone in range must move through a merge
    byte-identical (the merge.cpp:166-180 raw-copy analog, finer-grained:
    per block, not per single-source term)."""
    store = SegmentStore(str(tmp_path_factory.mktemp("reuse")))
    corpus = gen_transcripts(800)
    # one input partition: dense input is encoded straight from the input's
    # partitions, so frequent terms fill 128-doc blocks only when each
    # segment's docs share one partition
    build_index(
        spark, spark.createDataFrame(corpus).coalesce(1), store,
        rows_per_segment=400, input_desc="reuse", codec="varbyte",
    )
    before = {
        (r["term"], r["chunk"], r["min_doc_id"]): (
            bytes(r["doc_deltas"]), bytes(r["tf_bytes"]), bytes(r["pos_bytes"]),
            r["doc_count"], r["max_doc_id"], r["max_tf"], r["sum_tf"],
        )
        for r in store.read_blocks(spark).where(
            f"doc_count = {BLOCK_SIZE}"
        ).collect()
    }
    assert before, "fixture produced no full blocks — weaken rows_per_segment"
    merge_segments(spark, store)
    after = {
        (r["term"], r["chunk"], r["min_doc_id"]): (
            bytes(r["doc_deltas"]), bytes(r["tf_bytes"]), bytes(r["pos_bytes"]),
            r["doc_count"], r["max_doc_id"], r["max_tf"], r["sum_tf"],
        )
        for r in store.read_blocks(spark).collect()
    }
    for key, row in before.items():
        assert after.get(key) == row, key
    # and the merged index still ranks identically
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "retry OR backoff OR timeout", '"connection reset by peer"']:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_merge_reuse_survives_near_miss_tombstones(spark, tmp_path_factory):
    """A block whose [min_doc_id, max_doc_id] range COVERS a tombstoned id
    but does not CONTAIN it must keep its reuse verdict (the membership
    refine): with tombstones scattered across every chunk, the range probe
    alone re-encoded the majority of all blocks at scale (36.7% reuse at a
    10M merge with 1000 tombstones).

    Corpus: doc0 'alpha', doc1 'beta', doc2 'alpha' — alpha's lone partial
    spans [0, 2] and covers the tombstone at doc 1 without containing it;
    beta's block is a true hit."""
    base = str(tmp_path_factory.mktemp("nearmiss"))
    store = SegmentStore(base)
    rows = [("c0", 0, "alpha"), ("c1", 0, "beta"), ("c2", 0, "alpha")]
    build_index(
        spark,
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        ).coalesce(1),
        store,
        rows_per_segment=3,
        codec="varbyte",
    )
    alpha_before = {
        (bytes(r["doc_deltas"]), r["min_doc_id"], r["max_doc_id"])
        for r in store.read_blocks(spark).where("term = 'alpha'").collect()
    }
    assert len(alpha_before) == 1
    assert next(iter(alpha_before))[1:] == (0, 2)  # range covers doc 1

    store.add_deletes(spark, [1])
    meta = merge_segments(spark, store)
    # alpha reused byte-identical; beta (true hit) re-encoded away entirely
    assert meta.metrics["blocks_reused"] == 1
    assert meta.metrics["blocks_reencoded"] == 0  # beta had only doc 1
    after = store.read_blocks(spark).collect()
    assert {r["term"] for r in after} == {"alpha"}
    assert {
        (bytes(r["doc_deltas"]), r["min_doc_id"], r["max_doc_id"]) for r in after
    } == alpha_before
    assert meta.docs_cnt == 2
    planner = QueryPlanner(SegmentIndex(spark, store))
    got = {r["doc_id"] for r in planner.matching_docs(parse_query("alpha")).collect()}
    assert got == {0, 2}
    assert planner.matching_docs(parse_query("beta")).collect() == []


def test_merge_reuse_near_miss_tombstones_pfor(spark, tmp_path_factory):
    """The membership refine decodes doc_deltas with the STORE's wire codec:
    same near-miss scenario on a PFOR store must reuse alpha's block."""
    base = str(tmp_path_factory.mktemp("nearmiss_pfor"))
    store = SegmentStore(base)
    rows = [("c0", 0, "alpha"), ("c1", 0, "beta"), ("c2", 0, "alpha")]
    build_index(
        spark,
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        ).coalesce(1),
        store,
        rows_per_segment=3,
        codec="pfor",
    )
    store.add_deletes(spark, [1])
    meta = merge_segments(spark, store)
    assert meta.metrics["blocks_reused"] == 1
    assert meta.metrics["blocks_reencoded"] == 0
    assert meta.lineage["codec"] == "pfor"
    planner = QueryPlanner(SegmentIndex(spark, store))
    got = {r["doc_id"] for r in planner.matching_docs(parse_query("alpha")).collect()}
    assert got == {0, 2}


def test_merge_refine_true_hits_still_reencode(spark, tmp_path_factory):
    """The refine must not over-reuse: a block that CONTAINS a tombstoned
    doc re-encodes with the doc physically removed."""
    base = str(tmp_path_factory.mktemp("truehit"))
    store = SegmentStore(base)
    rows = [("c0", 0, "alpha beta"), ("c1", 0, "beta"), ("c2", 0, "alpha")]
    build_index(
        spark,
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        ).coalesce(1),
        store,
        rows_per_segment=3,
        codec="varbyte",
    )
    store.add_deletes(spark, [0])  # in BOTH alpha's and beta's blocks
    meta = merge_segments(spark, store)
    assert meta.metrics["blocks_reused"] == 0
    assert meta.metrics["blocks_reencoded"] == 2
    assert meta.docs_cnt == 2
    back = {
        (r["term"], r["doc_id"])
        for r in decode_segments(store.read_blocks(spark)).collect()
    }
    assert back == {("alpha", 2), ("beta", 1)}


def test_partial_merge_docs_cnt_presence_based(spark, tmp_path_factory):
    """A tombstone applied by an earlier partial merge must NOT be subtracted
    again by a later merge that sees the same (unretired) tombstone."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "partial")
    n = len(corpus)
    seg_ids = [m.segment_id for m in store.segments()]
    assert len(seg_ids) == 2
    kill = 5  # doc_id in the first segment's [0, 400) range
    store.add_deletes(spark, [kill])

    # partial merge of segment 0 applies the delete...
    meta_a = merge_segments(spark, store, segment_ids=[seg_ids[0]])
    assert meta_a.docs_cnt == 400 - 1
    # ...but must NOT retire the tombstone (other segments may still need it)
    assert store.read_manifest()["deletes"], "partial merge retired tombstones"

    # the full merge re-reads the same tombstone; the partial merge's
    # lineage records its generation as applied (deletes_gens), so gen-aware
    # accounting must not subtract the already-removed doc a second time
    meta_b = merge_segments(spark, store)
    assert meta_b.docs_cnt == n - 1
    assert store.read_manifest()["deletes"] == []  # full merge retires it

    oracle = OracleIndex.build(
        [(d, t) for d, t in docs_in_stable_order(corpus) if d != kill]
    )
    oracle.n_docs = n - 1
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_tombstones_added_after_merge_read_survive(spark, tmp_path_factory):
    """Gen-scoped retirement: a delete added after the merge started (here:
    simulated by adding it between building and checking) must survive a full
    merge that never read it."""
    store, _ = _fresh_index(spark, tmp_path_factory, "genscope")
    merge_segments(spark, store)  # full merge, no deletes read
    gen = store.add_deletes(spark, [3])
    # the merge above must not have cleared a tombstone it never saw
    assert [d["gen"] for d in store.read_manifest()["deletes"]] == [gen]


def test_payload_stream_roundtrip(spark):
    """Per-hit payloads (codecs.h:191-195 new_hit / runtime.h term_hit):
    opaque uint64s parallel to positions, varbyte'd into the optional
    pay_bytes stream; decode_segments(with_payloads=True) reconstructs them;
    the default decode path never touches the column."""
    rows = []
    for t in range(3):
        for d in range(300):
            tf = 1 + (d % 3)
            pos = [p + 1 for p in range(tf)]
            pay = [((d << 8) | (t << 4) | p) for p in range(tf)]
            rows.append((f"term{t}", d * 7, tf, pos, pay))
    df = spark.createDataFrame(
        rows, "term string, doc_id long, tf int, positions array<int>, payloads array<long>"
    )
    blocks = encode_postings(df)
    back = decode_segments(blocks, with_payloads=True)
    got = {
        (r["term"], r["doc_id"]): (list(r["positions"]), list(r["payloads"]))
        for r in back.collect()
    }
    assert len(got) == len(rows)
    for term, doc_id, tf, pos, pay in rows:
        assert got[(term, doc_id)] == (pos, pay), (term, doc_id)
    # payload-free default path: identical logical postings, no payload col
    plain = decode_segments(blocks)
    assert plain.columns == ["term", "doc_id", "tf", "positions"]
    assert plain.count() == len(rows)


def test_payload_free_blocks_decode_empty_payloads(spark):
    """Blocks built without payloads (the fused tokenizer path) decode to
    empty payload lists under with_payloads=True."""
    rows = [("a", 1, 2, [1, 2]), ("a", 2, 1, [5])]
    df = spark.createDataFrame(rows, "term string, doc_id long, tf int, positions array<int>")
    back = decode_segments(encode_postings(df), with_payloads=True).collect()
    assert all(list(r["payloads"]) == [] for r in back)
    assert {(r["term"], r["doc_id"]) for r in back} == {("a", 1), ("a", 2)}


def test_gc_removes_only_unreferenced(spark, tmp_path_factory):
    """store.gc() deletes merged-away segment dirs + retired tombstone files
    and NOTHING the manifest still references; queries unaffected.  While
    pre-merge snapshots are retained, gc removes nothing (time-travel
    protection); after expire_snapshots it reclaims."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "gc")
    store.add_deletes(spark, [5])
    meta = merge_segments(spark, store)  # retires inputs + the tombstone gen
    seg_root = os.path.join(store.base, "segments")
    assert len(os.listdir(seg_root)) == 3  # 2 retired dirs + 1 merged
    protected = store.gc()  # retained snapshots still reference the inputs
    assert protected == {"segments": [], "deletes": [], "docid_map_slices": []}
    assert len(os.listdir(seg_root)) == 3
    store.expire_snapshots(keep_last=1)
    removed = store.gc()
    assert len(removed["segments"]) == 2  # the two retired input segments
    assert len(removed["deletes"]) == 1  # the retired tombstone file
    assert os.listdir(seg_root) == [meta.segment_id]
    # second pass is a no-op; index still answers correctly
    assert store.gc() == {"segments": [], "deletes": [], "docid_map_slices": []}
    oracle = OracleIndex.build(
        [(d, t) for d, t in docs_in_stable_order(corpus) if d != 5]
    )
    oracle.n_docs = len(corpus) - 1
    planner = QueryPlanner(SegmentIndex(spark, store))
    node = parse_query("error")
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_time_travel_query_pre_delete(spark, tmp_path_factory):
    """store.at(snapshot_id) answers queries AS OF that commit: a document
    deleted later is still visible (and scored identically) through the
    pinned view, while the live store masks it."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "tt")
    pre = store.read_manifest()["snapshot_id"]
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    node = parse_query("error")
    want = oracle.topk(node, k=5)
    victim = want[0][0]
    store.add_deletes(spark, [victim])

    live = QueryPlanner(SegmentIndex(spark, store)).plan(node, k=5).collect()
    assert victim not in [r["doc_id"] for r in live]

    pinned = QueryPlanner(SegmentIndex(spark, store.at(pre))).plan(node, k=5)
    got = [(r["doc_id"], r["score"]) for r in pinned.collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9

    snaps = store.list_snapshots()
    assert [s["snapshot_id"] for s in snaps] == sorted(
        s["snapshot_id"] for s in snaps
    )
    assert snaps[-1]["n_delete_files"] == 1 and snaps[-1]["n_segments"] == 2

    with pytest.raises(ValueError, match="no snapshot 9999"):
        store.at(9999)
    with pytest.raises(RuntimeError, match="pinned"):
        store.at(pre).add_deletes(spark, [1])


def test_time_travel_pre_merge_until_expired(spark, tmp_path_factory):
    """A pre-merge snapshot stays queryable after the merge retires its
    input segments (gc protects snapshot-referenced data); expire_snapshots
    + gc reclaims and the pinned id is gone."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "ttm")
    pre = store.read_manifest()["snapshot_id"]
    merge_segments(spark, store)
    store.gc()  # pre-merge snapshot still pins the retired inputs

    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    node = parse_query("retry OR backoff")
    want = oracle.topk(node, k=5)
    pinned = QueryPlanner(SegmentIndex(spark, store.at(pre))).plan(node, k=5)
    assert [r["doc_id"] for r in pinned.collect()] == [d for d, _ in want]

    expired = store.expire_snapshots(keep_last=1)
    assert pre in expired
    store.gc()
    with pytest.raises(ValueError, match="no snapshot"):
        store.at(pre)
    # live store unaffected throughout
    live = QueryPlanner(SegmentIndex(spark, store)).plan(node, k=5)
    assert [r["doc_id"] for r in live.collect()] == [d for d, _ in want]


def test_snapshot_retention_caps_history(spark, tmp_path_factory):
    """snapshot_retention auto-trims history on every commit: an NRT stream
    commits once per micro-batch, so unbounded retention would leak one
    snapshot file per epoch forever."""
    base = str(tmp_path_factory.mktemp("retain"))
    store = SegmentStore(base)
    store.set_snapshot_retention(3)
    for i in range(6):
        store.add_deletes(spark, [i])
    snaps = store.list_snapshots()
    assert len(snaps) == 3
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == sorted(ids) and ids[-1] == store.read_manifest()["snapshot_id"]
    store.at(ids[0])  # newest retained: still reachable
    with pytest.raises(ValueError, match="no snapshot"):
        store.at(1)
    with pytest.raises(ValueError, match="keep_last"):
        store.set_snapshot_retention(0)
    store.set_snapshot_retention(None)  # back to retain-all
    n = len(store.list_snapshots())
    store.add_deletes(spark, [99])
    assert len(store.list_snapshots()) == n + 1

    # every NRT append is ONE commit: under a cap of n, the last n appends
    # stay reachable through store.at, each with its segment and metrics
    from trinity_spark.streaming.nrt import append_micro_segment

    nrt = SegmentStore(str(tmp_path_factory.mktemp("retain_nrt")))
    nrt.set_snapshot_retention(2)
    appended = []
    for seed in range(3):
        meta = append_micro_segment(
            spark, nrt, spark.createDataFrame(gen_transcripts(40, seed=seed)),
            input_desc=f"retain-{seed}",
        )
        appended.append((nrt.read_manifest()["snapshot_id"], meta.segment_id))
    for snap_id, seg_id in appended[-2:]:
        segs = {s["segment_id"]: s for s in nrt.at(snap_id).read_manifest()["segments"]}
        assert segs[seg_id]["metrics"]["wall_sec"] > 0
    with pytest.raises(ValueError, match="no snapshot"):
        nrt.at(appended[0][0])


def test_compact_gc_honors_snapshot_retention(spark, tmp_path_factory):
    """compact(gc=True) must not destroy a user-configured retention
    window: it expires down to snapshot_retention, not to 1."""
    from trinity_spark.operators.compaction import compact

    store, _ = _fresh_index(spark, tmp_path_factory, "cretain", n_turns=400,
                            rows_per_segment=100)
    store.set_snapshot_retention(6)
    compact(spark, store, min_merge=2, max_merge=8, micro_docs=200)
    assert len(store.list_snapshots()) == 6
    # without retention the same call collapses history to the newest
    store.set_snapshot_retention(None)
    compact(spark, store, min_merge=2, max_merge=8, micro_docs=200)
    assert len(store.list_snapshots()) == 1


def test_payloads_in_hits_surface(spark, tmp_path_factory):
    """Indexed per-hit payloads round-trip to plan(with_hits=True,
    with_payloads=True) for top-k winners (runtime.h:8-20 term_hit.payload,
    materialized per match in queryexec_ctx.cpp:317-352) — no hand join."""
    base = str(tmp_path_factory.mktemp("payhits"))
    store = SegmentStore(base)
    rows = []
    n_docs = 40
    for d in range(n_docs):
        tf = 1 + (d % 3)
        rows.append(
            ("alpha", d, tf, [p + 1 for p in range(tf)],
             [(d << 8) | p for p in range(tf)])
        )
        if d % 2 == 0:
            rows.append(("beta", d, 1, [99], [d * 7 + 1]))
    df = spark.createDataFrame(
        rows,
        "term string, doc_id long, tf int, positions array<int>, payloads array<long>",
    )
    from trinity_spark.sources.store import SegmentMeta

    meta = SegmentMeta(
        segment_id=f"seg-{0:014d}-{n_docs:014d}", generation=0,
        doc_lo=0, doc_hi=n_docs, docs_cnt=n_docs,
    )
    store.commit_segment(df, meta)  # native rows, the default codec
    planner = QueryPlanner(SegmentIndex(spark, store))
    out = planner.plan("alpha AND beta", k=5, with_hits=True, with_payloads=True)
    got = out.collect()
    assert got
    for r in got:
        d = r["doc_id"]
        hits = {h["term"]: h for h in r["hits"]}
        assert set(hits) == {"alpha", "beta"}
        tf = 1 + (d % 3)
        assert list(hits["alpha"]["payloads"]) == [(d << 8) | p for p in range(tf)]
        assert list(hits["alpha"]["positions"]) == [p + 1 for p in range(tf)]
        assert list(hits["beta"]["payloads"]) == [d * 7 + 1]
    # payload-free default surface is unchanged
    plain = planner.plan("alpha AND beta", k=5, with_hits=True).collect()
    assert "payloads" not in plain[0]["hits"][0].asDict()


def test_virtual_docid_map_build(spark, tmp_path_factory):
    """Dense input builds the virtual docid map: no corpus copy on disk —
    only the conv base table + the arithmetic rule; same segments, same
    ranks, resumable, and the map serves every (conv_id, turn_idx) key at
    its stable-order doc id."""
    base = tmp_path_factory.mktemp("virt")
    corpus = gen_transcripts(800)
    src = str(base / "input")
    spark.createDataFrame(corpus).write.parquet(src)
    turns = spark.read.parquet(src)
    store = SegmentStore(str(base / "idx"))
    metas = build_index(
        spark, turns, store, rows_per_segment=300, input_desc=src,
    )
    assert len(metas) == 3
    assert store.docid_map_mode() == "virtual"
    assert not os.path.exists(os.path.join(store.docid_map_dir(), "_SUCCESS"))

    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout", '"connection reset by peer"']:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9

    # the map comes off the conv bases alone: every key at its stable-order
    # doc id (per-turn text equality is pinned by test_docids and by rank
    # identity with the oracle above)
    dm = store.read_docid_map(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(dm["doc_id"]) == list(range(800))
    want = corpus.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    assert list(zip(dm["conv_id"], dm["turn_idx"])) == list(
        zip(want["conv_id"], want["turn_idx"])
    )

    # resume: a second build sees every segment committed and adds nothing
    again = build_index(
        spark, turns, store, rows_per_segment=300, input_desc=src,
    )
    assert [m.segment_id for m in again] == [m.segment_id for m in metas]


def test_docid_map_follows_the_input(spark, tmp_path_factory, jobs_in_window):
    """Default arguments, 3,000 turns, one segment: dense input writes the
    conv bases and no batch-map files in 3 Spark jobs (a build that copied
    the corpus ran 7; a block-codec build runs 4, with its count of the
    fused pass); non-dense input (``turn_idx*3+7``) writes the batch map on
    ONE corpus aggregation in 6 jobs.  A second run adds nothing."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("mapchoice")
    dense = spark.createDataFrame(gen_transcripts(3000))
    sparse = dense.withColumn("turn_idx", F.col("turn_idx") * 3 + 7)
    for label, turns, mode, want_jobs in [
        ("dense", dense, "virtual", 3), ("sparse", sparse, "batch", 6),
    ]:
        store = SegmentStore(str(base / label))
        metas, got, started = jobs_in_window(
            f"map-{label}", lambda: build_index(spark, turns, store)
        )
        assert got == started and len(started) == want_jobs, (label, started)
        assert store.docid_map_mode() == mode
        map_files = [
            f for f in (
                os.listdir(store.docid_map_dir())
                if os.path.isdir(store.docid_map_dir()) else ()
            ) if f.endswith(".parquet")
        ]
        assert bool(map_files) == (mode == "batch"), label
        assert os.path.isdir(store.conv_bases_dir()) == (mode == "virtual")
        assert [m.segment_id for m in build_index(spark, turns, store)] == [
            m.segment_id for m in metas
        ]
        assert len(store.segments()) == len(metas) == 1


def test_with_hits_from_segments(spark, tmp_path_factory):
    """The matched-hits surface over the PHYSICAL segment path: positions
    come back through the block decode and match the frozen tokenizer."""
    from trinity_spark.tokenizer import tokenize_terms_py

    store, corpus = _fresh_index(spark, tmp_path_factory, "hits-seg")
    planner = QueryPlanner(SegmentIndex(spark, store))
    rows = planner.plan("error AND timeout", k=5, with_hits=True).collect()
    assert rows
    texts = {d: t for d, t in docs_in_stable_order(corpus)}
    for r in rows:
        got = {h["term"]: (h["tf"], list(h["positions"])) for h in r["hits"]}
        assert set(got) == {"error", "timeout"}
        toks = tokenize_terms_py(texts[r["doc_id"]])
        for term, (tf, positions) in got.items():
            want = [p for t, p in toks if t == term]
            assert positions == want and tf == len(want), (r["doc_id"], term)


def test_nrt_append_onto_virtual_store(spark, tmp_path_factory):
    """NRT micro-segments compose with a virtual-docid_map batch store: the
    combined map = the conv bases' keys + the NRT slices' keys."""
    from trinity_spark.streaming.nrt import append_micro_segment

    base = tmp_path_factory.mktemp("virt-nrt")
    corpus = gen_transcripts(600)
    src = str(base / "input")
    spark.createDataFrame(corpus).write.parquet(src)
    store = SegmentStore(str(base / "idx"))
    build_index(
        spark, spark.read.parquet(src), store, rows_per_segment=600,
        input_desc=src,
    )
    extra = gen_transcripts(200, seed=99)
    meta = append_micro_segment(spark, store, spark.createDataFrame(extra))
    assert meta.doc_lo == 600 and meta.doc_hi == 800

    dm = store.read_docid_map(spark)
    assert dm.count() == 800
    assert dm.select("doc_id").distinct().count() == 800

    docs = docs_in_stable_order(corpus)
    docs += [(d + 600, t) for d, t in docs_in_stable_order(extra)]
    oracle = OracleIndex.build(docs)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_resume_with_mismatched_rows_per_segment_refuses(spark, tmp_path_factory):
    """Resuming with a different rows_per_segment would mint overlapping
    segment ids (duplicate docs); it must fail loudly instead."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "mismatch")
    with pytest.raises(ValueError, match="rows_per_segment"):
        build_index(
            spark, spark.createDataFrame(corpus), store,
            rows_per_segment=300, input_desc="mismatch",
        )


def test_resume_with_divisor_rows_per_segment_refuses(spark, tmp_path_factory):
    """A STRICT DIVISOR of every committed doc_lo (200 after building with
    400) passed the old modulus-only guard but still mints new overlapping
    segment ids (seg-0-200 vs committed seg-0-400) — duplicate documents.
    The span check must reject it."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "divisor")
    with pytest.raises(ValueError, match="rows_per_segment"):
        build_index(
            spark, spark.createDataFrame(corpus), store,
            rows_per_segment=200, input_desc="divisor",
        )


def test_resume_derives_rows_per_segment_from_manifest(spark, tmp_path_factory):
    """Resume without rows_per_segment derives the committed value from the
    manifest (segment spans) instead of re-computing a parallelism-dependent
    default that could mismatch."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "derive")
    before = [m.segment_id for m in store.segments()]
    again = build_index(
        spark, spark.createDataFrame(corpus), store, input_desc="derive"
    )
    assert [m.segment_id for m in again] == before
    assert [m.segment_id for m in store.segments()] == before


def test_resume_guard_ignores_nrt_segments(spark, tmp_path_factory):
    """nrt-append micro-segments start at arbitrary doc_lo (the high-water
    mark); they must not trip the batch resume guard."""
    from trinity_spark.streaming.nrt import append_micro_segment

    store, corpus = _fresh_index(spark, tmp_path_factory, "nrt-guard")
    extra = gen_transcripts(150, seed=41)  # doc range [800, 950): not % 400
    meta = append_micro_segment(spark, store, spark.createDataFrame(extra))
    assert meta.doc_lo == 800 and meta.doc_hi == 950
    # resume of the batch build must neither raise nor add segments
    before = sorted(m.segment_id for m in store.segments())
    build_index(
        spark, spark.createDataFrame(corpus), store,
        rows_per_segment=400, input_desc="nrt-guard",
    )
    assert sorted(m.segment_id for m in store.segments()) == before


def test_resume_after_merge_rebuilds_nothing(spark, tmp_path_factory):
    """After a merge the doc ranges live in a merged-* segment; a resumed
    batch build must recognize the coverage (not just exact segment ids) and
    add nothing — rebuilding would duplicate every document."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "postmerge")
    merge_segments(spark, store)
    before = [m.segment_id for m in store.segments()]
    assert before and before[0].startswith("merged-")
    build_index(
        spark, spark.createDataFrame(corpus), store,
        rows_per_segment=400, input_desc="postmerge",
    )
    assert [m.segment_id for m in store.segments()] == before


def test_merge_preserves_nondefault_chunk_bits(spark, tmp_path_factory):
    """Segments built with non-default chunk_bits must merge at THAT width:
    re-encoded blocks and recorded lineage share one chunk geometry, so later
    merges' tombstone chunk probe and chunk-restricted pruning stay exact."""
    base = str(tmp_path_factory.mktemp("cbits"))
    corpus = gen_transcripts(800)
    store = SegmentStore(base)
    build_index(
        spark, spark.createDataFrame(corpus), store, rows_per_segment=400,
        input_desc="cbits", chunk_bits=8,
    )
    kill = 5
    store.add_deletes(spark, [kill])
    meta = merge_segments(spark, store)
    assert meta.lineage["chunk_bits"] == 8
    # every block (reused AND re-encoded) uses 8-bit chunks; the old default
    # re-encode would have produced chunk = doc_id >> 16 == 0 everywhere
    rows = store.read_blocks(spark).select("chunk", "min_doc_id", "max_doc_id").collect()
    assert any(r["chunk"] > 0 for r in rows)  # 800 docs span chunks 0..3
    for r in rows:
        assert r["chunk"] == r["min_doc_id"] >> 8
        assert r["chunk"] == r["max_doc_id"] >> 8
    # a second merge's tombstone probe now equi-joins on a consistent chunk
    store.add_deletes(spark, [700])
    meta2 = merge_segments(spark, store)
    assert meta2.lineage["chunk_bits"] == 8
    oracle = OracleIndex.build(
        [(d, t) for d, t in docs_in_stable_order(corpus) if d not in (kill, 700)]
    )
    oracle.n_docs = 800 - 2
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_nrt_append_inherits_store_chunk_bits(spark, tmp_path_factory):
    """A default NRT append onto a chunk_bits=8 store must write 8-bit
    chunks: the store fixes its chunk width at the first commit.  Were the
    append to write the 16-bit default, the merge would see two widths and
    re-encode every block (0 reused) instead of splicing bytes."""
    from trinity_spark.streaming.nrt import append_micro_segment

    base = str(tmp_path_factory.mktemp("nrtwidth"))
    corpus = gen_transcripts(600)
    store = SegmentStore(base)
    build_index(
        spark, spark.createDataFrame(corpus), store, rows_per_segment=600,
        input_desc="nrtwidth", chunk_bits=8, codec="varbyte",
    )
    extra = gen_transcripts(200, seed=77)
    appended = append_micro_segment(spark, store, spark.createDataFrame(extra))
    assert appended.lineage["chunk_bits"] == 8
    assert SegmentIndex(spark, store).chunk_bits == 8
    meta = merge_segments(spark, store)
    assert meta.lineage["chunk_bits"] == 8
    assert meta.metrics["blocks_reused"] > 0
    for r in store.read_blocks(spark).select("chunk", "min_doc_id").collect():
        assert r["chunk"] == r["min_doc_id"] >> 8
    assert store.fsck(spark, deep=True)["ok"]
    docs = docs_in_stable_order(corpus)
    docs += [(d + 600, t) for d, t in docs_in_stable_order(extra)]
    oracle = OracleIndex.build(docs)
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "retry OR backoff OR timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_merge_preserves_payloads_in_reencoded_blocks(spark, tmp_path_factory):
    """Round-4 review regression: blocks routed to the re-encode path
    (tombstone-hit or repacked) must carry their per-hit payloads through
    the merge — only reused blocks kept them before."""
    from trinity_spark.sources.store import SegmentMeta

    base = str(tmp_path_factory.mktemp("paymerge"))
    store = SegmentStore(base)
    n_docs = 30
    rows = [
        ("alpha", d, 1, [1], [d * 11 + 3]) for d in range(n_docs)
    ]
    df = spark.createDataFrame(
        rows,
        "term string, doc_id long, tf int, positions array<int>, payloads array<long>",
    )
    blocks = encode_postings(df)
    meta = SegmentMeta(
        segment_id=f"seg-{0:014d}-{n_docs:014d}", generation=0,
        doc_lo=0, doc_hi=n_docs, docs_cnt=n_docs,
        lineage={"codec": "varbyte"},  # the block re-encode path
    )
    store.commit_segment(blocks, meta)
    # a tombstone forces alpha's block through the re-encode path
    store.add_deletes(spark, [7])
    merged = merge_segments(spark, store)
    assert merged.lineage["deletes_applied"] == 1
    planner = QueryPlanner(SegmentIndex(spark, store))
    out = planner.plan("alpha", k=n_docs, with_hits=True, with_payloads=True)
    got = {r["doc_id"]: r["hits"][0]["payloads"] for r in out.collect()}
    assert 7 not in got
    assert len(got) == n_docs - 1
    for d, pay in got.items():
        assert list(pay) == [d * 11 + 3], d


def test_merge_delete_accounting_counts_zero_token_docs(spark, tmp_path_factory):
    """Round-4 review regression: deleting a zero-token doc (assigned id,
    no postings) must still decrement docs_cnt at merge — presence-based
    counting missed it and left N (hence every idf) inflated forever."""
    base = tmp_path_factory.mktemp("zerodel")
    corpus = gen_transcripts(200)
    corpus.loc[5, "text"] = "   "  # doc 5 tokenizes to zero terms
    store = SegmentStore(str(base / "idx"))
    build_index(
        spark, spark.createDataFrame(corpus), store, rows_per_segment=100
    )
    assert sum(m.docs_cnt for m in store.segments()) == 200
    store.add_deletes(spark, [5])
    merged = merge_segments(spark, store)
    assert merged.lineage["deletes_applied"] == 1
    assert merged.docs_cnt == 199
    # scoring N matches the oracle built without doc 5
    oracle = OracleIndex.build(
        [(d, ("" if d == 5 else t)) for d, t in docs_in_stable_order(corpus)]
    )
    oracle.n_docs = 199
    planner = QueryPlanner(SegmentIndex(spark, store))
    node = parse_query("error")
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9


def test_merge_without_deletes_gens_counts_zero_token_tombstone(
    spark, tmp_path_factory
):
    """A segment whose lineage has no ``deletes_gens`` key has applied no
    tombstone generation.  Deleting its zero-token doc (an assigned id with
    no postings, so nothing to find by decoding) must still drop docs_cnt
    by one at merge, and N must match the oracle's."""
    from trinity_spark.operators.fastbuild import postings_from_turns
    from trinity_spark.sources.store import SegmentMeta

    corpus = gen_transcripts(200)
    corpus.loc[5, "text"] = "   "  # tokenizes to zero terms
    docs = docs_in_stable_order(corpus)
    n = len(docs)
    zero = next(d for d, t in docs if not t.strip())
    turns = spark.createDataFrame(docs, "doc_id long, text string")
    store = SegmentStore(str(tmp_path_factory.mktemp("nogens") / "idx"))
    store.commit_segment(
        postings_from_turns(turns),  # native rows, the default codec
        SegmentMeta(
            segment_id=f"seg-{0:014d}-{n:014d}", generation=0,
            doc_lo=0, doc_hi=n, docs_cnt=n,
        ),
    )
    # the store stamps an empty list at commit; a segment written before
    # the key existed has none
    with store._manifest_lock():
        m = store.read_manifest()
        assert m["segments"][0]["lineage"].pop("deletes_gens") == []
        store._write_manifest(m)
    assert "deletes_gens" not in store.segments()[0].lineage
    store.add_deletes(spark, [zero])

    merged = merge_segments(spark, store)
    assert merged.lineage["deletes_applied"] == 1
    assert merged.docs_cnt == n - 1
    assert store.read_manifest()["deletes"] == []

    oracle = OracleIndex.build(
        [(d, ("" if d == zero else t)) for d, t in docs]
    )
    oracle.n_docs = n - 1
    planner = QueryPlanner(SegmentIndex(spark, store))
    for q in ["error", "error AND timeout"]:
        node = parse_query(q)
        want = oracle.topk(node, k=10)
        got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) <= 1e-9


def test_pinned_snapshot_view_blocks_gc_and_expiry(spark, tmp_path_factory):
    """ADVICE r4 (store.py): gc()/expire_snapshots() through a pinned view
    would reclaim against a STALE manifest — both must raise, like writes."""
    store, _ = _fresh_index(spark, tmp_path_factory, "pingc")
    pre = store.read_manifest()["snapshot_id"]
    merge_segments(spark, store)
    pinned = store.at(pre)
    with pytest.raises(RuntimeError, match="pinned"):
        pinned.gc()
    with pytest.raises(RuntimeError, match="pinned"):
        pinned.expire_snapshots(keep_last=0)
    # the live store still reclaims normally
    store.expire_snapshots(keep_last=1)
    store.gc()


def test_resume_single_complete_segment_without_rps_is_noop(
    spark, tmp_path_factory
):
    """A COMPLETED single-segment build re-run without rows_per_segment must
    no-op (the resume advice says to omit it), not trip the alignment check
    with the parallelism-derived default."""
    store, corpus = _fresh_index(
        spark, tmp_path_factory, "rerun1", n_turns=600, rows_per_segment=600
    )
    before = [m.segment_id for m in store.segments()]
    again = build_index(
        spark, spark.createDataFrame(corpus), store, input_desc="rerun1"
    )
    assert [m.segment_id for m in again] == before
    assert [m.segment_id for m in store.segments()] == before


def test_gc_orphan_grace_skips_young_paths(spark, tmp_path_factory):
    """gc(orphan_grace_sec=N) must leave recently-modified unreferenced paths
    alone (the Iceberg remove_orphan_files older_than analog, covering the
    data-written-manifest-pending window of an in-flight commit); a zero
    grace reclaims them."""
    store, _ = _fresh_index(spark, tmp_path_factory, "gcgrace")
    store.add_deletes(spark, [5])
    merge_segments(spark, store)
    store.expire_snapshots(keep_last=1)
    held = store.gc(orphan_grace_sec=3600)  # everything here is seconds old
    assert held == {"segments": [], "deletes": [], "docid_map_slices": []}
    removed = store.gc()
    assert len(removed["segments"]) == 2 and len(removed["deletes"]) == 1


def test_pinned_snapshot_view_blocks_data_writes_before_disk(
    spark, tmp_path_factory
):
    """Data writers on a pinned view must raise at the ENTRY POINT: the old
    path let commit_segment overwrite the live store's segment dirs (and
    add_deletes a live tombstone gen file) before _write_manifest raised."""
    import glob

    store, _ = _fresh_index(spark, tmp_path_factory, "pindata")
    pinned = store.at(store.read_manifest()["snapshot_id"])
    seg = store.segments()[0]
    files_before = sorted(glob.glob(os.path.join(store.base, "**"), recursive=True))
    blocks = store.read_blocks(spark, [seg.segment_id])
    with pytest.raises(RuntimeError, match="pinned"):
        # frames are never touched: the guard fires at _write_segment_data
        pinned.commit_segment(blocks, seg)
    with pytest.raises(RuntimeError, match="pinned"):
        pinned.add_deletes(spark, [1])
    with pytest.raises(RuntimeError, match="pinned"):
        pinned.write_docid_map_slice(blocks, "seg-x")
    # nothing on disk moved
    assert files_before == sorted(
        glob.glob(os.path.join(store.base, "**"), recursive=True)
    )


def test_batch_map_rewrite_refuses_with_nrt_slices(spark, tmp_path_factory):
    """write_docid_map overwrites the docid_map ROOT; with committed NRT
    slices under nrt/ that would destroy their doc_id translations — it must
    refuse up front, before any data is eaten."""
    from trinity_spark.streaming.nrt import append_micro_segment

    store, corpus = _fresh_index(spark, tmp_path_factory, "nrtmap")
    append_micro_segment(
        spark, store, spark.createDataFrame(gen_transcripts(100, seed=7))
    )
    slice_dirs = os.listdir(os.path.join(store.docid_map_dir(), "nrt"))
    with pytest.raises(RuntimeError, match="NRT"):
        store.write_docid_map(
            store.read_docid_map(spark), n_docs=800, layout=False
        )
    # the slices survived the refused rewrite
    assert os.listdir(os.path.join(store.docid_map_dir(), "nrt")) == slice_dirs


def test_merge_reads_one_manifest_snapshot(spark, tmp_path_factory):
    """The gen list, segment metas, and deletes frame must come from ONE
    manifest snapshot: with separate reads, a delete committed in between
    was applied+counted but missing from the recorded deletes_gens lineage
    (and erased by the retirement filter), double-subtracting those docs on
    the next merge.  Simulated by landing a concurrent delete at the exact
    former second-read point — inside read_deletes_with_gen."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "one_snapshot")
    n = len(corpus)
    late_doc = 7
    base_rdwg = store.read_deletes_with_gen

    def racy_rdwg(spark_, manifest=None):
        store.read_deletes_with_gen = base_rdwg
        store.add_deletes(spark_, [late_doc])  # the concurrent writer
        return base_rdwg(spark_, manifest=manifest)

    store.read_deletes_with_gen = racy_rdwg
    meta = merge_segments(spark, store)
    # the late delete was committed AFTER the merge's snapshot: it must not
    # be applied, counted, recorded in lineage, or retired by THIS merge
    assert meta.docs_cnt == n
    live = store.read_manifest()["deletes"]
    assert len(live) == 1, live
    assert live[0]["gen"] not in meta.lineage.get("deletes_gens", [])
    # and the NEXT merge applies it exactly once
    meta2 = merge_segments(spark, store)
    assert meta2.docs_cnt == n - 1
    assert store.read_manifest()["deletes"] == []


def test_merge_commit_is_one_atomic_manifest_write(spark, tmp_path_factory):
    """Merged segment in, inputs out, applied tombstone gens retired — ONE
    manifest write.  The former three-write sequence had snapshots where
    BOTH the inputs and the merged output were visible: a SegmentIndex
    opened in that window served every merged doc twice."""
    store, corpus = _fresh_index(spark, tmp_path_factory, "atomic_merge")
    store.add_deletes(spark, [3])
    pre = store.read_manifest()["snapshot_id"]
    meta = merge_segments(spark, store)
    merged_id = meta.segment_id
    # exactly one write, and that snapshot already carries the metrics
    assert store.read_manifest()["snapshot_id"] == pre + 1
    (seg,) = store.at(pre + 1).read_manifest()["segments"]
    assert seg["segment_id"] == merged_id
    assert seg["metrics"]["wall_sec"] > 0
    reuse = ("blocks_reused", "blocks_reencoded")
    assert [seg["metrics"][k] for k in reuse] == [meta.metrics[k] for k in reuse]
    assert sum(meta.metrics[k] for k in reuse) > 0
    # walk the retained history: the first snapshot naming the merged
    # segment must already have the inputs retired and the gen gone
    first = None
    for snap in store.list_snapshots():
        s = store.at(snap["snapshot_id"]).read_manifest()
        ids = {x["segment_id"] for x in s["segments"]}
        if merged_id in ids:
            first = s
            break
    assert first is not None
    ids = {x["segment_id"] for x in first["segments"]}
    assert ids == {merged_id}, ids  # no snapshot ever held inputs + output
    assert first["deletes"] == []
    # docs_cnt exact and the tombstone applied once
    assert meta.docs_cnt == len(corpus) - 1


@pytest.mark.parametrize("kind", ["build", "append", "replace"])
def test_every_commit_is_one_snapshot_with_metrics(spark, tmp_path_factory, kind):
    """Every commit is ONE manifest write (merges: the test above): a build
    of S segments writes S+1 snapshots (the docid-map record, then one per
    segment), an NRT append and a replace one each.  Every retained
    snapshot that names a segment carries its metrics — a second metrics
    write used to leave an in-between snapshot with empty metrics, so a
    retention window of n kept only n/2 commits."""
    from trinity_spark.streaming.nrt import append_micro_segment, replace_documents

    store = SegmentStore(str(tmp_path_factory.mktemp(f"one_write_{kind}")))
    corpus = gen_transcripts(600)
    metas = build_index(
        spark, spark.createDataFrame(corpus), store, rows_per_segment=300
    )
    pre = store.read_manifest()["snapshot_id"]
    if kind == "build":
        assert pre == len(metas) + 1 == 3
        new, pre = metas[-1], pre - 1
    elif kind == "append":
        new = append_micro_segment(
            spark, store, spark.createDataFrame(gen_transcripts(100, seed=3))
        )
    else:
        updated = corpus.iloc[:5].copy()
        updated["text"] = "replaced error text " + updated["text"]
        new = replace_documents(spark, store, spark.createDataFrame(updated))
    assert store.read_manifest()["snapshot_id"] == pre + 1
    snap = store.at(pre + 1).read_manifest()
    seg = next(s for s in snap["segments"] if s["segment_id"] == new.segment_id)
    assert seg["metrics"] == new.metrics
    assert seg["metrics"]["docs"] == new.docs_cnt
    assert seg["metrics"]["wall_sec"] > 0
    assert seg["lineage"]["deletes_gens"] == []
    if kind == "replace":
        # the tombstones ride the same write, one generation newer
        gen = seg["metrics"]["tombstone_gen"]
        assert gen == seg["generation"] + 1
        assert [d["gen"] for d in snap["deletes"]] == [gen]
    for info in store.list_snapshots():
        for s in store.at(info["snapshot_id"]).read_manifest()["segments"]:
            assert s["metrics"]["wall_sec"] > 0, (info, s["segment_id"])


def test_failed_commit_releases_persisted_blocks(
    spark, tmp_path_factory, monkeypatch
):
    """A build, a merge and an NRT append each persist the blocks they
    commit; a commit that raises must not leave that frame cached in the
    session."""
    from trinity_spark.streaming.nrt import append_micro_segment

    cache = spark._jsparkSession.sharedState().cacheManager()
    store, _ = _fresh_index(
        spark, tmp_path_factory, "leak", n_turns=400, rows_per_segment=200
    )

    def failing_commit(self, blocks, meta, **kw):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(SegmentStore, "commit_segment", failing_commit)
    calls = {
        "build": lambda: build_index(
            spark, spark.createDataFrame(gen_transcripts(300)),
            SegmentStore(str(tmp_path_factory.mktemp("leak_build"))),
            rows_per_segment=300,
        ),
        "merge": lambda: merge_segments(spark, store),
        "append": lambda: append_micro_segment(
            spark, store, spark.createDataFrame(gen_transcripts(50, seed=9))
        ),
    }
    for name, call in calls.items():
        before = cache.numCachedEntries()
        with pytest.raises(RuntimeError, match="commit failed"):
            call()
        assert cache.numCachedEntries() <= before, name


def test_merge_unknown_segment_ids_raise(spark, tmp_path_factory):
    """A typo'd id must fail loudly, not silently merge the subset."""
    import pytest

    store, _ = _fresh_index(spark, tmp_path_factory, "unknown_ids")
    real = store.segments()[0].segment_id
    with pytest.raises(ValueError, match="not in the manifest"):
        merge_segments(spark, store, segment_ids=[real, "seg-typo"])
    # nothing was retired by the failed call
    assert len(store.segments()) == 2


def _recount(spark, store, segment_id):
    """Field statistics recounted from a segment's decoded postings."""
    from pyspark.sql import functions as F

    row = (
        decode_segments(
            store.read_postings(spark, [segment_id]),
            with_positions=False,
            codec=store.layout().codec,
        )
        .agg(
            F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_term_hits"),
            F.countDistinct("term").alias("total_terms"),
            F.count(F.lit(1)).alias("sum_terms_docs"),
        )
        .first()
    )
    return row.asDict()


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_nrt_append_job_count(spark, tmp_path_factory):
    """A 500-turn NRT append runs 6 Spark jobs, counted through a job
    group: it writes a key-only slice, encodes from the batch in hand and
    runs under the build's write-scoped confs (AQE and whole-stage codegen
    off; under AQE the same append ran 13).  The scope restores the
    session's confs when the last open scope exits, also when scopes
    overlap out of order (two writer threads)."""
    from trinity_spark.operators.indexer import write_conf_scope
    from trinity_spark.streaming.nrt import append_micro_segment

    keys = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    before = {k: spark.conf.get(k, None) for k in keys}
    store = SegmentStore(str(tmp_path_factory.mktemp("appendjobs") / "idx"))
    build_index(spark, spark.createDataFrame(gen_transcripts(2000)), store)
    batch = spark.createDataFrame(gen_transcripts(500, seed=10))
    jobs = _job_count(
        spark, "nrt-append-500",
        lambda: append_micro_segment(spark, store, batch, "batch-500"),
    )
    assert jobs == 6
    assert {k: spark.conf.get(k, None) for k in keys} == before
    a, b = write_conf_scope(spark), write_conf_scope(spark)
    a.__enter__()
    b.__enter__()
    a.__exit__(None, None, None)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"  # b open
    b.__exit__(None, None, None)
    assert {k: spark.conf.get(k, None) for k in keys} == before


def test_segment_stats_are_recorded_exactly(spark, tmp_path_factory):
    """Under the default codec (native), every commit path records the
    segment's field statistics exactly: ``_check_segment_stats``."""
    _check_segment_stats(spark, tmp_path_factory, "native")


@pytest.mark.parametrize("codec", ["varbyte", "pfor"])
def test_segment_stats_are_recorded_exactly_block_codecs(
    spark, tmp_path_factory, codec
):
    """The same checks under each block codec: its term_dict write and the
    block rows the commit counts."""
    _check_segment_stats(spark, tmp_path_factory, codec)


def _check_segment_stats(spark, tmp_path_factory, codec):
    """Every commit path records the segment's field statistics in its
    lineage (index_source.h:44-53), equal to a recount over the segment's
    decoded postings: Σtf, distinct terms and posting rows.  A segment
    directory holds only postings and its per-term part (block_meta under
    native, term_dict under a block codec), and stats_for on a fresh view
    runs only the dictionary collect — N and the cache gate come off the
    manifest.  A segment without recorded stats closes the cache gate and
    lookups go through per-query pushdown."""
    from pyspark.sql import functions as F

    from trinity_spark.streaming.nrt import append_micro_segment, replace_documents

    store = SegmentStore(str(tmp_path_factory.mktemp("segstats") / "idx"))
    corpus = gen_transcripts(600)
    build_index(
        spark, spark.createDataFrame(corpus), store, rows_per_segment=300,
        codec=codec,
    )
    parts = sorted(["block_meta" if codec == "native" else "term_dict", "postings"])
    append_micro_segment(
        spark, store, spark.createDataFrame(gen_transcripts(100, seed=3))
    )
    updated = corpus.iloc[:5].copy()
    updated["text"] = "replaced error text " + updated["text"]
    replace_documents(spark, store, spark.createDataFrame(updated))

    def check_live(want_modes):
        metas = store.segments()
        assert sorted(
            "merge" if m.segment_id.startswith("merged-")
            else "replace" if m.lineage.get("replace")
            else m.lineage.get("mode", "build")
            for m in metas
        ) == want_modes
        for meta in metas:
            assert meta.lineage["field_stats"] == _recount(
                spark, store, meta.segment_id
            ), meta.segment_id
            seg_dir = os.path.join(store.base, "segments", meta.segment_id)
            assert sorted(os.listdir(seg_dir)) == parts
        return metas

    metas = check_live(["build", "build", "nrt-append", "replace"])
    build_ids = [m.segment_id for m in metas if "mode" not in m.lineage]
    store.add_deletes(spark, [310, 320, 330, 340])  # in the second build segment
    merged = merge_segments(spark, store, segment_ids=build_ids)
    # the 4 tombstones plus the 5 versions the replace masked
    assert (merged.lineage["deletes_applied"], merged.docs_cnt) == (9, 591)
    metas = check_live(["merge", "nrt-append", "replace"])
    assert store.fsck(spark, deep=True)["ok"]

    # N and the dictionary-cache gate come off the open-time manifest:
    # stats_for on a fresh view runs the dictionary collect and nothing else
    index = SegmentIndex(spark, store)
    assert index.n_docs == sum(m.docs_cnt for m in metas)
    stats_jobs = _job_count(spark, "stats-fresh", lambda: index.stats_for(["error"]))
    dict_jobs = _job_count(
        spark, "stats-dict-alone",
        lambda: index.term_dict.groupBy("term").agg(F.sum("df")).collect(),
    )
    assert stats_jobs == dict_jobs
    want = index.stats_for(["error", "zzznothing"])

    # a live segment without recorded stats (written before the store
    # recorded them) closes the gate; lookups still answer exactly
    with store._manifest_lock():
        m = store.read_manifest()
        del m["segments"][0]["lineage"]["field_stats"]
        store._write_manifest(m)
    old = SegmentIndex(spark, store)
    got = old.stats_for(["error", "zzznothing"])
    assert old._df_cache is False
    assert (got.n_docs, got.df("error"), got.df("zzznothing")) == (
        want.n_docs, want.df("error"), 0,
    )
