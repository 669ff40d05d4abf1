"""Model-based lifecycle fuzz over one SegmentStore (SURVEY §5 durability
evidence; reference analog: the segment lifecycle indexer.h:181-206 +
index_source.h:191-238 that Trinity exercises only through its apps).

A seeded random sequence of the store's whole mutation surface — NRT
appends, keyed replaces, deletes, partial merges, compaction-to-quiescence,
a mid-sequence snapshot pin — is checked after EVERY op against a pure
Python model of the live (conv_id, turn_idx) -> text map.  Presence
semantics (DocumentsOnly match sets) are the invariant: corpus stats
legitimately include masked docs until a merge folds them in, so scores may
drift across op interleavings by design while the match SET never may.

Doc ids are translated back to keys through the (append-only) docid map:
every version of a key holds a distinct doc_id, so the translation is
total and the engine's liveness decisions are exactly what is compared.
"""

import random

import pytest

from trinity_spark.operators.compaction import compact
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.merge import merge_segments
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentStore
from trinity_spark.streaming.nrt import append_micro_segment, replace_documents
from trinity_spark.tokenizer import tokenize_py

VOCAB = ["error", "timeout", "retry", "gpu", "reset", "peer", "queue", "scan"]
SCHEMA = "conv_id string, turn_idx int, text string"


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 8)))


def _model_matches(model: dict, query: str) -> set:
    """Presence evaluation of the tiny query language this test emits
    (term, 'a AND b', 'a OR b') against the model's live texts."""
    if " AND " in query:
        want = query.split(" AND ")
        return {
            k for k, t in model.items() if all(w in tokenize_py(t) for w in want)
        }
    if " OR " in query:
        want = query.split(" OR ")
        return {
            k for k, t in model.items() if any(w in tokenize_py(t) for w in want)
        }
    return {k for k, t in model.items() if query in tokenize_py(t)}


def _engine_matches(spark, store: SegmentStore, query: str) -> set:
    """Engine match set translated from doc_ids to (conv_id, turn_idx)."""
    planner = QueryPlanner(SegmentIndex(spark, store))
    hits = planner.matching_docs(parse_query(query))
    dm = store.read_docid_map(spark).select("conv_id", "turn_idx", "doc_id")
    rows = hits.join(dm, "doc_id").select("conv_id", "turn_idx").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert len(keys) == len(set(keys)), "engine served a doc twice"
    return set(keys)


def _check(spark, store, model, rng, ctx):
    queries = [
        rng.choice(VOCAB),
        f"{rng.choice(VOCAB)} AND {rng.choice(VOCAB)}",
        f"{rng.choice(VOCAB)} OR {rng.choice(VOCAB)}",
    ]
    for q in queries:
        got = _engine_matches(spark, store, q)
        want = _model_matches(model, q)
        assert got == want, (ctx, q, got ^ want)
    rep = store.fsck()  # metadata pass after every op
    assert rep["ok"], (ctx, rep["errors"])


# One seed runs the whole lifecycle on the PFOR wire: codec identity must
# survive every mutation (build records the store default, NRT appends
# inherit it, merges keep the same-codec byte-reuse rule) — the varbyte
# seeds alone would leave the second wire's durability path unfuzzed.
@pytest.mark.parametrize(
    "seed,codec", [(3, "varbyte"), (11, "varbyte"), (7, "pfor")]
)
def test_store_lifecycle_random_sequence(spark, tmp_path_factory, seed, codec):
    rng = random.Random(seed)
    base = str(tmp_path_factory.mktemp(f"life{seed}"))
    store = SegmentStore(base)

    # seed corpus: 12 convs x 1-3 turns through the batch build path
    model: dict = {}
    conv_counter = 0
    rows = []
    for _ in range(12):
        cid = f"conv{conv_counter:05d}"
        conv_counter += 1
        for t in range(rng.randint(1, 3)):
            rows.append((cid, t, _text(rng)))
            model[(cid, t)] = rows[-1][2]
    build_index(
        spark, spark.createDataFrame(rows, SCHEMA), store,
        rows_per_segment=len(rows), codec=codec,
    )
    _check(spark, store, model, rng, "seed-build")

    pinned = None  # (snapshot_id, frozen model) captured mid-sequence
    ops = ["append", "replace", "delete", "merge", "compact"]
    for step in range(8):
        op = rng.choice(ops)
        if op == "append":
            batch, added = [], {}
            for _ in range(rng.randint(1, 3)):
                cid = f"conv{conv_counter:05d}"
                conv_counter += 1
                for t in range(rng.randint(1, 2)):
                    txt = _text(rng)
                    batch.append((cid, t, txt))
                    added[(cid, t)] = txt
            append_micro_segment(
                spark, store, spark.createDataFrame(batch, SCHEMA),
                input_desc=f"life-{seed}-append-{step}",
            )
            model.update(added)
        elif op == "replace":
            # mix of existing keys (new text) and brand-new keys (inserts):
            # the reference's insert and update are the same call
            batch, upd = [], {}
            for k in rng.sample(sorted(model), min(len(model), rng.randint(1, 3))):
                txt = _text(rng)
                batch.append((k[0], k[1], txt))
                upd[k] = txt
            cid = f"conv{conv_counter:05d}"
            conv_counter += 1
            txt = _text(rng)
            batch.append((cid, 0, txt))
            upd[(cid, 0)] = txt
            replace_documents(
                spark, store, spark.createDataFrame(batch, SCHEMA),
                input_desc=f"life-{seed}-replace-{step}",
            )
            model.update(upd)
        elif op == "delete":
            if len(model) < 3:
                continue
            kill = rng.sample(sorted(model), rng.randint(1, 2))
            # all doc_ids ever assigned to the keys (old versions are
            # already masked; re-masking is harmless and keeps the test
            # independent of the engine's liveness bookkeeping)
            dm = store.read_docid_map(spark)
            ids = [
                r["doc_id"]
                for r in dm.collect()
                if (r["conv_id"], r["turn_idx"]) in set(kill)
            ]
            store.add_deletes(spark, ids)
            for k in kill:
                del model[k]
        elif op == "merge":
            segs = [m.segment_id for m in store.segments()]
            if len(segs) < 2:
                continue
            pick = rng.sample(segs, rng.randint(2, len(segs)))
            merge_segments(spark, store, pick)
        elif op == "compact":
            # gc=False: a snapshot pinned earlier in the sequence must
            # survive (compact's gc would expire un-retained history)
            compact(spark, store, gc=False)
        if pinned is None and step >= 3:
            pinned = (store.read_manifest()["snapshot_id"], dict(model))
        _check(spark, store, model, rng, f"seed{seed}-step{step}-{op}")

    # deep fsck once at the end (physical doc/block counts vs manifest)
    rep = store.fsck(spark, deep=True)
    assert rep["ok"], rep["errors"]

    # wire identity survived the whole sequence: every surviving segment —
    # built, NRT-appended, or merged — still carries the chosen codec
    assert {m.lineage["codec"] for m in store.segments()} == {codec}
    assert store.layout().codec == codec

    # the pinned snapshot still answers with the frozen model's match sets
    if pinned is not None:
        sid, frozen = pinned
        view = store.at(sid)
        for q in VOCAB[:3]:
            got = _engine_matches(spark, view, q)
            assert got == _model_matches(frozen, q), (sid, q)
