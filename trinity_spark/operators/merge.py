"""Segment merge with delete application, byte reuse, and retention.

Reference: ``/root/reference/merge.cpp`` — k-way merge of segment term
dictionaries ordered by generation DESC (``merge.cpp:6-25``); per term the
postings of all sources are merged by docID with masked documents filtered
out (``merge.cpp:288-394``); old sources get a retention verdict
(``merge.cpp:418-447``); and the raw-chunk fast path copies a term's encoded
bytes untouched when nothing in it changed (``merge.cpp:166-180``,
``google_codec.cpp:178-184``).

Spark-first: the k-way merge-sort IS a union + re-group.  Because our
doc_id spaces are already global (docid_map assigns once), no remap join
is needed.

Native stores (the default codec) merge without any decode or encode:
union the inputs' postings rows, anti-join the tombstones, and commit —
the commit sorts and writes the rows and derives their block metadata in
the JVM.  No Python runs, and no job runs before the commit's two writes.
Every input row is rewritten by Parquet or dropped with its tombstoned
doc, so no byte range moves untouched: ``blocks_reused`` is 0 and
``blocks_reencoded`` counts the inputs' postings rows (their lineage
``n_blocks``, native's unit), so the merge byte-reuse ratio reads 0 for
native merges.

Block-codec stores (varbyte, pfor) decode the selected segments' blocks,
anti-join the tombstones, re-encode, commit one new segment and retire the
inputs, with the byte-reuse fast path below.  ``blocks_reused`` /
``blocks_reencoded`` count blocks moved byte-identical vs decoded and
re-encoded.

Byte-reuse fast path, finer-grained than the reference's: Trinity can only
raw-copy a term when it lives in ONE source segment (the byte streams must
splice contiguously); our blocks decode standalone, so reuse is decided per
block:

- FULL blocks (doc_count == BLOCK_SIZE) are maximally packed by definition —
  re-encoding reproduces them byte-identically — so any tombstone-free full
  block moves untouched regardless of how many segments share the term.
- A PARTIAL block whose (term, chunk) group contains exactly ONE partial
  across all merge inputs already holds every one of the group's
  non-full-block docs, so repacking cannot improve the packing — it moves
  untouched.  This is the dominant block class: every rare term contributes
  one lone partial per chunk, and on transcript corpora lone partials are
  ~3/4 of all blocks.  (The reused output is DECODE-EQUIVALENT to a fresh
  re-encode, not necessarily the canonical byte layout: after merging
  inputs with interleaved doc ranges a reused lone partial may precede
  reused full blocks in doc order, and reused blocks from different source
  segments can collide on block_id — both benign, because blocks decode
  standalone and block_id is only a within-chunk sort key, never an
  identity.)
- Only groups with 2+ partials (a build scan-split or segment boundary
  straddled the chunk — the fastbuild per-partition encoder emits an
  independent tail per slice) are repacked, which is the actual point of
  compaction, plus every block that actually CONTAINS a tombstoned doc:
  range-cover tombstone candidates are membership-refined by a
  doc_deltas-only decode (``_membership_refine``) before losing their
  reuse verdict — a rare term's lone partial spans most of its chunk, so
  the range probe alone re-encoded the majority of blocks once tombstones
  landed in every chunk (measured 36.7% reuse at a 10M-turn merge with
  1000 tombstones; the refine restores the ~15 true-hit blocks per
  tombstoned doc).

The multi-partial group list is computed by a metadata-only aggregation
(term/chunk/doc_count columns; parquet pruning keeps the byte streams out of
that job) and probed via (term, chunk) equi-joins with NO forced broadcast:
on the first compaction of a fragmented build nearly every group has 2+
partials, so ``multi`` can approach one row per distinct (term, chunk) —
far beyond any driver broadcast budget at 10^12 docs.  AQE picks broadcast
when the list is actually small and a shuffle hash join otherwise; either
way the reused byte streams themselves never ride the probe join.
The tombstone probe is an equi-join on the block's chunk (a tombstone's
chunk equals its victim block's chunk) + a range refine, so it is a
broadcast HASH join, not a nested loop; tombstone sets ride a broadcast
exactly like the reference keeps masked-docid bitmaps in RAM
(docidupdates.h:90-191).

Accounting correctness (partial merges):
- ``docs_cnt`` subtracts a tombstone only if its generation has NOT already
  been applied to the covering segment (lineage ``deletes_gens``, id-based —
  this is what keeps zero-token docs, which have no postings to be "present"
  in, correctly subtracted).  An absent ``deletes_gens`` key means no
  generation applied, as absent layout keys mean the defaults.
- Tombstone retention: only the tombstone generations READ by this merge are
  retired, and only when the merge covered every segment that existed at read
  time; a partial merge leaves all tombstones in place (they may still mask
  docs in unmerged segments; re-masking already-removed docs is harmless).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.store import SegmentMeta, SegmentStore
from .segments import BLOCK_SIZE, CODEC_NATIVE, decode_segments, encode_postings


# Tombstone-set ceiling for the membership refine: the sorted id array rides
# the kernel closure (int64, 4M ids = 32 MB — the same RAM-resident bound the
# broadcast probes already assume, docidupdates.h:90-191).  Past it the refine
# is skipped and every range-cover candidate re-encodes (the pre-refine
# behavior — correct, just less byte reuse).
REFINE_MAX_TOMBSTONES = 4_000_000


def _membership_refine(
    cand: DataFrame, tombstones: DataFrame, codec: str
) -> tuple[DataFrame, DataFrame]:
    """Split range-cover tombstone candidates into (clean, hit) by ACTUAL
    doc membership.

    A candidate block decodes ONLY its doc_deltas stream (never tf/pos/pay
    bytes) and tests the absolute ids against the sorted tombstone array;
    blocks with zero true hits keep their bytes untouched.  The reference
    analog is the codec's block-skip discipline — confirm a docID is inside
    a block before decoding it (google_codec.cpp:146-176) — applied to the
    merge's raw-copy verdict (merge.cpp:166-180).

    One Arrow round-trip over candidate rows (lazily checkpointed so the
    two consumers share one execution); candidates are exactly the set the
    old path re-encoded wholesale, so the refine is strictly cheaper than
    what it replaces whenever any candidate is a false positive."""
    import numpy as np

    # Arrow transfer, not collect(): at the 4M-id ceiling a Row-object
    # collect holds ~10x the 32 MB the int64 array needs on the driver.
    capped = tombstones.select("doc_id").limit(REFINE_MAX_TOMBSTONES + 1)
    ids = capped.toArrow().column("doc_id").to_numpy(zero_copy_only=False)
    if len(ids) > REFINE_MAX_TOMBSTONES:
        return cand.where(F.lit(False)), cand
    tomb = np.sort(ids.astype(np.int64, copy=False))

    from pyspark.sql.types import BooleanType, StructField, StructType

    # fresh StructType: .add() MUTATES the DataFrame's cached schema object,
    # which makes mapInArrow think its own input already has the column
    out_schema = StructType(
        list(cand.schema.fields) + [StructField("_thit", BooleanType())]
    )

    def verdict(batches):
        import numpy as np
        import pyarrow as pa

        from .segments import _decode_stream, _reset_cumsum

        for b in batches:
            if b.num_rows == 0:
                continue
            dc = b.column("doc_count").to_numpy().astype(np.int64)
            # block invariant: 1 <= doc_count <= BLOCK_SIZE (reduceat needs
            # strictly increasing segment starts)
            if (dc < 1).any():
                raise ValueError("merge refine: block with doc_count < 1")
            starts = np.concatenate(([0], np.cumsum(dc)[:-1]))
            ids = _reset_cumsum(
                _decode_stream(b.column("doc_deltas"), codec), starts, dc
            )
            pos = np.searchsorted(tomb, ids)
            hit_post = np.zeros(len(ids), dtype=np.int64)
            inb = pos < len(tomb)
            hit_post[inb] = tomb[pos[inb]] == ids[inb]
            blk_hit = np.add.reduceat(hit_post, starts) > 0
            yield b.append_column("_thit", pa.array(blk_hit, type=pa.bool_()))

    refined = cand.mapInArrow(verdict, out_schema).localCheckpoint(eager=False)
    return (
        refined.where(~F.col("_thit")).drop("_thit"),
        refined.where(F.col("_thit")).drop("_thit"),
    )


def _block_merge(
    blocks: DataFrame, in_range: DataFrame | None, cb: int, codec: str
) -> DataFrame:
    """A block-codec merge's output blocks, tagged ``_reused`` (moved
    byte-identical) or not (decoded, tombstones removed, re-encoded) — the
    byte-reuse fast path of the module docstring.  The commit counts the
    tags and writes the blocks without them."""
    # (term, chunk) groups with 2+ partial blocks need repacking; all other
    # blocks (fulls + lone partials) are already optimally packed.
    # Metadata-only aggregation — byte columns pruned from this job.
    full = F.col("doc_count") == BLOCK_SIZE
    multi = (
        blocks.where(~full)
        .groupBy("term", "chunk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select("term", "chunk")
    )
    # no forced broadcast on `multi` (ADVICE r3): its size is unbounded — a
    # first compaction of a fragmented build has ~one row per distinct
    # (term, chunk) — so AQE decides (broadcast when small, shuffle hash
    # join otherwise; the join is metadata-only either way)
    packed = blocks.where(full).unionByName(
        blocks.where(~full).join(multi, ["term", "chunk"], "left_anti")
    )
    needs_repack = blocks.where(~full).join(multi, ["term", "chunk"], "left_semi")
    if in_range is not None:
        tomb = in_range.select(
            F.col("doc_id").alias("_t_doc"),
            F.shiftright(F.col("doc_id"), cb).alias("_t_chunk"),
        )
        probe = (
            (F.col("chunk") == F.col("_t_chunk"))
            & (F.col("_t_doc") >= F.col("min_doc_id"))
            & (F.col("_t_doc") <= F.col("max_doc_id"))
        )
        safe = packed.join(F.broadcast(tomb), probe, "left_anti")
        # range-cover is only a CANDIDATE test: a block whose [min_doc_id,
        # max_doc_id] covers a tombstoned id need not CONTAIN it — a rare
        # term's lone partial spans most of its chunk, so with tombstones
        # scattered across every chunk the range probe alone re-encoded the
        # majority of all blocks (measured: 10M-turn merge with 1000
        # tombstones fell to 36.7% byte reuse).  Refine candidates by actual
        # doc membership (doc_deltas-only decode, the reference's
        # skiplist-then-seek discipline: google_codec.cpp:146-176 confirms a
        # docID is in a block before touching it) and reuse the true misses.
        cand = packed.join(F.broadcast(tomb), probe, "left_semi")
        clean, tombhit = _membership_refine(cand, in_range, codec)
        reused = safe.unionByName(clean)
        rest = needs_repack.unionByName(tombhit)
    else:
        reused = packed
        rest = needs_repack

    # Decode WITH payloads: re-encoded blocks must carry their per-hit
    # payload stream through the merge (reused blocks keep theirs
    # byte-for-byte, so dropping them here would silently strip payloads
    # from exactly the repacked/tombstone-hit blocks); payload-free stores
    # round-trip an empty stream.  Re-encoded blocks use the store's codec
    # and chunk width, so reused and re-encoded blocks share one geometry
    # (later merges' tombstone chunk probe and chunk-restricted pruning
    # depend on it).
    rest_postings = decode_segments(rest, with_payloads=True, codec=codec)
    if in_range is not None:
        # physical removal anti-joins ALL in-range tombstone ids (removing
        # already-absent ids is a no-op); the docs_cnt arithmetic used the
        # gen-aware count merge_segments computed
        rest_postings = rest_postings.join(
            F.broadcast(in_range), "doc_id", "left_anti"
        )

    # tag reused rows BEFORE the union: the commit counts the tags on the
    # job that materializes its input, instead of re-executing the whole
    # reuse pipeline (ADVICE r3: reused.count() replayed the metadata scan +
    # probe joins as a full extra job on every merge)
    return reused.withColumn("_reused", F.lit(True)).unionByName(
        encode_postings(
            rest_postings, chunk_bits=cb, codec=codec
        ).withColumn("_reused", F.lit(False))
    )


def merge_segments(
    spark: SparkSession,
    store: SegmentStore,
    segment_ids: list[str] | None = None,
    apply_deletes: bool = True,
) -> SegmentMeta:
    """Merge segments (default: all) into one; returns the new meta."""
    # ONE manifest snapshot feeds segment metas, the gen list, AND the
    # deletes frame: with separate reads, a delete committed in between
    # would be physically applied and counted but omitted from the output
    # segment's deletes_gens lineage (and kept by the retirement filter),
    # so the next merge would subtract the same docs again
    manifest0 = store.read_manifest()
    all_metas = [SegmentMeta(**s) for s in manifest0["segments"]]
    metas = all_metas
    if segment_ids is not None:
        known = {m.segment_id for m in all_metas}
        unknown = [sid for sid in segment_ids if sid not in known]
        if unknown:
            # a silent subset merge would retire only the matched inputs
            # while the caller believes the whole list was compacted
            raise ValueError(
                f"segment_ids not in the manifest: {unknown}"
            )
        metas = [m for m in metas if m.segment_id in segment_ids]
    if not metas:
        raise ValueError("nothing to merge")
    ids = [m.segment_id for m in metas]
    full_merge = {m.segment_id for m in all_metas} <= set(ids)
    lo = min(m.doc_lo for m in metas)
    hi = max(m.doc_hi for m in metas)

    t0 = time.monotonic()
    # one wire layout per store (raises on an unknown codec or a segment
    # whose lineage disagrees): every input shares the output's codec and
    # chunk width, so the raw-copy fast path always applies — the
    # merge.cpp:256-287 same-codec precondition holds by construction
    codec, cb = store.layout(manifest0)
    read_gens: list[int] = []
    in_range = None
    n_deleted = 0
    if apply_deletes:
        read_gens = [d["gen"] for d in manifest0["deletes"]]
        deletes = store.read_deletes_with_gen(spark, manifest=manifest0)
        if deletes is not None:
            # only tombstones inside a merged segment's ACTUAL range matter —
            # per-meta ranges, not [min_lo, max_hi): merge sets can be
            # non-contiguous and ids in the gaps belong to other segments
            from functools import reduce

            def _rng(m):
                return (F.col("doc_id") >= m.doc_lo) & (
                    F.col("doc_id") < m.doc_hi
                )

            cond = reduce(lambda a, b: a | b, [_rng(m) for m in metas])
            in_range = deletes.where(cond).select("doc_id").distinct()
            # docs_cnt accounting is GEN-AWARE: a tombstone counts against a
            # covering segment only if that segment has not already applied
            # its generation (lineage ``deletes_gens``, written below) — a
            # partial merge followed by a full merge re-reads the same
            # unretired tombstone and must not subtract the doc twice.
            # Counting by tombstone id (not decoded-posting presence) is
            # what keeps zero-token docs (assigned ids with no postings)
            # correctly subtracted.  Ranges are disjoint, so each id has
            # exactly one covering segment.
            def _applied(m):
                gens = m.lineage.get("deletes_gens", [])
                return F.col("gen").isin([int(g) for g in gens]) if gens else F.lit(False)

            countable = deletes.where(
                reduce(
                    lambda a, b: a | b,
                    [_rng(m) & ~_applied(m) for m in metas],
                )
            ).select("doc_id").distinct()
            already = deletes.where(
                reduce(
                    lambda a, b: a | b,
                    [_rng(m) & _applied(m) for m in metas],
                )
            ).select("doc_id").distinct()
            n_deleted = countable.join(already, "doc_id", "left_anti").count()

    docs_cnt = sum(m.docs_cnt for m in metas) - n_deleted
    if codec == CODEC_NATIVE:
        # no decode, no encode: the inputs' rows minus the tombstoned docs,
        # staged and written by the commit.  Every input row is rewritten
        # or dropped, none moves as untouched bytes
        out = store.read_postings(spark, ids)
        if in_range is not None:
            out = out.join(F.broadcast(in_range), "doc_id", "left_anti")
        reuse = {
            "blocks_reused": 0,
            "blocks_reencoded": sum(int(m.lineage.get("n_blocks", 0)) for m in metas),
        }
    else:
        # reuse-tagged blocks: the commit records the merge.cpp:166-180
        # fast-path economics (blocks moved byte-identical vs decoded and
        # re-encoded) off the job that materializes them
        out = _block_merge(store.read_blocks(spark, ids), in_range, cb, codec)
        reuse = {}
    # name suffix = next_generation at merge-PLAN time (manifest0, no extra
    # read) — a uniqueness scope, not the committed generation: concurrent
    # commits may bump the counter before commit_segment assigns the real
    # one (meta.generation, set inside the atomic commit, is authoritative)
    gen = manifest0["next_generation"]
    meta = SegmentMeta(
        segment_id=f"merged-{lo:014d}-{hi:014d}-g{gen:06d}",
        generation=0,
        doc_lo=lo,
        doc_hi=hi,
        docs_cnt=docs_cnt,
        lineage={
            "merged_from": ids,
            "deletes_applied": n_deleted,
            # every gen read now is fully applied to this segment's range,
            # as is every gen an input had already applied — later merges
            # must not re-count them (see the gen-aware accounting above)
            "deletes_gens": sorted(
                set(read_gens)
                | {
                    int(g)
                    for m in metas
                    for g in m.lineage.get("deletes_gens", [])
                }
            ),
            "chunk_bits": cb,
            "codec": codec,
        },
    )
    meta.metrics.update(reuse)
    # ONE atomic manifest write: merged segment in, inputs out,
    # fully-applied tombstone gens retired — no window serving merged
    # docs twice, no lost concurrent delete.  Gens retire only if this
    # merge covered every segment that existed at read time — deletes
    # added concurrently (later gens) and deletes still masking
    # unmerged segments stay in force.
    store.commit_segment(
        out,
        meta,
        started=t0,
        retire_ids=ids,
        retire_delete_gens=read_gens if full_merge else (),
    )
    return meta

