"""Dense, deterministic, stable-ordered doc_id assignment at arbitrary scale.

Reference analog: Trinity's two ID spaces — per-source ``isrc_docid_t`` and
global ``docid_t`` with ``translate_docid`` (``/root/reference/common.h:28-43``,
``index_source.h:100-114``).  Our global ``doc_id`` is a LongType (u32 in the
reference can't hold 10^12 turns) assigned densely in the frozen order
``(conv_id, turn_idx)`` — the stable ordering the north rule fixes.

Why not the obvious ways:
- ``monotonically_increasing_id`` is neither dense nor order-stable;
- a single global ``row_number()`` window funnels 100 TB through one task;
- range-repartitioning the FULL corpus samples it (an extra scan), sorts it,
  and must be persisted between the count and enumerate passes — the serial
  drag that capped build scaling efficiency in round 1.

Conversation-decomposed assignment instead (doc_id = conv_base + rank-in-conv):

1. one map-side-combined ``groupBy(conv_id)`` over the corpus yields per-conv
   turn counts — output is |convs| rows, ~10-100x smaller than the corpus;
2. the SMALL conv table is range-partitioned by conv_id and enumerated with
   the two-pass prefix-sum trick (per-partition sums -> driver exclusive
   prefix -> mapInArrow cumulative bases).  The pass double-checks the
   collected per-partition counts inside the enumerate task and fails loudly
   on mismatch, so a lost-block recompute with different sampling can never
   silently skip/duplicate ids;
3. ``assign_doc_ids`` joins conv bases back onto the corpus on conv_id
   (broadcast when the conv table is small, shuffle-join otherwise) and
   computes ``doc_id = base + turn_idx`` when turn_idx is dense 0..n-1 per
   conv (validated exactly, from the same aggregation — zero extra cost),
   else ``base + row_number() over (partitionBy conv_id orderBy turn_idx) -
   1``.  That join feeds the MATERIALIZED docid map (non-dense input, or a
   store that must be self-contained).  A dense VIRTUAL build never joins:
   its fused encode pass attaches ``base + turn_idx`` worker-side from the
   persisted bases, one segment's conv slice per worker, at any conv count.

Total corpus passes: ONE scan + (broadcast case) zero shuffles — versus the
old sample-scan + full shuffle-sort + persist.  n_docs falls out of the conv
aggregation driver-side, so callers need no separate count job.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ("conv_id", "turn_idx")

# conv tables up to this many rows are enumerated driver-side (_conv_bases)
# and ride a broadcast join in assign_doc_ids / SegmentStore.attach_doc_ids;
# bigger ones take the distributed enumerate and a conv_id shuffle join.
# Sized by memory, not superstition: a bases row is ~40 bytes (conv_id
# string + two longs), so 8M convs is a ~320 MB broadcast hash relation —
# comfortable under an 8g+ driver/executor and far below Spark's 8 GB
# broadcast ceiling.  Virtual builds do not depend on it past phase 0: they
# attach doc ids worker-side at every conv count.
BROADCAST_MAX_CONVS = int(os.environ.get("TRINITY_BROADCAST_MAX_CONVS", "8000000"))

_BASES_SCHEMA = "conv_id string, n_turns long, base long"


def _conv_bases_driver(
    spark, df: DataFrame, t, writer=None
) -> tuple[DataFrame | None, int, int, bool]:
    """Driver-side tail of ``_conv_bases`` for broadcast-feasible conv
    tables: ``t`` is the Arrow-collected conv aggregation.  Exactly the
    distributed path's semantics (null check, dense screen, bitmap
    permutation test, filtered exact pass for >61-turn convs), with the
    sort/prefix-sum/enumerate as numpy and the parquet write direct."""
    import pyarrow as pa

    conv_col = t.column("conv_id")
    if isinstance(conv_col, pa.ChunkedArray):
        conv_col = conv_col.combine_chunks()
    if conv_col.null_count:
        raise ValueError(
            "NULL conv_id in input turns: doc-id assignment joins on "
            "conv_id, so NULL-keyed turns would be silently dropped from "
            "the index while still counted in n_docs — clean the input "
            "(assign a sentinel conv id) first"
        )
    conv_bytes = (
        conv_col.cast(pa.binary()).to_numpy(zero_copy_only=False).astype("S")
    )
    order = np.argsort(conv_bytes, kind="stable")  # UTF-8 byte order ==
    # Spark string ordering, so the assignment is identical to the
    # range-partitioned distributed enumerate
    n_turns = t.column("n_turns").to_numpy(zero_copy_only=False).astype(np.int64)[order]
    min_idx = t.column("min_idx").to_numpy(zero_copy_only=False).astype(np.int64)[order]
    max_idx = t.column("max_idx").to_numpy(zero_copy_only=False).astype(np.int64)[order]
    bits = t.column("bits").to_numpy(zero_copy_only=False).astype(np.int64)[order]
    n_convs = len(n_turns)
    n_docs = int(n_turns.sum())
    small = max_idx <= 61
    # shift guard: where the dense screen holds AND small, n_turns <= 62
    shift = np.minimum(n_turns, 62).astype(np.int64)
    target = (np.int64(1) << shift) - 1
    sparse = (
        (min_idx != 0)
        | (max_idx != n_turns - 1)
        | (small & (bits != target))
    )
    dense = not bool(sparse.any())
    if dense and bool((~small).any()):
        # convs too long for the 62-bit bitmap: exact distinct count over
        # just those convs' turns (one filtered pass; rare)
        long_ids = conv_col.take(pa.array(order[np.flatnonzero(~small)]))
        long_df = spark.createDataFrame(
            pa.table({"conv_id": long_ids}).to_pandas()
        )
        exact = (
            df.join(F.broadcast(long_df), "conv_id", "left_semi")
            .groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.countDistinct("turn_idx").alias("n_distinct"),
            )
            .where(F.col("n_distinct") != F.col("n_turns"))
            .limit(1)
            .collect()
        )
        dense = not exact
    if writer is not None:
        if dense:
            base = np.concatenate(([0], np.cumsum(n_turns)[:-1]))
            out = pa.table(
                {
                    "conv_id": conv_col.take(pa.array(order)),
                    "n_turns": pa.array(n_turns, type=pa.int64()),
                    "base": pa.array(base, type=pa.int64()),
                }
            )
            writer(out, n_docs, n_convs)
        return None, n_docs, n_convs, dense
    base = np.concatenate(([0], np.cumsum(n_turns)[:-1]))
    bases = spark.createDataFrame(
        pa.table(
            {
                "conv_id": conv_col.take(pa.array(order)),
                "n_turns": pa.array(n_turns, type=pa.int64()),
                "base": pa.array(base, type=pa.int64()),
            }
        ).to_pandas()
    )
    return bases, n_docs, n_convs, dense


def _conv_bases(
    df: DataFrame, num_partitions: int, writer=None
) -> tuple[DataFrame | None, int, int, bool]:
    """Per-conversation (base, n_turns) with base = #turns in all earlier
    conv_ids.  Returns (bases_df, n_docs, n_convs, turn_idx_is_dense).

    ``writer(bases_df, n_docs, n_convs)``: when given AND the corpus is
    dense, the (lazy) bases frame is handed to the writer for its ONE
    materialization (e.g. the store's conv_bases parquet write) instead of
    being localCheckpoint'ed — one pass over the conv table instead of
    two, and the returned bases_df is None (the writer's sink owns the
    data).  When the corpus is NOT dense the writer is never called (the
    caller falls back to the materialized map) and no bases pass runs at
    all."""
    convs = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("turn_idx").alias("min_idx"),
        F.max("turn_idx").alias("max_idx"),
        # EXACT permutation-of-0..n-1 test without a countDistinct: for
        # convs with max_idx <= 61 the bit_or of 1<<turn_idx equals
        # (1<<n)-1 iff the set is exactly {0..n-1} (duplicates-plus-gap
        # like [0, 0, 2] fails the bitmap where a count-only test passes).
        # countDistinct doubled the corpus aggregation's cost (partial
        # distinct expansion); convs too long for the bitmap are exactly
        # re-checked in a second, filtered pass below — zero extra scans on
        # corpora whose conversations fit 62 turns.
        F.expr(
            "bit_or(case when turn_idx between 0 and 61 "
            "then shiftleft(1L, cast(turn_idx as int)) else 0L end)"
        ).alias("bits"),
    )
    # Broadcast-feasible regime: a conv table the attach join is allowed to
    # BROADCAST is by definition driver-memory-sized, so the enumeration
    # finishes driver-side — ONE Spark job (agg + Arrow collect; the
    # limit caps driver memory and detects the huge regime by overflow),
    # then numpy sort/cumsum/dense-test and a direct parquet write.  This
    # replaces the range shuffle + per-partition-counts job + enumerate
    # pass of the distributed path below, whose fixed job latencies
    # dominated phase 0 at high core counts.  Bigger conv tables (the
    # 100 TB regime) take the distributed path unchanged.
    cap = BROADCAST_MAX_CONVS
    head = convs.limit(cap + 1).toArrow()
    if head.num_rows <= cap:
        return _conv_bases_driver(df.sparkSession, df, head, writer)
    # persist the agg output BEFORE range-partitioning: repartitionByRange
    # must sample its input, and sampling an un-persisted frame re-runs the
    # whole corpus aggregation — phase 0 was paying the 8M-row agg twice
    convs.persist(StorageLevel.MEMORY_AND_DISK)
    ordered = convs.repartitionByRange(
        num_partitions, "conv_id"
    ).sortWithinPartitions("conv_id")
    ordered.persist(StorageLevel.MEMORY_AND_DISK)
    parts = (
        ordered.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.sum("n_turns").alias("n_turns"),
            F.max(
                (
                    (F.col("min_idx") != 0)
                    | (F.col("max_idx") != F.col("n_turns") - 1)
                    | (
                        (F.col("max_idx") <= 61)
                        & (
                            F.col("bits")
                            != F.expr("shiftleft(1L, cast(n_turns as int)) - 1L")
                        )
                    )
                ).cast("int")
            ).alias("sparse"),
            # convs too long for the 62-bit bitmap: their dense test needs
            # the exact (filtered) countDistinct pass below
            F.max((F.col("max_idx") > 61).cast("int")).alias("long_conv"),
            # NULL conv_id forms its own group here but never matches the
            # equi-join back to the corpus: its turns would VANISH from the
            # index while n_docs still counted them (stats drift + an id
            # hole).  Same collect, zero extra cost — fail loudly instead.
            F.max(F.col("conv_id").isNull().cast("int")).alias("has_null"),
        )
        .collect()  # one row per partition — O(partitions), not O(rows)
    )
    # parts materialized `ordered`'s cache; the pre-shuffle agg cache has
    # served its purpose (the range sampling + the one shuffle read)
    convs.unpersist()
    if any(r["has_null"] for r in parts):
        raise ValueError(
            "NULL conv_id in input turns: doc-id assignment joins on "
            "conv_id, so NULL-keyed turns would be silently dropped from "
            "the index while still counted in n_docs — clean the input "
            "(assign a sentinel conv id) first"
        )
    n_docs = int(sum(r["n_turns"] for r in parts))
    n_convs = int(sum(r["n_convs"] for r in parts))
    dense = all(r["sparse"] == 0 for r in parts)
    if dense and any(r["long_conv"] for r in parts):
        # some convs exceed the 62-bit bitmap: their permutation test needs
        # the exact distinct count — one FILTERED pass over just those
        # convs' turns (broadcast semi-join on the small long-conv id set)
        long_ids = ordered.where(F.col("max_idx") > 61).select("conv_id")
        exact = (
            df.join(F.broadcast(long_ids), "conv_id", "left_semi")
            .groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.countDistinct("turn_idx").alias("n_distinct"),
            )
            .where(F.col("n_distinct") != F.col("n_turns"))
            .limit(1)
            .collect()
        )
        dense = not exact
    offsets: dict[int, int] = {}
    expect: dict[int, int] = {}
    acc = 0
    by_pid = {r["pid"]: r for r in parts}
    for pid in range(num_partitions):
        offsets[pid] = acc
        r = by_pid.get(pid)
        expect[pid] = int(r["n_convs"]) if r is not None else 0
        acc += int(r["n_turns"]) if r is not None else 0

    def enumerate_convs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        seen = 0
        for batch in batches:
            n_turns = batch.column("n_turns").to_numpy().astype(np.int64)
            bases = base + np.concatenate(([0], np.cumsum(n_turns)[:-1]))
            base += int(n_turns.sum())
            seen += batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("conv_id").cast(pa.string()),
                    pa.array(n_turns, type=pa.int64()),
                    pa.array(bases, type=pa.int64()),
                ],
                names=["conv_id", "n_turns", "base"],
            )
        if seen != expect.get(pid, 0):
            # partition contents changed between the count collect and this
            # pass (e.g. lost persisted blocks + re-sampled ranges): ids would
            # be silently wrong — abort the job instead
            raise RuntimeError(
                f"conv partition {pid} row count drifted: saw {seen}, "
                f"expected {expect.get(pid, 0)}"
            )

    if writer is not None:
        try:
            if dense:
                writer(
                    ordered.mapInArrow(enumerate_convs, _BASES_SCHEMA),
                    n_docs,
                    n_convs,
                )
        finally:
            ordered.unpersist()
        return None, n_docs, n_convs, dense
    # Eagerly materialize the (small) bases table and cut its lineage so the
    # cached `ordered` frame can be released NOW instead of leaking a cached
    # DataFrame per build for the session lifetime.  localCheckpoint blocks
    # live distributed (executor memory/disk) and are reclaimed by the
    # ContextCleaner once the frame is unreferenced — unlike .persist(),
    # which pins the plan in the cache manager forever.
    bases = ordered.mapInArrow(enumerate_convs, _BASES_SCHEMA).localCheckpoint(
        eager=True
    )
    ordered.unpersist()
    return bases, n_docs, n_convs, dense


def assign_doc_ids_counted(
    df: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """``assign_doc_ids`` + total row count (known driver-side for free from
    the conv aggregation — no separate count job)."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 4)
    bases, n_docs, n_convs, dense = _conv_bases(df, num_partitions)
    bases = bases.select("conv_id", "base")
    if n_convs <= BROADCAST_MAX_CONVS:
        bases = F.broadcast(bases)
    joined = df.join(bases, "conv_id")
    if dense:
        doc_id = F.col("base") + F.col("turn_idx").cast("long")
    else:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        doc_id = F.col("base") + F.row_number().over(w).cast("long") - F.lit(1).cast("long")
    out = joined.select(
        *[F.col(c) for c in df.columns], doc_id.cast("long").alias("doc_id")
    )
    return out, n_docs


def assign_doc_ids(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Return ``df`` + ``doc_id`` (long), dense in (conv_id, turn_idx) order."""
    out, _ = assign_doc_ids_counted(df, num_partitions)
    return out
