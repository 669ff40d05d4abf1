"""Segment store: generational segments + atomic manifest + deletes.

Reference analog — Trinity's on-disk index model:
- a *segment* is a directory of postings + term dictionary + field stats,
  named by generation (``/root/reference/indexer.cpp:241-300``);
- an *index sources collection* is the ordered-by-generation set of segments,
  where newer sources' masked-document sets veto older docs
  (``index_source.h:191-238``);
- segment persist is atomic (tmp write + rename, ``indexer.cpp:286-300``).

Our layout (plain parquet + a JSON manifest; the design is Iceberg-shaped —
manifest == snapshot metadata — because no Iceberg runtime jar ships in this
sandbox; on a cluster each ``commit_segment`` becomes one Iceberg append
snapshot):

    <base>/
      manifest.json                 # atomic: tmp + os.replace
      docid_map/                    # doc_id <-> (conv_id, turn_idx) + text cols
      segments/<segment_id>/
        postings/   (block rows, written sorted by term -> parquet min/max
                     column stats give term-seek, the terms.idx analog)
        term_dict/
        field_stats/
      deletes/<gen>.parquet         # masked doc_ids (docidupdates.cpp analog)

The manifest records, per segment: generation, doc range, row counts, build
METRICS (wall seconds, turns/sec) and LINEAGE (input fingerprint, docid
range, builder version) — the north rule's per-partition checkpoint +
lineage requirement.  ``build_index`` resumes by skipping segment ids already
committed in the manifest.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"

# Postings output files are sized by DATA VOLUME, not core count.  The old
# one-file-per-core write produced 32 x ~1.7 MB files at the 1M-turn bench
# point; every query scan then planned one task per file, and the per-task
# Python-runner round trip of the decode MapInArrow dominated selective
# queries (measured: an empty-term decode cost 0.42 s across 32 tasks vs
# 0.22 s as one task).  Target ~32 MiB per file: small indexes collapse to
# 1-2 files (selective scans plan 1 task), large indexes grow files with
# the data (431 MB at 8M turns -> ~16 files) and Spark still splits big
# files at maxPartitionBytes for scan parallelism.  Cluster deployments
# tune the target via env (guide: aim 128 MB-1 GB per output file).
POSTINGS_TARGET_FILE_BYTES = int(
    os.environ.get("TRINITY_POSTINGS_FILE_BYTES", str(32 << 20))
)
# Driver-side size estimate (no extra Spark job at commit time): measured
# ~54 B/doc on the bench transcript corpus at 1M turns; only the ORDER of
# magnitude matters (file-count decisions), so a corpus-specific override
# is an env knob, not a measurement job.
POSTINGS_EST_BYTES_PER_DOC = float(
    os.environ.get("TRINITY_POSTINGS_BYTES_PER_DOC", "64")
)
# Parquet row-group size for postings files.  Row groups are BOTH the term-
# pruning granularity (min/max stats on the sorted term column) AND the
# scan-parallelism unit (a row group is read by exactly one task), so with
# few large files the default 128 MB row group would serialize multi-term
# decodes into 1-2 tasks.  ~8 MiB keeps the old 32-file layout's skip
# granularity and parallel decode units inside the new large files.
POSTINGS_ROWGROUP_BYTES = int(
    os.environ.get("TRINITY_POSTINGS_ROWGROUP_BYTES", str(8 << 20))
)


@dataclass
class SegmentMeta:
    segment_id: str
    generation: int
    doc_lo: int
    doc_hi: int  # exclusive
    docs_cnt: int
    lineage: dict[str, Any] = field(default_factory=dict)
    metrics: dict[str, Any] = field(default_factory=dict)


class SegmentStore:
    def __init__(self, base: str):
        self.base = base
        os.makedirs(base, exist_ok=True)

    # --- manifest ---

    def _manifest_path(self) -> str:
        return os.path.join(self.base, MANIFEST)

    def read_manifest(self) -> dict[str, Any]:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"segments": [], "deletes": [], "next_generation": 1}
        with open(p) as f:
            return json.load(f)

    @contextlib.contextmanager
    def _manifest_lock(self):
        """Advisory exclusive lock serializing manifest READ-MODIFY-WRITE
        cycles.  Every mutation method re-reads the manifest under this
        lock before writing, so two same-host writers (an NRT ingest stream
        racing a maintenance merge — the deployment this store targets)
        cannot interleave between read_manifest and _write_manifest and
        silently drop each other's entries (lost update: a tombstone or
        segment committed in the window would vanish from the written
        copy).  flock is advisory and same-host only; a multi-host
        deployment swaps this for an Iceberg catalog's atomic
        compare-and-swap commit (the documented substitution point)."""
        import fcntl

        os.makedirs(self.base, exist_ok=True)
        with open(os.path.join(self.base, ".manifest.lock"), "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    def _write_manifest(self, m: dict[str, Any]) -> None:
        """Atomic commit + retained snapshot.  Every manifest write bumps
        ``snapshot_id`` and RETAINS the full new state as
        ``snapshots/<id>.json`` (Iceberg's snapshot-per-commit model;
        reference analog: generation-ordered sources,
        index_source.h:191-204) — ``at(id)`` time-travels to any retained
        snapshot, ``expire_snapshots`` + ``gc`` reclaim.  The snapshot file
        lands BEFORE the manifest flips, so a crash between the two leaves
        only a harmless orphan snapshot, never a manifest without its
        snapshot."""
        m["snapshot_id"] = int(m.get("snapshot_id", 0)) + 1
        m["committed_at"] = time.time()
        blob = json.dumps(m, indent=1, sort_keys=True)
        snap_dir = os.path.join(self.base, "snapshots")
        os.makedirs(snap_dir, exist_ok=True)
        snap = os.path.join(snap_dir, f"{m['snapshot_id']}.json")
        with open(snap + ".tmp", "w") as f:
            f.write(blob)
        os.replace(snap + ".tmp", snap)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(blob)
        os.replace(tmp, self._manifest_path())  # atomic snapshot commit
        retain = m.get("snapshot_retention")
        if retain is not None:
            # bounded history: a streaming ingest commits once per
            # micro-batch, so unbounded retention is an operational leak at
            # NRT cadence — the policy trims the files, data reclaim still
            # waits for the next gc pass
            self.expire_snapshots(keep_last=int(retain))

    def set_snapshot_retention(self, keep_last: int | None) -> None:
        """Cap retained history at ``keep_last`` snapshots, auto-trimmed on
        every commit (None = retain all, the default).  A streaming ingest
        commits once per micro-batch — without a cap, a long-running NRT
        stream accretes one snapshot file per epoch forever.  Time travel
        stays available within the window; ``gc`` reclaims data the trimmed
        snapshots pinned."""
        if keep_last is not None and keep_last < 1:
            raise ValueError(f"keep_last must be >= 1 or None, got {keep_last}")
        with self._manifest_lock():
            m = self.read_manifest()
            if keep_last is None:
                m.pop("snapshot_retention", None)
            else:
                m["snapshot_retention"] = int(keep_last)
            self._write_manifest(m)

    def segments(self) -> list[SegmentMeta]:
        return [SegmentMeta(**s) for s in self.read_manifest()["segments"]]

    # --- snapshots / time travel ---

    def _snapshot_files(self) -> list[tuple[int, str]]:
        snap_dir = os.path.join(self.base, "snapshots")
        out = []
        if os.path.isdir(snap_dir):
            for name in os.listdir(snap_dir):
                if name.endswith(".json"):
                    out.append((int(name[:-5]), os.path.join(snap_dir, name)))
        return sorted(out)

    def list_snapshots(self) -> list[dict[str, Any]]:
        """Retained snapshots, oldest first: (snapshot_id, committed_at,
        n_segments, n_docs, n_delete_files) — the store's commit history."""
        out = []
        for sid, path in self._snapshot_files():
            try:
                with open(path) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue  # trimmed by a concurrent retention/expire pass
            out.append(
                {
                    "snapshot_id": sid,
                    "committed_at": m.get("committed_at"),
                    "n_segments": len(m["segments"]),
                    "n_docs": sum(s["docs_cnt"] for s in m["segments"]),
                    "n_delete_files": len(m["deletes"]),
                }
            )
        return out

    def at(self, snapshot_id: int) -> "SegmentStore":
        """Read-only view of the store AS OF a retained snapshot — open it
        with ``SegmentIndex(spark, store.at(id))`` and every query answers
        against that commit's segment set and tombstones (later deletes are
        invisible; later-retired segments resolve as long as ``gc`` hasn't
        reclaimed them, and ``gc`` keeps everything any retained snapshot
        references).  Writes through the view raise.  The docid map is not
        versioned: it grows append-only (per-segment slices), so old
        snapshots' mappings remain valid."""
        path = os.path.join(self.base, "snapshots", f"{int(snapshot_id)}.json")
        try:
            with open(path) as f:
                return _PinnedSnapshotStore(self.base, json.load(f))
        except FileNotFoundError:
            have = [sid for sid, _ in self._snapshot_files()]
            raise ValueError(
                f"no snapshot {snapshot_id} in {self.base!r}; retained: {have}"
            ) from None

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` retained snapshots
        (Iceberg ``expire_snapshots``).  Reclaims only HISTORY — the current
        manifest is not a snapshot file and stays authoritative regardless;
        run ``gc`` afterwards to reclaim data files only the expired
        snapshots referenced.  Returns the expired ids."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, got {keep_last}")
        files = self._snapshot_files()
        drop = files[: max(0, len(files) - keep_last)] if keep_last else files
        for _, path in drop:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass  # a concurrent expire already took it
        return [sid for sid, _ in drop]

    # --- codec identity (codecs.h:93-95: the segment records which codec
    # wrote it; indexer.cpp:268-270) ---

    def default_codec(self) -> str:
        """The store's wire codec: fixed by the FIRST build (manifest
        ``codec`` key) so later builds / NRT appends stay homogeneous unless
        a caller explicitly overrides per build."""
        return self.read_manifest().get("codec", "varbyte")

    def record_default_codec(self, codec: str) -> None:
        """Record the store codec on first build.  A later build asking for
        a DIFFERENT codec is an error — silently keeping the old default
        would revert the caller's explicit choice and leave the store
        permanently mixed (new segments one codec, NRT appends/merges the
        other, byte reuse disabled).  Changing wires means a new store."""
        with self._manifest_lock():
            m = self.read_manifest()
            if "codec" not in m:
                m["codec"] = codec
                self._write_manifest(m)
        if "codec" in m and m["codec"] != codec:
            raise ValueError(
                f"store codec is fixed to {m['codec']!r} by its first build; "
                f"got codec={codec!r} — build into a fresh store to switch "
                "wires"
            )

    @staticmethod
    def segment_codec(meta: SegmentMeta) -> str:
        return meta.lineage.get("codec", "varbyte")

    def has_segment(self, segment_id: str) -> bool:
        return any(s["segment_id"] == segment_id for s in self.read_manifest()["segments"])

    # --- paths ---

    def segment_dir(self, segment_id: str, part: str) -> str:
        return os.path.join(self.base, "segments", segment_id, part)

    def docid_map_dir(self) -> str:
        return os.path.join(self.base, "docid_map")

    def conv_bases_dir(self) -> str:
        return os.path.join(self.base, "conv_bases")

    # --- writes ---

    def write_docid_map(
        self,
        turns_with_ids: DataFrame,
        n_docs: int | None = None,
        layout: bool = True,
    ) -> None:
        """Write the docid_map; when ``n_docs`` is known and ``layout`` is on,
        lay files out by doc_id range (pid = doc_id // rows_per_file, rows
        sorted within) so a segment's ``doc_id in [lo, hi)`` read prunes
        files/row-groups via parquet min/max stats instead of scanning the
        whole corpus.  Single-segment builds pass ``layout=False`` — the one
        segment reads everything anyway, so the range shuffle is pure cost."""
        nrt_dir = os.path.join(self.docid_map_dir(), "nrt")
        if os.path.isdir(nrt_dir) and os.listdir(nrt_dir):
            # mode('overwrite') below replaces the docid_map ROOT — it would
            # silently destroy the committed NRT micro-segments' doc_id
            # translations under nrt/.  A batch (re)build over a store with
            # NRT appends would fail its overlap guard anyway, but only
            # AFTER this write had already eaten the slices — fail first.
            raise RuntimeError(
                "docid_map holds NRT micro-segment slices; rewriting the "
                "batch map would destroy their doc_id translations — merge "
                "the NRT segments first (operators.merge) or build into a "
                "fresh store"
            )
        df = turns_with_ids
        if n_docs and layout:
            import math

            par = max(df.sparkSession.sparkContext.defaultParallelism, 2)
            rows_per_file = max(math.ceil(n_docs / (par * 2)), 1 << 14)
            n_files = max(math.ceil(n_docs / rows_per_file), 1)
            df = df.repartition(
                n_files, (F.col("doc_id") / F.lit(rows_per_file)).cast("long")
            ).sortWithinPartitions("doc_id")
        df.write.mode("overwrite").parquet(self.docid_map_dir())
        if n_docs is not None:
            with self._manifest_lock():
                m = self.read_manifest()
                m["docid_map"] = {"n_docs": int(n_docs)}
                self._write_manifest(m)

    def write_conv_bases(
        self,
        bases: DataFrame,
        n_docs: int,
        n_convs: int,
        input_desc: str,
    ) -> None:
        """VIRTUAL docid_map: persist only the per-conversation base table
        (conv_id, n_turns, base) — ~10-100x smaller than the corpus — plus
        the derivation rule ``doc_id = base + turn_idx`` recorded in the
        manifest.  At 100 TB the materialized map would DOUBLE the corpus on
        disk; the conv table is the minimal deterministic checkpoint that
        reproduces the exact same assignment from the (immutable) input.

        ``bases`` is either a DataFrame (distributed enumerate) or a
        pyarrow Table (the driver-side enumerate of broadcast-feasible conv
        tables) — the Table path writes the parquet directly, no Spark job.
        """
        import pyarrow as pa

        if isinstance(bases, pa.Table):
            import shutil

            import pyarrow.parquet as pq

            d = self.conv_bases_dir()
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d, exist_ok=True)
            pq.write_table(bases, os.path.join(d, "part-00000.parquet"))
        else:
            bases.write.mode("overwrite").parquet(self.conv_bases_dir())
        with self._manifest_lock():
            m = self.read_manifest()
            m["docid_map"] = {
                "mode": "virtual",
                "n_docs": int(n_docs),
                "n_convs": int(n_convs),
                "input": input_desc,
                "rule": "doc_id = base + turn_idx (dense per-conv turn_idx)",
            }
            self._write_manifest(m)

    def read_conv_bases(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.conv_bases_dir())

    def docid_map_mode(self) -> str:
        return self.read_manifest().get("docid_map", {}).get("mode", "materialized")

    def attach_doc_ids(self, turns: DataFrame) -> DataFrame:
        """Virtual-map resolution for readers of the translation table
        (``read_docid_map``, e.g. NRT ``replace_documents``): join the input
        to the persisted conv bases and compute doc_id arithmetically.  The
        result is identical to the materialized map, rebuilt
        deterministically from the frozen bases.  Builds never call this —
        their fused encode pass attaches doc ids worker-side."""
        spark = turns.sparkSession
        m = self.read_manifest()["docid_map"]
        bases = self.read_conv_bases(spark).select("conv_id", "base")
        # broadcast up to the cap under which phase 0 enumerates the conv
        # table driver-side (a table that fits the driver fits a broadcast);
        # past it a plain shuffle join — row order does not matter here
        from ..operators.docids import BROADCAST_MAX_CONVS

        if m.get("n_convs", 0) <= BROADCAST_MAX_CONVS:
            bases = F.broadcast(bases)
        joined = turns.join(bases, "conv_id")
        doc_id = (F.col("base") + F.col("turn_idx").cast("long")).alias("doc_id")
        return joined.select(*[F.col(c) for c in turns.columns], doc_id)

    def read_docid_map(self, spark: SparkSession, turns: DataFrame | None = None) -> DataFrame:
        """The doc_id <-> turn translation table.

        Materialized mode: read the parquet map (plus any NRT slices).
        Virtual mode: recompute from conv_bases over ``turns`` (the original
        input frame); when ``turns`` is None the recorded input path is read
        back — the input is immutable by contract (its descriptor is lineage)."""
        if self.docid_map_mode() == "virtual":
            if turns is None:
                src = self.read_manifest()["docid_map"]["input"]
                if not os.path.exists(src):
                    raise ValueError(
                        "virtual docid_map: pass `turns` (recorded input "
                        f"descriptor {src!r} is not a readable path)"
                    )
                turns = spark.read.parquet(src)
            out = self.attach_doc_ids(turns)
            # NRT appends still land as materialized slices — union them in
            if os.path.exists(self.docid_map_dir()):
                out = out.unionByName(
                    spark.read.option("recursiveFileLookup", "true").parquet(
                        self.docid_map_dir()
                    ),
                    allowMissingColumns=True,
                )
            return out
        # materialized: flat batch map files + nrt/<segment_id>/ slices
        return spark.read.option("recursiveFileLookup", "true").parquet(
            self.docid_map_dir()
        )

    def write_docid_map_slice(self, turns_with_ids: DataFrame, segment_id: str) -> None:
        """NRT micro-batch slice of the docid_map, at a DETERMINISTIC
        per-segment path with overwrite semantics: a crashed batch replayed
        by the stream checkpoint rewrites the same files instead of appending
        duplicate doc_id rows (exactly-once for the map, not just the
        segment)."""
        turns_with_ids.write.mode("overwrite").parquet(
            os.path.join(self.docid_map_dir(), "nrt", segment_id)
        )

    def read_docid_map_slice(self, spark: SparkSession, segment_id: str) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.docid_map_dir(), "nrt", segment_id)
        )

    def docid_map_count(self, spark: SparkSession) -> int:
        """n_docs from the manifest when recorded; else one count job."""
        m = self.read_manifest()
        if "docid_map" in m and "n_docs" in m["docid_map"]:
            return int(m["docid_map"]["n_docs"])
        return self.read_docid_map(spark).count()

    def _write_segment_data(
        self,
        blocks: DataFrame,
        term_dict: DataFrame,
        field_stats: DataFrame,
        segment_id: str,
        docs_hint: int,
    ) -> int:
        # sorted by term: parquet row-group min/max on `term` = dictionary seek.
        # Partition count is derived from estimated postings BYTES (see
        # POSTINGS_TARGET_FILE_BYTES), capped at core count: tiny segments
        # (including 0-doc ones, e.g. a merge of fully tombstoned inputs)
        # write 1 file instead of one-per-core, big segments keep up to one
        # writer per core.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        import math

        par = max(blocks.sparkSession.sparkContext.defaultParallelism, 2)
        est = docs_hint * POSTINGS_EST_BYTES_PER_DOC
        n_parts = min(max(math.ceil(est / POSTINGS_TARGET_FILE_BYTES), 1), par)

        obs = Observation()

        # HASH-partition by term (each term still lands in exactly one file,
        # term-sorted within it, so parquet row-group min/max pruning is
        # unchanged) instead of RANGE: repartitionByRange runs a sampling
        # pass over the whole blocks frame to pick bounds — a fixed extra
        # job per segment commit that capped commit-phase scaling.  No
        # consumer needs a global cross-file term order (no term-range
        # scans; the dictionary is its own table).

        def _write_postings() -> None:
            blocks.repartition(n_parts, "term").sortWithinPartitions(
                "term", "block_id"
            ).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").option(
                "parquet.block.size", str(POSTINGS_ROWGROUP_BYTES)
            ).parquet(
                self.segment_dir(segment_id, "postings")
            )

        def _write_dict() -> None:
            # KB-scale table: one file, not one per shuffle partition (a
            # 32-file dictionary made the first stats_for collect pay 32
            # footer reads)
            term_dict.coalesce(1).write.mode("overwrite").parquet(
                self.segment_dir(segment_id, "term_dict")
            )

        def _write_stats() -> None:
            field_stats.coalesce(1).write.mode("overwrite").parquet(
                self.segment_dir(segment_id, "field_stats")
            )

        # the three outputs derive from the SAME persisted blocks frame and
        # are mutually independent: submit them as concurrent driver
        # actions so the commit wall is the postings write, not the sum of
        # three job latencies (the dict/stats frames are tiny)
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [pool.submit(f) for f in (_write_postings, _write_dict, _write_stats)]
            for f in futs:
                f.result()
        # exact written-block count for lineage: lets fsck detect LOST
        # postings files (physical < lineage) as an ERROR, which the doc
        # count cannot (zero-token docs legitimately depress it).  Counted
        # by an Observation ON the write job itself (rows that flowed into
        # the files) — the old footer re-read was one extra Spark job per
        # segment commit, pure fixed cost at the 1000-segment design point.
        return int(obs.get["n"])

    def commit_segment(
        self,
        blocks: DataFrame,
        term_dict: DataFrame,
        field_stats: DataFrame,
        meta: SegmentMeta,
    ) -> None:
        """Write segment data, then atomically add it to the manifest.
        Data writes are idempotent (overwrite) so a crashed attempt is
        invisible until the manifest names the segment — Trinity's
        tmp-then-rename persist (indexer.cpp:286-300)."""
        meta.lineage["n_blocks"] = self._write_segment_data(
            blocks, term_dict, field_stats, meta.segment_id,
            docs_hint=meta.docs_cnt,
        )
        with self._manifest_lock():
            m = self.read_manifest()
            self._check_nrt_allocation(m, meta)
            m["segments"] = [
                s for s in m["segments"] if s["segment_id"] != meta.segment_id
            ]
            meta.generation = m["next_generation"]
            m["next_generation"] += 1
            m["segments"].append(meta.__dict__)
            self._write_manifest(m)

    def _check_nrt_allocation(self, m: dict[str, Any], meta: SegmentMeta) -> None:
        """Optimistic-concurrency check for NRT appends: doc-id allocation
        reads the high-water mark without a lock, so a concurrent writer may
        have committed the same range first.  The writers' data paths are
        already disjoint (marker-suffixed segment ids, streaming/nrt.py), so
        the loser raises here with nothing clobbered — its orphaned data
        files are gc-able and the batch can re-run against a fresh range.
        Scoped to nrt-append metas: a MERGE legitimately commits a segment
        overlapping its (about-to-retire) inputs.  A millisecond window
        remains between this read and the manifest rename (last-wins) —
        true multi-writer CAS is the documented Iceberg swap point."""
        if meta.lineage.get("mode") != "nrt-append":
            return
        clash = [
            s["segment_id"]
            for s in m["segments"]
            if s["segment_id"] != meta.segment_id
            and s["doc_lo"] < meta.doc_hi
            and meta.doc_lo < s["doc_hi"]
        ]
        if clash:
            raise ValueError(
                f"doc-id range [{meta.doc_lo}, {meta.doc_hi}) of "
                f"{meta.segment_id!r} overlaps committed segment(s) {clash}: "
                "a concurrent writer advanced the high-water mark after this "
                "batch's allocation; its data files are orphaned (gc-able) — "
                "re-run the batch to allocate a fresh range"
            )

    def commit_segment_with_deletes(
        self,
        blocks: DataFrame,
        term_dict: DataFrame,
        field_stats: DataFrame,
        meta: SegmentMeta,
        deletes_df: DataFrame,
    ) -> int:
        """Segment commit + tombstone set in ONE atomic manifest write — the
        document-replace primitive (reference ``indexer.h:181-206``
        insert/update/erase; the new source's masked set vetoes the OLDER
        versions, ``index_source.h:191-238``).  A crash before the manifest
        write leaves both the new segment and the tombstones invisible; after
        it, both are visible — no window where the new version exists without
        the old one masked (or vice versa).  Returns the tombstone generation.
        """
        meta.lineage["n_blocks"] = self._write_segment_data(
            blocks, term_dict, field_stats, meta.segment_id,
            docs_hint=meta.docs_cnt,
        )
        with self._manifest_lock():
            m = self.read_manifest()
            self._check_nrt_allocation(m, meta)
            seg_gen = m["next_generation"]
            del_gen = seg_gen + 1  # tombstones are NEWER: they veto
            path = os.path.join(self.base, "deletes", f"{del_gen}.parquet")
            deletes_df.select(F.col("doc_id").cast("long")).withColumn(
                "gen", F.lit(del_gen)
            ).write.mode("overwrite").parquet(path)
            m["segments"] = [
                s for s in m["segments"] if s["segment_id"] != meta.segment_id
            ]
            meta.generation = seg_gen
            m["next_generation"] = del_gen + 1
            m["segments"].append(meta.__dict__)
            m["deletes"].append({"gen": del_gen, "path": path})
            self._write_manifest(m)
        return del_gen

    def commit_merge(
        self,
        blocks: DataFrame,
        term_dict: DataFrame,
        field_stats: DataFrame,
        meta: SegmentMeta,
        retire_ids: list[str],
        retire_delete_gens: list[int] | None = None,
    ) -> None:
        """Merge commit: add the merged segment, retire its inputs, and
        retire fully-applied tombstone generations in ONE atomic manifest
        write (merge.cpp:418-447 retention verdict).  The previous
        three-write sequence (commit_segment, retire_segments, tombstone
        trim) had windows where BOTH the inputs and the merged output were
        visible — a SegmentIndex opened in that window served every merged
        doc twice — and where a concurrent add_deletes landing between the
        trim's read and write was silently dropped (lost update)."""
        meta.lineage["n_blocks"] = self._write_segment_data(
            blocks, term_dict, field_stats, meta.segment_id,
            docs_hint=meta.docs_cnt,
        )
        retire = set(retire_ids)
        gens = set(retire_delete_gens or [])
        with self._manifest_lock():
            m = self.read_manifest()
            meta.generation = m["next_generation"]
            m["next_generation"] += 1
            m["segments"] = [
                s
                for s in m["segments"]
                if s["segment_id"] not in retire
                and s["segment_id"] != meta.segment_id
            ]
            m["segments"].append(meta.__dict__)
            if gens:
                m["deletes"] = [
                    d for d in m["deletes"] if d["gen"] not in gens
                ]
            self._write_manifest(m)

    def update_segment_metrics(
        self, segment_id: str, metrics: dict[str, Any]
    ) -> None:
        """Patch one committed segment's ``metrics`` in the manifest — the
        post-commit lineage update (wall_sec includes the commit write
        itself, so it can only be recorded after).  Metadata-only; shares the
        atomic snapshot-per-write path, so with a retention policy set the
        extra snapshot is trimmed on the spot."""
        with self._manifest_lock():
            m = self.read_manifest()
            for s in m["segments"]:
                if s["segment_id"] == segment_id:
                    s["metrics"] = dict(metrics)
                    break
            else:
                raise ValueError(f"no committed segment {segment_id!r}")
            self._write_manifest(m)

    def discard_uncommitted(self, segment_id: str) -> None:
        """Remove a segment attempt's data that was REJECTED before its
        manifest commit (the nrt allocation check): until the next ``gc()``
        the orphaned docid-map slice would serve duplicate doc-id
        translations for a range another writer committed — a later
        ``replace_documents`` old-version lookup could then tombstone the
        WINNER's document through the loser's stale rows.  Refuses if the
        current manifest names the segment."""
        import shutil

        if any(
            s["segment_id"] == segment_id
            for s in self.read_manifest()["segments"]
        ):
            raise ValueError(
                f"segment {segment_id!r} is committed; use retire_segments + gc"
            )
        for p in (
            os.path.join(self.base, "segments", segment_id),
            os.path.join(self.docid_map_dir(), "nrt", segment_id),
        ):
            shutil.rmtree(p, ignore_errors=True)

    def retire_segments(self, segment_ids: list[str]) -> None:
        """Drop merged-away segments from the manifest (the merge retention
        verdict, merge.cpp:418-447). Data dirs are left for GC."""
        with self._manifest_lock():
            m = self.read_manifest()
            m["segments"] = [
                s for s in m["segments"] if s["segment_id"] not in segment_ids
            ]
            self._write_manifest(m)

    def add_deletes(self, spark: SparkSession, doc_ids: list[int] | DataFrame) -> int:
        """Mask documents (docidupdates.cpp analog): a new tombstone file +
        manifest entry at the next generation."""
        with self._manifest_lock():
            m = self.read_manifest()
            gen = m["next_generation"]
            m["next_generation"] += 1
            path = os.path.join(self.base, "deletes", f"{gen}.parquet")
            df = (
                spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
                if isinstance(doc_ids, list)
                else doc_ids.select(F.col("doc_id").cast("long"))
            )
            df.withColumn("gen", F.lit(gen)).write.mode("overwrite").parquet(path)
            m["deletes"].append({"gen": gen, "path": path})
            self._write_manifest(m)
        return gen

    # --- reads ---

    def read_blocks(
        self,
        spark: SparkSession,
        segment_ids: list[str] | None = None,
        with_codec: bool = False,
    ) -> DataFrame:
        """Union of the selected segments' block rows.  ``with_codec=True``
        tags each segment's rows with its lineage codec as a literal column
        (decode_segments then splits per codec — the mixed-codec read path);
        the tag is a per-file constant, so codec filters fold at plan time.

        All store reads pin the KNOWN write-time schema instead of letting
        Spark infer it — schema inference runs a footer-reading job per
        ``read.parquet`` call, which made every SegmentIndex open cost ~3
        driver jobs; a 100-store collection open was ~300 tiny serial jobs
        before the first real query job.  Pinned, opens are job-free."""
        from ..operators.segments import SEGMENT_SCHEMA

        metas = self.segments()
        if segment_ids is not None:
            metas = [s for s in metas if s.segment_id in segment_ids]
        if not metas:
            schema = SEGMENT_SCHEMA + (", codec string" if with_codec else "")
            return spark.createDataFrame([], schema)
        if not with_codec:
            paths = [self.segment_dir(s.segment_id, "postings") for s in metas]
            return spark.read.schema(SEGMENT_SCHEMA).parquet(*paths)
        by_codec: dict[str, list[str]] = {}
        for s in metas:
            by_codec.setdefault(self.segment_codec(s), []).append(
                self.segment_dir(s.segment_id, "postings")
            )
        frames = [
            spark.read.schema(SEGMENT_SCHEMA).parquet(*paths)
            .withColumn("codec", F.lit(c))
            for c, paths in sorted(by_codec.items())
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    TERM_DICT_SCHEMA = "term string, df long, cf long"
    FIELD_STATS_SCHEMA = (
        "sum_term_hits long, total_terms long, sum_terms_docs long, docs_cnt long"
    )

    def read_term_dict(self, spark: SparkSession) -> DataFrame:
        metas = self.segments()
        if not metas:
            return spark.createDataFrame([], self.TERM_DICT_SCHEMA)
        return spark.read.schema(self.TERM_DICT_SCHEMA).parquet(
            *[self.segment_dir(s.segment_id, "term_dict") for s in metas]
        )

    def read_field_stats(self, spark: SparkSession) -> DataFrame:
        metas = self.segments()
        if not metas:
            return spark.createDataFrame([], self.FIELD_STATS_SCHEMA)
        return spark.read.schema(self.FIELD_STATS_SCHEMA).parquet(
            *[self.segment_dir(s.segment_id, "field_stats") for s in metas]
        )

    def gc(self, orphan_grace_sec: float = 0.0) -> dict[str, list[str]]:
        """Physically remove data no snapshot references: segment directories
        retired by merges and tombstone files whose generation was retired by
        a full merge (the reference's deferred reclamation — merge.cpp's
        retention verdict marks, actual deletion is the app's GC pass; in
        Iceberg terms this is remove_orphan_files after expire_snapshots).

        "No snapshot" means the CURRENT manifest and every RETAINED snapshot
        file: data an old snapshot still references survives gc so ``at(id)``
        keeps working — run ``expire_snapshots`` first to release history.

        CONCURRENCY: a commit writes its data dirs BEFORE the manifest names
        them, so a gc pass racing a writer could reclaim an in-flight
        segment.  Two mitigations: the current manifest is RE-READ
        immediately before deletion (anything committed since the first read
        survives), and ``orphan_grace_sec`` skips paths modified within the
        last N seconds — Iceberg's remove_orphan_files ``older_than`` analog,
        which closes the remaining data-written-manifest-pending window for
        any in-flight commit shorter than the grace.  The default 0 is only
        safe under this store's single-maintenance-writer deployment model
        (gc from the same process/schedule that owns merges); pass a grace
        comfortably above your longest commit when writers may overlap."""
        import shutil

        live_segments: set[str] = set()
        live_deletes: set[str] = set()
        manifests = [self.read_manifest()]
        for _, path in self._snapshot_files():
            try:
                with open(path) as f:
                    manifests.append(json.load(f))
            except FileNotFoundError:
                # a concurrent retention trim removed it between listing and
                # open; its data references are a subset of newer state, so
                # skipping keeps the pass conservative, never destructive
                continue
        # re-read the CURRENT manifest last: a commit that flipped the
        # manifest after the snapshot walk above keeps its data
        manifests.append(self.read_manifest())
        for m in manifests:  # union over current state + retained history
            live_segments.update(s["segment_id"] for s in m["segments"])
            live_deletes.update(os.path.abspath(d["path"]) for d in m["deletes"])
        cutoff = time.time() - max(orphan_grace_sec, 0.0)

        def _young(path: str) -> bool:
            if orphan_grace_sec <= 0:
                return False
            try:
                return os.path.getmtime(path) >= cutoff
            except OSError:
                return True  # vanished/changing underfoot: leave it alone
        removed: dict[str, list[str]] = {"segments": [], "deletes": []}
        seg_root = os.path.join(self.base, "segments")
        if os.path.isdir(seg_root):
            for name in sorted(os.listdir(seg_root)):
                p = os.path.join(seg_root, name)
                if name not in live_segments and not _young(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed["segments"].append(name)
        del_root = os.path.join(self.base, "deletes")
        if os.path.isdir(del_root):
            for name in sorted(os.listdir(del_root)):
                p = os.path.abspath(os.path.join(del_root, name))
                if p not in live_deletes and not _young(p):
                    (shutil.rmtree if os.path.isdir(p) else os.remove)(p)
                    removed["deletes"].append(name)
        # Orphan NRT docid-map slices: a crashed append/replace attempt's
        # slice (written before commit_segment, never committed) would
        # otherwise live forever — and if the retry committed FEWER rows
        # under a different segment_id, read_docid_map (recursive union)
        # serves duplicate doc_id rows from both.  Removal rule: the slice's
        # exact segment_id is not live anywhere, AND every live segment
        # whose doc range intersects the slice's owns its OWN exactly-named
        # slice (so no live segment's translations come from this one).
        # That keeps slices of NRT segments retired by a MERGE — the merge
        # does not rewrite the map, so the merged segment's translations
        # still live only in the original slices.
        removed["docid_map_slices"] = []
        nrt_root = os.path.join(self.docid_map_dir(), "nrt")
        if os.path.isdir(nrt_root):
            slice_names = set(os.listdir(nrt_root))
            live_ranges = [
                (s["segment_id"], int(s["doc_lo"]), int(s["doc_hi"]))
                for m in manifests
                for s in m["segments"]
            ]
            live_ids = {sid for sid, _, _ in live_ranges}

            def _slice_range(name: str) -> tuple[int, int] | None:
                parts = name.rsplit("-", 2)
                try:
                    return int(parts[-2]), int(parts[-1])
                except (ValueError, IndexError):
                    return None  # unparseable: never touch

            for name in sorted(slice_names):
                p = os.path.join(nrt_root, name)
                if name in live_ids or _young(p):
                    continue
                rng = _slice_range(name)
                if rng is None:
                    continue
                lo, hi = rng
                intersecting = [
                    sid
                    for sid, slo, shi in live_ranges
                    if slo < hi and lo < shi
                ]
                if all(sid in slice_names for sid in intersecting):
                    shutil.rmtree(p, ignore_errors=True)
                    removed["docid_map_slices"].append(name)
        return removed

    def read_deletes(self, spark: SparkSession) -> DataFrame | None:
        m = self.read_manifest()
        if not m["deletes"]:
            return None
        # pinned 1-column schema doubles as projection (the files also carry
        # a gen column) and skips the schema-inference job
        return (
            spark.read.schema("doc_id long")
            .parquet(*[d["path"] for d in m["deletes"]])
            .select("doc_id")
            .distinct()
        )

    def read_deletes_with_gen(
        self, spark: SparkSession, manifest: dict[str, Any] | None = None
    ) -> DataFrame | None:
        """Tombstones with their generation — merge's delete ACCOUNTING needs
        the gen to skip tombstones a segment already applied (recorded in
        its lineage ``deletes_gens``), or a partial merge followed by a full
        merge would subtract the same doc twice.

        ``manifest``: pass an already-read manifest so the caller's gen list
        and this frame come from the SAME snapshot — a delete committed
        between two separate reads would be applied and counted but missing
        from the recorded lineage, re-subtracting those docs on the next
        merge."""
        m = manifest if manifest is not None else self.read_manifest()
        if not m["deletes"]:
            return None
        return (
            spark.read.schema("doc_id long, gen int")
            .parquet(*[d["path"] for d in m["deletes"]])
            .distinct()
        )

    def fsck(self, spark: SparkSession | None = None, deep: bool = False) -> dict[str, Any]:
        """Store integrity check (the operational tool Trinity leaves to apps:
        its segment model makes these invariants checkable but ships no
        checker).  Metadata pass (no Spark): every live segment's three data
        dirs exist and are non-empty, live doc ranges are pairwise disjoint,
        ``docs_cnt <= doc_hi - doc_lo``, generations are unique and below
        ``next_generation``, every tombstone file exists.  Deep pass
        (``deep=True``, needs ``spark``): per segment, the physical distinct
        doc count must not EXCEED the manifest ``docs_cnt`` and all block
        doc_ids fall inside ``[doc_lo, doc_hi)``.  One-sided because
        ``docs_cnt`` counts ASSIGNED doc ids while postings exist only for
        docs with >=1 token: an empty/whitespace turn (posexplode of an
        empty token array emits no rows) is a healthy doc with zero
        postings, so physical < manifest is expected on corpora with empty
        turns (ADVICE r3).  physical > manifest is real corruption
        (duplicate documents from a bad resume / double-applied batch) and
        errors; physical < manifest lands in ``warnings`` with the deficit
        (the zero-token-doc heuristic) so operators can compare it against
        their corpus's empty-turn rate.  Orthogonally, the deep pass checks
        the physical BLOCK count against the ``n_blocks`` recorded in
        lineage at write time — an exact two-sided invariant (blocks exist
        independent of token content), so lost/truncated postings
        part-files error even when the doc-count heuristic would have
        shrugged; segments written before n_blocks lineage skip it.

        Range disjointness is only asserted between NON-merged segments: a
        merge of a non-contiguous candidate set (legal — see merge.py's
        per-meta tombstone ranges) claims ``[min_lo, max_hi)``, which may
        overlap other live claims while the physical doc sets stay disjoint;
        the deep pass checks the physical invariant globally
        (``countDistinct(doc_id) <= sum(docs_cnt)`` across all live
        segments — exceeding it is exactly the duplicate-document corruption
        a bad resume or double-applied batch would cause).

        Returns ``{"ok": bool, "errors": [...], "warnings": [...],
        "segments_checked": n}``; never raises on a finding — callers alert
        on ``ok=False`` (warnings do not flip ``ok``)."""
        errors: list[str] = []
        warnings: list[str] = []
        m = self.read_manifest()
        metas = [SegmentMeta(**s) for s in m["segments"]]
        for meta in metas:
            for part in ("postings", "term_dict", "field_stats"):
                d = self.segment_dir(meta.segment_id, part)
                if not os.path.isdir(d) or not any(
                    f.endswith(".parquet") for f in os.listdir(d)
                ):
                    errors.append(f"{meta.segment_id}: missing/empty {part} dir")
            if not 0 <= meta.docs_cnt <= meta.doc_hi - meta.doc_lo:
                errors.append(
                    f"{meta.segment_id}: docs_cnt {meta.docs_cnt} outside "
                    f"[0, {meta.doc_hi - meta.doc_lo}]"
                )
            if meta.generation >= m["next_generation"]:
                errors.append(
                    f"{meta.segment_id}: generation {meta.generation} >= "
                    f"next_generation {m['next_generation']}"
                )
        gens = [meta.generation for meta in metas]
        if len(set(gens)) != len(gens):
            errors.append("duplicate segment generations")
        exact_claims = sorted(
            (s for s in metas if not s.segment_id.startswith("merged-")),
            key=lambda s: s.doc_lo,
        )
        for a, b in zip(exact_claims, exact_claims[1:]):
            if b.doc_lo < a.doc_hi:
                errors.append(
                    f"doc ranges overlap: {a.segment_id} and {b.segment_id}"
                )
        for d in m["deletes"]:
            if not os.path.exists(d["path"]):
                errors.append(f"tombstone gen {d['gen']}: missing {d['path']}")
        if deep:
            if spark is None:
                raise ValueError("deep fsck needs a SparkSession")
            from ..operators.segments import decode_segments

            if metas:
                # one positions-free decode of every live block: physical
                # distinct docs across the whole store vs Σ docs_cnt
                # (codec-tagged read so mixed-codec stores decode correctly)
                total = (
                    decode_segments(
                        self.read_blocks(spark, with_codec=True),
                        with_positions=False,
                    )
                    .select(F.countDistinct("doc_id"))
                    .first()[0]
                )
                expect = sum(meta.docs_cnt for meta in metas)
                if total > expect:
                    errors.append(
                        f"global distinct doc_ids {total} > sum(docs_cnt) "
                        f"{expect} (duplicate documents)"
                    )
                elif total < expect:
                    warnings.append(
                        f"global distinct doc_ids {total} < sum(docs_cnt) "
                        f"{expect}: {expect - total} docs have zero postings "
                        "(expected for empty/whitespace turns)"
                    )
            for meta in metas:
                from pyspark.errors import AnalysisException

                try:
                    blocks = spark.read.parquet(
                        self.segment_dir(meta.segment_id, "postings")
                    )
                    blocks.schema  # force schema inference (lazy otherwise)
                except AnalysisException:
                    # no readable parquet file at all — every part-file of
                    # this segment is lost.  With data-volume-sized output
                    # files a small segment is ONE file, so total loss is a
                    # plausible single-file accident; report it through the
                    # same exact block-count invariant instead of crashing
                    # the checker on schema inference.
                    expect_blocks = meta.lineage.get("n_blocks")
                    errors.append(
                        f"{meta.segment_id}: physical block count 0 != "
                        f"lineage n_blocks {expect_blocks} "
                        "(all postings files lost)"
                        if expect_blocks is not None
                        else f"{meta.segment_id}: postings unreadable "
                        "(no parquet files)"
                    )
                    continue
                # exact block-count vs write-time lineage: catches LOST or
                # truncated postings part-files (physical < lineage), which
                # the one-sided doc-count check above cannot — zero-token
                # docs legitimately depress the doc count but never the
                # block count.  Footer-metadata job, no decode.  Segments
                # written before n_blocks lineage existed skip the check.
                expect_blocks = meta.lineage.get("n_blocks")
                if expect_blocks is not None:
                    n_blocks = blocks.count()
                    if n_blocks != expect_blocks:
                        errors.append(
                            f"{meta.segment_id}: physical block count "
                            f"{n_blocks} != lineage n_blocks {expect_blocks} "
                            "(lost or duplicated postings files)"
                        )
                else:
                    # pre-upgrade segment: without the write-time block
                    # count, lost postings files are INDISTINGUISHABLE from
                    # zero-token docs here — surface that blind spot rather
                    # than silently reporting ok (a merge/compaction rewrite
                    # records n_blocks and closes it)
                    warnings.append(
                        f"{meta.segment_id}: no n_blocks in lineage "
                        "(written pre-upgrade) — file-loss check skipped; "
                        "re-encode via merge/compaction to enable it"
                    )
                docs = (
                    decode_segments(
                        blocks,
                        with_positions=False,
                        codec=self.segment_codec(meta),
                    )
                    .select(F.countDistinct("doc_id"))
                    .first()[0]
                )
                if docs > meta.docs_cnt:
                    errors.append(
                        f"{meta.segment_id}: physical docs {docs} > "
                        f"manifest docs_cnt {meta.docs_cnt} (duplicates)"
                    )
                elif docs < meta.docs_cnt:
                    warnings.append(
                        f"{meta.segment_id}: physical docs {docs} < "
                        f"manifest docs_cnt {meta.docs_cnt} "
                        f"({meta.docs_cnt - docs} zero-posting docs)"
                    )
                rng = blocks.select(
                    F.min("min_doc_id").alias("lo"), F.max("max_doc_id").alias("hi")
                ).first()
                if rng["lo"] is not None and not (
                    meta.doc_lo <= rng["lo"] and rng["hi"] < meta.doc_hi
                ):
                    errors.append(
                        f"{meta.segment_id}: doc_ids [{rng['lo']}, {rng['hi']}] "
                        f"outside [{meta.doc_lo}, {meta.doc_hi})"
                    )
        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "segments_checked": len(metas),
        }



class _PinnedSnapshotStore(SegmentStore):
    """Read-only ``SegmentStore`` view pinned to one retained snapshot
    (``SegmentStore.at``).  ``read_manifest`` returns the pinned state (a
    fresh copy each call — callers may mutate their copy), so every read
    path (``segments`` / ``read_blocks`` / ``read_term_dict`` /
    ``read_field_stats`` / ``read_deletes`` / ``SegmentIndex`` open) answers
    as of that commit.  Any manifest write raises: time travel is a view,
    not a branch — to fork history, build into a fresh store."""

    def __init__(self, base: str, manifest: dict[str, Any]):
        self.base = base  # no mkdir: a pinned view never creates the store
        self._pinned_blob = json.dumps(manifest)

    def read_manifest(self) -> dict[str, Any]:
        return json.loads(self._pinned_blob)

    def _write_manifest(self, m: dict[str, Any]) -> None:
        raise RuntimeError(
            "store view is pinned to snapshot "
            f"{json.loads(self._pinned_blob).get('snapshot_id')}; writes must "
            "go through the live SegmentStore"
        )

    # gc()/expire_snapshots() walk read_manifest() to decide which files are
    # live; on a pinned (stale) view they would treat the snapshot as current
    # and could delete segments only the LIVE manifest references — a
    # destructive write in read-only clothing.  Raise, same as
    # _write_manifest.
    def gc(self) -> list:
        raise RuntimeError(
            "gc() on a pinned snapshot view would reclaim against a stale "
            "manifest; run it on the live SegmentStore"
        )

    def expire_snapshots(self, keep_last: int = 1) -> list:
        raise RuntimeError(
            "expire_snapshots() on a pinned snapshot view would prune "
            "history against a stale manifest; run it on the live "
            "SegmentStore"
        )

    # Data writers must raise BEFORE touching disk: commit_segment and
    # friends write segment/docid-map/tombstone files into the LIVE store's
    # directories first and only then hit _write_manifest's raise — by which
    # point committed data the live manifest references has been overwritten.
    # Fail at the entry point instead.
    def _raise_pinned(self, op: str):
        raise RuntimeError(
            f"{op} on a pinned snapshot view would write into the live "
            "store's data directories; writes must go through the live "
            "SegmentStore"
        )

    def _write_segment_data(self, *a, **kw):
        self._raise_pinned("segment commit")

    def write_docid_map(self, *a, **kw):
        self._raise_pinned("write_docid_map")

    def write_docid_map_slice(self, *a, **kw):
        self._raise_pinned("write_docid_map_slice")

    def write_conv_bases(self, *a, **kw):
        self._raise_pinned("write_conv_bases")

    def add_deletes(self, *a, **kw):
        self._raise_pinned("add_deletes")  # would clobber a live gen file
