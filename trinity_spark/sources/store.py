"""Segment store: generational segments + atomic manifest + deletes.

Reference analog — Trinity's on-disk index model:
- a *segment* is a directory of postings + term dictionary, named by
  generation (``indexer.cpp:241-300``), with per-source
  field statistics kept beside it (``index_source.h:44-53``);
- an *index sources collection* is the ordered-by-generation set of segments,
  where newer sources' masked-document sets veto older docs
  (``index_source.h:191-238``);
- segment persist is atomic (tmp write + rename, ``indexer.cpp:286-300``).

Our layout (plain parquet + a JSON manifest; the design is Iceberg-shaped —
manifest == snapshot metadata — because no Iceberg runtime jar ships in this
sandbox; on a cluster each ``commit_segment`` becomes one Iceberg append
snapshot — it is one manifest write here too):

    <base>/
      manifest.json                 # atomic: tmp + os.replace
      conv_bases/                   # dense-input builds: conv_id ->
                                    #   (n_turns, base); doc_id = base +
                                    #   turn_idx, no corpus copy
      docid_map/                    # batch map (non-dense-input builds):
                                    #   the turns + doc_id, laid out by doc
                                    #   range — the build's frozen copy
        nrt/<segment_id>/           # NRT slices: keys only (conv_id,
                                    #   turn_idx, doc_id) — no text
      segments/<segment_id>/
        postings/   native (the default codec): one row per (term, doc) —
                      (term, doc_id, tf, positions, payloads), sorted by
                      (term, doc_id), zstd / parquet v2 / 1 MiB row groups;
                    varbyte, pfor: the encoded block rows.
                    Written sorted by term -> parquet min/max column stats
                    give term-seek, the terms.idx analog
        block_meta/ native only: per-block metadata (term, chunk, block_id,
                    doc_count, min/max_doc_id, max_tf, sum_tf) derived here
                    from the rows, plus the term's (df, cf) on its first
                    block row (NULL elsewhere): the dictionary
        term_dict/  varbyte, pfor only: (term, df, cf), derived here from
                    the block metadata
      deletes/<gen>.parquet         # masked doc_ids (docidupdates.cpp analog)

The manifest records, per segment: generation, doc range, row counts,
METRICS (docs, wall seconds, docs/sec) and LINEAGE (input fingerprint, docid
range, engine version, wire layout, written block count — postings rows
under native — and the field statistics ``{sum_term_hits, total_terms,
sum_terms_docs}``) — the north
rule's per-partition checkpoint + lineage requirement.  The store owns what
a segment records: ``commit_segment`` takes only blocks and meta, the
dictionary and statistics come off the commit's own writes, and the one
manifest write carries the metrics.  ``build_index`` resumes by
skipping segment ids already committed in the manifest.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any, Iterable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import __version__
from ..operators.build import term_dict_from_blocks
from ..operators.segments import (
    BLOCK_META_SCHEMA,
    CHUNK_BITS,
    CODEC_NATIVE,
    CODEC_VARBYTE,
    CODECS,
    DEFAULT_CODEC,
    NATIVE_SCHEMA,
    NATIVE_WRITE_OPTIONS,
    SEGMENT_SCHEMA,
    _check_codec,
    decode_segments,
    native_block_meta,
    native_stage,
    release_stage,
)

MANIFEST = "manifest.json"
# what an NRT docid-map slice holds
_SLICE_COLS = ("conv_id", "turn_idx", "doc_id")

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
# magnitude matters (file-count decisions).
POSTINGS_EST_BYTES_PER_DOC = 64.0
# Parquet row-group size for block-codec postings files (native rows carry
# their own, ``NATIVE_WRITE_OPTIONS``).  Row groups are BOTH the term-
# pruning granularity (min/max stats on the sorted term column) AND the
# scan-parallelism unit (a row group is read by exactly one task), so with
# few large files the default 128 MB row group would serialize multi-term
# decodes into 1-2 tasks.  ~8 MiB keeps the old 32-file layout's skip
# granularity and parallel decode units inside the new large files.
POSTINGS_ROWGROUP_BYTES = 8 << 20
# A segment's per-term tables (term_dict, native block_meta) take one file
# per this many postings files' worth of estimated data.
DICT_FILE_RATIO = 32


class Layout(NamedTuple):
    """A store's wire layout: the posting-stream codec and the chunk width
    (``chunk = doc_id >> chunk_bits``).  One per store — Trinity records the
    codec that wrote each segment (codecs.h:93-95) and raw-copies bytes
    only between same-codec inputs (merge.cpp:256-287); fixing the layout
    at the first commit makes every merge a same-layout merge.  A manifest
    or lineage without the keys predates them: ``LEGACY_LAYOUT``."""

    codec: str
    chunk_bits: int


# what a brand-new store writes
DEFAULT_LAYOUT = Layout(DEFAULT_CODEC, CHUNK_BITS)
# what stores and segments recorded without the layout keys were written
# in: the keys arrived while varbyte was the only codec, and the default
# codec changing must not re-read them as anything else
LEGACY_LAYOUT = Layout(CODEC_VARBYTE, CHUNK_BITS)


def _layout(d: dict[str, Any], default: Layout = LEGACY_LAYOUT) -> Layout:
    """The layout a manifest or a segment lineage names (same keys)."""
    return Layout(
        d.get("codec", default.codec),
        int(d.get("chunk_bits", default.chunk_bits)),
    )


def _layout_fixed(m: dict[str, Any]) -> bool:
    """Whether a first commit has fixed the manifest's layout.  A manifest
    with segments but no layout keys predates them: ``LEGACY_LAYOUT``."""
    return "codec" in m or "chunk_bits" in m or bool(m["segments"])


def _store_layout(m: dict[str, Any]) -> Layout:
    """The layout a manifest fixes, or the default for a store whose first
    commit has not happened yet."""
    return _layout(m) if _layout_fixed(m) else DEFAULT_LAYOUT


def _layout_errors(m: dict[str, Any]) -> list[str]:
    """Layout findings: an unknown store codec, and every live segment
    whose lineage layout differs from the store's (fsck reports these;
    ``SegmentStore.layout`` raises on them)."""
    lay = _store_layout(m)
    errors = []
    if lay.codec not in CODECS:
        errors.append(
            f"store codec {lay.codec!r} is unknown; this engine knows "
            f"{list(CODECS)}"
        )
    for s in m["segments"]:
        got = _layout(s["lineage"])
        if got != lay:
            errors.append(
                f"{s['segment_id']}: lineage {got} differs from the "
                f"store's {lay}"
            )
    return errors


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
        every commit (None = retain all, the default).  Every commit —
        a build segment, an NRT append or replace, a merge, a delete — is
        one manifest write and so one snapshot, so the window holds the
        last ``keep_last`` commits.  A streaming ingest commits once per
        micro-batch — without a cap, a long-running NRT stream accretes one
        snapshot file per epoch forever.  Time travel stays available
        within the window; ``gc`` reclaims data the trimmed snapshots
        pinned."""
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

    # --- wire layout ---

    def layout(self, manifest: dict[str, Any] | None = None) -> Layout:
        """The store's wire layout.  Raises when the manifest names an
        unknown codec or a live segment's lineage disagrees with it: such a
        store cannot be decoded with one codec and width, and reading it
        anyway would serve garbage or drop postings.  ``manifest``: an
        already-read manifest, so a caller's segment list and layout come
        from the same snapshot."""
        m = manifest if manifest is not None else self.read_manifest()
        errors = _layout_errors(m)
        if errors:
            raise ValueError("store wire layout: " + "; ".join(errors))
        return _store_layout(m)

    def resolve_layout(
        self, codec: str | None = None, chunk_bits: int | None = None
    ) -> Layout:
        """The layout a new build writes: the store's once its first commit
        fixed it, else the caller's values (``None`` = default).  An
        explicit value that conflicts with the store raises here, before
        the build reads any input.  Changing the layout means a new store."""
        m = self.read_manifest()
        have = self.layout(m)
        want = Layout(
            have.codec if codec is None else codec,
            have.chunk_bits if chunk_bits is None else int(chunk_bits),
        )
        if _layout_fixed(m) and want != have:
            raise ValueError(
                f"store layout is fixed to {have} by its first commit; got "
                f"{want} — build into a fresh store to change it"
            )
        _check_codec(want.codec)
        return want

    def _stamp_layout(self, m: dict[str, Any], meta: SegmentMeta) -> None:
        """Called under the manifest lock by ``commit_segment``.  The first
        commit fixes the store layout from ``meta``'s lineage (defaults
        where absent); every commit stamps the layout into ``meta``'s
        lineage and rejects a meta that names a different one, so the
        manifest is left untouched."""
        lin = meta.lineage
        lay = _layout(m) if _layout_fixed(m) else _layout(lin, DEFAULT_LAYOUT)
        _check_codec(lay.codec)
        got = _layout(lin, default=lay)
        if got != lay:
            raise ValueError(
                f"segment {meta.segment_id!r} was written as {got} but the "
                f"store's layout is {lay}, fixed by its first commit"
            )
        lin.update(lay._asdict())
        m.update(lay._asdict())

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
        self.refuse_map_over_nrt_slices()
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

    def refuse_map_over_nrt_slices(self) -> None:
        """A batch map or conv bases written over committed NRT slices
        breaks the doc-id space: the batch map's overwrite of the
        docid_map ROOT would destroy the slices' translations, and either
        map would number the batch from 0 again, over ids the slices
        already hold.  Build phase 0 and ``write_docid_map`` call this
        before they write anything."""
        nrt_dir = os.path.join(self.docid_map_dir(), "nrt")
        if os.path.isdir(nrt_dir) and os.listdir(nrt_dir):
            raise RuntimeError(
                "docid_map holds NRT micro-segment slices; a build's docid "
                "map would collide with their doc_id translations — merge "
                "the NRT segments first (operators.merge) or build into a "
                "fresh store"
            )

    def write_conv_bases(
        self,
        bases: DataFrame,
        n_docs: int,
        n_convs: int,
        input_desc: str,
    ) -> None:
        """The docid_map of DENSE input: persist only the per-conversation
        base table (conv_id, n_turns, base) — ~10-100x smaller than the
        corpus — plus the derivation rule ``doc_id = base + turn_idx``
        recorded in the manifest.  The conv table alone gives every key:
        ``(conv_id, t)`` for ``0 <= t < n_turns`` maps to ``base + t``, so
        no copy of the corpus is written and none is ever read back.

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
        """``"virtual"`` (conv bases) or ``"batch"`` (the batch map, and
        stores with no batch part yet)."""
        return self.read_manifest().get("docid_map", {}).get("mode", "batch")

    def read_batch_map(self, spark: SparkSession) -> DataFrame | None:
        """The batch map's rows (the turns + doc_id), or None when the store
        has none.  Its files sit directly in docid_map/ and are read apart
        from the slices, whose key-only footers must not drive its schema."""
        d = self.docid_map_dir()
        files = sorted(
            os.path.join(d, f)
            for f in (os.listdir(d) if os.path.isdir(d) else ())
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        return spark.read.parquet(*files) if files else None

    def read_docid_map(self, spark: SparkSession) -> DataFrame:
        """The doc_id <-> key translation table: exactly ``(conv_id,
        turn_idx, doc_id)``, one row per assigned doc id.  The batch part
        comes from the conv bases (each conv's ``n_turns`` keys from
        ``base``) or from the batch map's keys; the NRT slices add theirs.
        The index holds ids, the application owns the text
        (``indexer.h:181-206``): the input is never read back."""
        if self.docid_map_mode() == "virtual":
            bases = self.read_conv_bases(spark)
            t = F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_turns") - 1))
            batch = bases.select("conv_id", t.alias("t"), "base").select(
                "conv_id",
                F.col("t").alias("turn_idx"),
                (F.col("base") + F.col("t")).alias("doc_id"),
            )
        else:
            batch = self.read_batch_map(spark)
            if batch is not None:
                batch = batch.select(*_SLICE_COLS)
        slices = self._read_nrt_slices(spark)
        if batch is None:
            if slices is None:
                # nothing written yet: the read raises the usual error
                return spark.read.parquet(self.docid_map_dir())
            return slices
        return batch if slices is None else batch.unionByName(slices)

    def _read_nrt_slices(self, spark: SparkSession) -> DataFrame | None:
        """Every NRT slice's keys, or None when there are none."""
        nrt_root = os.path.join(self.docid_map_dir(), "nrt")
        if not (os.path.isdir(nrt_root) and os.listdir(nrt_root)):
            return None
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(nrt_root)
            .select(*_SLICE_COLS)
        )

    def write_docid_map_slice(self, turns_with_ids: DataFrame, segment_id: str) -> None:
        """NRT micro-batch slice of the docid_map: the keys ``(conv_id,
        turn_idx, doc_id)`` of the batch, whatever else the frame carries —
        the index holds ids, the application owns the text
        (``indexer.h:181-206``).  It lands at a DETERMINISTIC per-segment
        path with overwrite semantics: a crashed batch replayed by the
        stream checkpoint rewrites the same files instead of appending
        duplicate doc_id rows (exactly-once for the map, not just the
        segment)."""
        turns_with_ids.select(*_SLICE_COLS).write.mode("overwrite").parquet(
            os.path.join(self.docid_map_dir(), "nrt", segment_id)
        )

    def docid_map_count(self, spark: SparkSession) -> int:
        """n_docs from the manifest when recorded; else one count job."""
        m = self.read_manifest()
        if "docid_map" in m and "n_docs" in m["docid_map"]:
            return int(m["docid_map"]["n_docs"])
        return self.read_docid_map(spark).count()

    def _write_segment_data(
        self, blocks: DataFrame, segment_id: str, docs_hint: int, layout: Layout
    ) -> tuple[dict[str, Any], dict[str, Any]]:
        """Write a segment's two parts; returns what the segment records in
        lineage — the written block count and the field statistics
        (``index_source.h:44-53``), all observed on the two writes
        themselves — and in metrics (a merge's block-reuse counts).

        Block codecs: ``postings`` (the block rows) and ``term_dict`` (off
        the block metadata).  ``native``: ``postings`` (the rows, sorted by
        (term, doc_id), written with ``NATIVE_WRITE_OPTIONS``) and
        ``block_meta`` (``native_block_meta`` of the same rows), whose
        first-block rows are the dictionary (``read_term_dict``).  Under
        native, ``n_blocks`` counts postings ROWS — one per (term, doc) —
        and fsck recounts the same (``block_meta`` must sum its doc_count
        to it).

        Both writes read ``blocks``, so this commit materializes it once,
        whoever the caller is: native rows are staged (``native_stage``:
        one shuffle and sort, checkpointed); block rows are persisted and
        counted in one job before the writes.  A block frame may carry a
        boolean ``_reused`` tag (a merge's byte-identical blocks): that
        count job also counts the tags, returned as ``blocks_reused`` /
        ``blocks_reencoded``, and the rows are written without it."""
        # sorted by term: parquet row-group min/max on `term` = dictionary seek.
        # Partition count is derived from estimated postings BYTES (see
        # POSTINGS_TARGET_FILE_BYTES), capped at core count: tiny segments
        # (including 0-doc ones, e.g. a merge of fully tombstoned inputs)
        # write 1 file instead of one-per-core, big segments keep up to one
        # writer per core.  The small per-term tables (term_dict or
        # block_meta) take one file per DICT_FILE_RATIO postings files' worth
        # of data: one file at the bench point (the first stats_for collect
        # reads one footer), more as the segment grows, so the dictionary
        # aggregation is not one task at the 10^10-doc design point.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target
        from pyspark.sql import Observation

        import math

        native = layout.codec == CODEC_NATIVE
        if native == ("doc_deltas" in blocks.columns):
            raise ValueError(
                f"a {layout.codec!r} segment commits "
                + ("postings rows" if native else "encoded block rows")
                + f"; got columns {blocks.columns}"
            )
        spark = blocks.sparkSession
        par = max(spark.sparkContext.defaultParallelism, 2)
        est = docs_hint * POSTINGS_EST_BYTES_PER_DOC
        n_parts = min(max(math.ceil(est / POSTINGS_TARGET_FILE_BYTES), 1), par)
        n_small = min(
            max(math.ceil(est / (POSTINGS_TARGET_FILE_BYTES * DICT_FILE_RATIO)), 1),
            par,
        )

        blocks_obs = Observation()
        terms_obs = Observation()
        metrics: dict[str, Any] = {}
        # native: ONE shuffle and sort of the rows, checkpointed, feeds both
        # writes — the rows stream out of it as they are, and the block
        # metadata is derived in its order without sorting them again.
        # Block rows: cached (filled by the count job below)
        staged = (
            native_stage(blocks, layout.chunk_bits, n_parts)
            if native else blocks.persist()
        )

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
                blocks_obs,
                F.count(F.lit(1)).alias("n_blocks"),
                F.coalesce(F.sum("sum_tf"), F.lit(0))
                .cast("long").alias("sum_term_hits"),
                F.coalesce(F.sum("doc_count"), F.lit(0))
                .cast("long").alias("sum_terms_docs"),
            ).write.mode("overwrite").option(
                "parquet.block.size", str(POSTINGS_ROWGROUP_BYTES)
            ).parquet(
                self.segment_dir(segment_id, "postings")
            )

        def _write_dict() -> None:
            # one row per distinct term, in n_small files
            term_dict_from_blocks(
                blocks.select("term", "doc_count", "sum_tf")
                .repartition(n_small, "term")
            ).observe(
                terms_obs, F.count(F.lit(1)).alias("total_terms")
            ).write.mode("overwrite").parquet(
                self.segment_dir(segment_id, "term_dict")
            )

        def _write_rows() -> None:
            staged.observe(
                blocks_obs,
                F.count(F.lit(1)).alias("n_blocks"),
                F.coalesce(F.sum("tf"), F.lit(0))
                .cast("long").alias("sum_term_hits"),
            ).write.mode("overwrite").options(**NATIVE_WRITE_OPTIONS).parquet(
                self.segment_dir(segment_id, "postings")
            )

        def _write_meta() -> None:
            native_block_meta(staged, layout.chunk_bits, n_small).observe(
                terms_obs, F.count("df").alias("total_terms")
            ).write.mode("overwrite").options(
                **NATIVE_WRITE_OPTIONS
            ).parquet(self.segment_dir(segment_id, "block_meta"))

        # both outputs derive from the SAME frame and are mutually
        # independent: submit them as concurrent driver actions so the
        # commit wall is the larger write, not the sum of two job
        # latencies.  Each target carries the caller's local properties
        # (job group, scheduler pool): pinned pool threads would otherwise
        # run the writes outside them
        writes = (_write_rows, _write_meta) if native else (_write_postings, _write_dict)
        try:
            if not native:
                tagged = "_reused" in blocks.columns
                row = staged.agg(
                    F.count(F.lit(1)).alias("n"),
                    *([F.sum(F.col("_reused").cast("long")).alias("reused")]
                      if tagged else []),
                ).first()
                blocks = staged
                if tagged:
                    reused = int(row["reused"] or 0)
                    metrics = {
                        "blocks_reused": reused,
                        "blocks_reencoded": int(row["n"]) - reused,
                    }
                    blocks = staged.drop("_reused")
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(inheritable_thread_target(spark)(f))
                    for f in writes
                ]
                for f in futs:
                    f.result()
        finally:
            release_stage(staged) if native else staged.unpersist()
        # the exact written-block count lets fsck detect LOST postings files
        # (physical < lineage) as an ERROR, which the doc count cannot
        # (zero-token docs legitimately depress it).  Every value is counted
        # by an Observation ON a write job (rows that flowed into the
        # files) — a footer re-read or a stats table would be one extra
        # Spark job or file per segment, pure fixed cost at the
        # 1000-segment design point.
        got = blocks_obs.get
        return {
            "n_blocks": int(got["n_blocks"]),
            "field_stats": {
                "sum_term_hits": int(got["sum_term_hits"]),
                "total_terms": int(terms_obs.get["total_terms"]),
                # a native row is one (term, doc) pair
                "sum_terms_docs": int(
                    got["n_blocks"] if native else got["sum_terms_docs"]
                ),
            },
        }, metrics

    def commit_segment(
        self,
        blocks: DataFrame,
        meta: SegmentMeta,
        *,
        started: float | None = None,
        deletes: DataFrame | None = None,
        retire_ids: Iterable[str] = (),
        retire_delete_gens: Iterable[int] = (),
    ) -> None:
        """The one segment commit: write the segment data, then name it in
        ONE atomic manifest write — Trinity's tmp-then-rename persist
        (indexer.cpp:286-300).  Data writes are idempotent (overwrite), so a
        crashed attempt stays invisible until the manifest names it.

        The same write carries the rest of the edit:

        - ``deletes``: a tombstone set at the generation right after the
          segment's, so it vetoes the older versions the segment replaces
          (the document-replace primitive, indexer.h:181-206 and
          index_source.h:191-238) — no snapshot shows the new version with
          the old one unmasked, or the reverse;
        - ``retire_ids`` / ``retire_delete_gens``: a merge's inputs and its
          fully-applied tombstone generations leave as the merged segment
          arrives (the merge.cpp:418-447 retention verdict) — no snapshot
          serves merged docs twice, and a concurrent ``add_deletes`` cannot
          be lost between a read and a second write;
        - ``meta.lineage`` gains the written block count, the field
          statistics, the wire layout and the engine version
          (``deletes_gens`` defaults to none applied); ``meta.metrics``
          gains ``docs``, ``wall_sec`` from ``started`` (a
          ``time.monotonic()`` reading, default this call's start) to the
          manifest write, ``docs_per_sec``, ``tombstone_gen`` with
          ``deletes``, and the block-reuse counts of a ``_reused``-tagged
          block frame (``_write_segment_data``).  Metrics the caller set
          are kept.

        ``blocks`` is the segment's frame as computed — native rows or
        encoded block rows, unpersisted: the commit materializes it once
        for its two writes.

        A commit the store rejects — a stale NRT doc-id allocation or a
        conflicting wire layout — raises ``ValueError`` with the manifest
        untouched and removes the attempt's data: until the next ``gc()``
        its docid-map slice would serve duplicate translations for a range
        another writer committed, and a later ``replace_documents`` could
        tombstone the winner's document through the loser's stale rows."""
        started = time.monotonic() if started is None else started
        # the layout this segment is written in: the store's once fixed,
        # else the meta's (the stamp below re-checks under the lock)
        m = self.read_manifest()
        lay = _layout(meta.lineage, default=_store_layout(m))
        lineage, metrics = self._write_segment_data(
            blocks, meta.segment_id, meta.docs_cnt, lay
        )
        meta.lineage.update(lineage)
        meta.metrics.update(metrics)
        meta.lineage.setdefault("deletes_gens", [])
        meta.lineage["engine_version"] = __version__
        retire = {meta.segment_id, *retire_ids}
        gens = set(retire_delete_gens)
        with self._manifest_lock():
            m = self.read_manifest()
            try:
                self._check_nrt_allocation(m, meta)
                self._stamp_layout(m, meta)
            except ValueError:
                if all(s["segment_id"] != meta.segment_id for s in m["segments"]):
                    self._discard_uncommitted(meta.segment_id)
                raise
            meta.generation = m["next_generation"]
            m["next_generation"] += 1
            m["segments"] = [
                s for s in m["segments"] if s["segment_id"] not in retire
            ]
            m["segments"].append(meta.__dict__)
            m["deletes"] = [d for d in m["deletes"] if d["gen"] not in gens]
            if deletes is not None:
                del_gen = m["next_generation"]  # newer than the segment: vetoes
                m["next_generation"] += 1
                path = os.path.join(self.base, "deletes", f"{del_gen}.parquet")
                deletes.select(F.col("doc_id").cast("long")).withColumn(
                    "gen", F.lit(del_gen)
                ).write.mode("overwrite").parquet(path)
                m["deletes"].append({"gen": del_gen, "path": path})
                meta.metrics["tombstone_gen"] = del_gen
            wall = time.monotonic() - started
            meta.metrics.update(
                docs=meta.docs_cnt,
                wall_sec=round(wall, 3),
                docs_per_sec=round(meta.docs_cnt / wall, 1) if wall else None,
            )
            self._write_manifest(m)

    def _check_nrt_allocation(self, m: dict[str, Any], meta: SegmentMeta) -> None:
        """Optimistic-concurrency check for NRT appends: doc-id allocation
        reads the high-water mark without a lock, so a concurrent writer may
        have committed the same range first.  The writers' data paths are
        already disjoint (marker-suffixed segment ids, streaming/nrt.py), so
        the loser raises here with nothing clobbered — ``commit_segment``
        removes its data and the batch can re-run against a fresh range.
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
                "batch's allocation; its data files are discarded — re-run "
                "the batch to allocate a fresh range"
            )

    def _discard_uncommitted(self, segment_id: str) -> None:
        """Remove a rejected commit attempt's segment dirs and docid-map
        slice (the caller checked that no manifest entry names them)."""
        import shutil

        for p in (
            os.path.join(self.base, "segments", segment_id),
            os.path.join(self.docid_map_dir(), "nrt", segment_id),
        ):
            shutil.rmtree(p, ignore_errors=True)

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

    def _segment_paths(self, segment_ids: list[str] | None, part: str) -> list[str]:
        metas = self.segments()
        if segment_ids is not None:
            metas = [s for s in metas if s.segment_id in segment_ids]
        return [self.segment_dir(s.segment_id, part) for s in metas]

    def _read_part(
        self, spark: SparkSession, segment_ids: list[str] | None, part: str,
        schema: str,
    ) -> DataFrame:
        """Union of the selected segments' ``part`` files.

        All store reads pin the KNOWN write-time schema instead of letting
        Spark infer it — schema inference runs a footer-reading job per
        ``read.parquet`` call, which made every SegmentIndex open cost ~3
        driver jobs; a 100-store collection open was ~300 tiny serial jobs
        before the first real query job.  Pinned, opens are job-free."""
        paths = self._segment_paths(segment_ids, part)
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def read_blocks(
        self,
        spark: SparkSession,
        segment_ids: list[str] | None = None,
    ) -> DataFrame:
        """The selected segments' block metadata rows: the block rows
        themselves under a block codec, the ``block_meta`` part under
        native.  Either carries (term, chunk, block_id, doc_count,
        min_doc_id, max_doc_id, max_tf, sum_tf) for the pruned routes."""
        if self.layout().codec == CODEC_NATIVE:
            return self._read_part(spark, segment_ids, "block_meta", BLOCK_META_SCHEMA)
        return self._read_part(spark, segment_ids, "postings", SEGMENT_SCHEMA)

    def read_postings(
        self,
        spark: SparkSession,
        segment_ids: list[str] | None = None,
    ) -> DataFrame:
        """The selected segments' stored postings part, the frame
        ``decode_segments`` reads: native rows, or the encoded block rows
        (the same frame as ``read_blocks``) under a block codec."""
        if self.layout().codec == CODEC_NATIVE:
            return self._read_part(spark, segment_ids, "postings", NATIVE_SCHEMA)
        return self.read_blocks(spark, segment_ids)

    TERM_DICT_SCHEMA = "term string, df long, cf long"

    def read_term_dict(
        self, spark: SparkSession, blocks: DataFrame | None = None
    ) -> DataFrame:
        """Every live segment's (term, df, cf) rows, one per term per
        segment; readers sum them per term.  Native segments keep no
        dictionary part: each term's first ``block_meta`` row carries its
        df / cf and the other rows NULL, and the ``df IS NOT NULL`` filter
        pushes down to the Parquet scan, whose row-group null counts skip
        the groups holding only later blocks — a lookup reads about one
        row group per term whatever its df (``blocks``: an already-opened
        ``read_blocks`` frame).  The dictionary stays a plain scan, as a
        block-codec store's is."""
        if self.layout().codec == CODEC_NATIVE:
            blocks = self.read_blocks(spark) if blocks is None else blocks
            return blocks.where(F.col("df").isNotNull()).select("term", "df", "cf")
        return self._read_part(spark, None, "term_dict", self.TERM_DICT_SCHEMA)

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
                # seg-<lo>-<hi>[-<suffix>]: NRT ids end in a marker suffix
                # (streaming/nrt.py nrt_segment_id) that is not part of the
                # range, even when it is all digits
                parts = name.split("-")
                if parts[0] != "seg" or len(parts) not in (3, 4):
                    return None  # unparseable: never touch
                try:
                    return int(parts[1]), int(parts[2])
                except ValueError:
                    return None

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
        checker).  Metadata pass (no Spark): every live segment's two data
        dirs exist and are non-empty, live doc ranges are pairwise disjoint,
        ``docs_cnt <= doc_hi - doc_lo``, generations are unique and below
        ``next_generation``, every tombstone file exists, and the store
        has one known wire layout (every live segment's lineage codec and
        chunk width equal the manifest's).  Deep pass
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
        shrugged; segments written before n_blocks lineage skip it.  Under
        the native codec ``n_blocks`` counts postings rows, so the deep pass
        recounts rows, and the ``block_meta`` part must sum its
        ``doc_count`` to the same figure (a lost metadata file errors too).

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
        native = _store_layout(m).codec == CODEC_NATIVE
        parts = ("postings", "block_meta") if native else ("postings", "term_dict")
        for meta in metas:
            for part in parts:
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
        layout_errors = _layout_errors(m)
        errors.extend(layout_errors)
        if deep:
            if spark is None:
                raise ValueError("deep fsck needs a SparkSession")
            # a store without one known layout cannot be decoded: its
            # finding is already an error, so the decoding checks are
            # skipped rather than raising or counting garbage
            codec = None if layout_errors else self.layout(m).codec
            if codec is None:
                warnings.append(
                    "deep doc-count checks skipped: inconsistent wire layout"
                )
            if metas and codec is not None:
                # one positions-free decode of every live block: physical
                # distinct docs across the whole store vs Σ docs_cnt
                total = (
                    decode_segments(
                        self.read_postings(spark),
                        with_positions=False,
                        codec=codec,
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
            from pyspark.errors import AnalysisException

            def _read(meta: SegmentMeta, part: str) -> DataFrame | None:
                try:
                    df = spark.read.parquet(self.segment_dir(meta.segment_id, part))
                    df.schema  # force schema inference (lazy otherwise)
                    return df
                except AnalysisException:
                    return None

            for meta in metas:
                expect_blocks = meta.lineage.get("n_blocks")
                blocks = _read(meta, "postings")
                if blocks is None:
                    # no readable parquet file at all — every part-file of
                    # this segment is lost.  With data-volume-sized output
                    # files a small segment is ONE file, so total loss is a
                    # plausible single-file accident; report it through the
                    # same exact block-count invariant instead of crashing
                    # the checker on schema inference.
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
                if expect_blocks is not None:
                    n_blocks = blocks.count()
                    if n_blocks != expect_blocks:
                        errors.append(
                            f"{meta.segment_id}: physical block count "
                            f"{n_blocks} != lineage n_blocks {expect_blocks} "
                            "(lost or duplicated postings files)"
                        )
                    if native:
                        bm = _read(meta, "block_meta")
                        covered = (
                            0 if bm is None
                            else bm.select(F.sum("doc_count")).first()[0] or 0
                        )
                        if covered != expect_blocks:
                            errors.append(
                                f"{meta.segment_id}: block_meta doc_count sum "
                                f"{covered} != lineage n_blocks {expect_blocks} "
                                "(lost or duplicated block_meta files)"
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
                if codec is not None:
                    docs = (
                        decode_segments(blocks, with_positions=False, codec=codec)
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
                lo_col, hi_col = (
                    ("doc_id", "doc_id") if "doc_id" in blocks.columns
                    else ("min_doc_id", "max_doc_id")
                )
                rng = blocks.select(
                    F.min(lo_col).alias("lo"), F.max(hi_col).alias("hi")
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
    (``SegmentStore.at``) or to the manifest a ``SegmentIndex`` read at
    open.  ``read_manifest`` returns the pinned state (a fresh copy each
    call — callers may mutate their copy), so every read path
    (``segments`` / ``read_blocks`` / ``read_term_dict`` / ``read_deletes``
    / ``layout``) answers as of that one manifest.  Any manifest write
    raises: time travel is a view, not a branch — to fork history, build
    into a fresh store."""

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

    # Data writers must raise BEFORE touching disk: commit_segment and the
    # docid-map writers put segment/docid-map/tombstone files into the LIVE
    # store's directories first and only then hit _write_manifest's raise — by which
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
