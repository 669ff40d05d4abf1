"""End-to-end index build: resumable, segment-granular, metrics-emitting.

Pipeline (SURVEY.md §3.3 — the Spark re-expression of
``SegmentIndexSession::commit``, ``/root/reference/indexer.cpp:311-564``):

    transcripts
      -> docid_map  (phase 0, written once — the two-ID-space translation
                     table, index_source.h:100-114; dense, stable
                     (conv_id, turn_idx) order: the conv bases for dense
                     input, the batch map otherwise)
      -> per docid-range SEGMENT:
           fused tokenize -> postings (-> blocks, under a block codec) in
           ONE mapInArrow pass (fastbuild.blocks_from_turns, zero data
           shuffles)
           -> commit_segment (the store writes the term-sorted postings and
              their block metadata or dictionary, and records field stats
              and metrics in ONE atomic manifest write; the only data
              shuffle is the term-sorted postings write for
              dictionary-seek locality)

Resumability (north rule): each segment is an idempotent unit keyed by its
docid range; a restarted build skips manifest-committed segments and rewrites
any half-written one.  Per-segment METRICS (docs, wall seconds, docs/sec)
and LINEAGE (input descriptor, docid range, engine version) land in the
manifest — the reference's per-commit phase timings (indexer.cpp:303-309)
made machine-readable.

Segment sizing: ``rows_per_segment`` bounds a segment's doc count.  At 10^12
turns you'd use ~10^9-row segments (=> ~1000 independent resume units); the
(term, chunk) encode groups inside a segment are the skew-salting unit.
"""

from __future__ import annotations

import contextlib
import math
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.store import SegmentMeta, SegmentStore, _PinnedSnapshotStore
from .docids import _conv_bases, attach_bases
from .fastbuild import blocks_from_turns
from .segments import BLOCK_CODECS, decode_segments

# Above this corpus size the docid map always gets the doc-range layout
# shuffle, segment count notwithstanding: the assignment join may have hash-
# shuffled by conv_id (docids.BROADCAST_MAX_CONVS), and doc-interleaved
# encoder partitions produce wide-delta, skip-proof blocks (see the comment
# at the write_docid_map call).  Below it, corpora are broadcast-joined and
# already doc-contiguous per partition, so the shuffle is pure cost.
_LAYOUT_MIN_DOCS = 1 << 20

# Write-scoped runtime confs, saved and restored by write_conf_scope (see
# its docstring for each value)
_WRITE_CONF_KEYS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.codegen.wholeStage",
    "spark.sql.adaptive.enabled",
)
_write_scope_lock = threading.Lock()
_write_scopes: dict[int, list] = {}  # id(session) -> [depth, saved confs]
_BUILD_SPLIT_BYTES = str(4 << 20)


@contextlib.contextmanager
def write_conf_scope(spark: SparkSession):
    """Run the enclosed block under the write paths' Spark confs:
    ``build_index``, ``append_micro_segment`` and ``replace_documents``.

    - whole-stage codegen OFF: a write's CPU is all Python-side
      (mapInArrow); Janino compilation of its handful of scan/agg stages
      is ~2-3 s of pure serial driver time per fresh JVM, which dominates
      the short 4N-core leg of the build-scaling pair.
    - AQE OFF: a write has no corpus-wide shuffle for AQE's skew/coalesce
      rules to help.  A virtual build attaches doc ids worker-side, so its
      only shuffles are the conv-table range partition (phase 0, past the
      driver-side cap) and the commit's term-hash write; an NRT batch is
      small.  AQE's per-stage re-optimization only adds serial latency,
      and it runs every cached relation as a job of its own (measured: an
      NRT append ran 13 jobs under AQE, 6 without).  (A non-dense build
      past the cap still hash-joins the corpus in attach_bases, with AQE
      off.)

    ``spark.sql.files.maxPartitionBytes`` is saved too: the build sets its
    fine encode splits inside the scope.  The confs are SESSION-wide, so
    queries that other threads run on the session meanwhile see them as
    well.  Scopes nest and overlap across threads: the first to enter
    saves the confs and the last to leave restores them."""
    key = id(spark)
    with _write_scope_lock:
        entry = _write_scopes.get(key)
        if entry is None:
            saved = {k: spark.conf.get(k, None) for k in _WRITE_CONF_KEYS}
            entry = _write_scopes[key] = [0, saved]
            spark.conf.set("spark.sql.codegen.wholeStage", "false")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        entry[0] += 1
    try:
        yield
    finally:
        with _write_scope_lock:
            entry[0] -= 1
            if entry[0] == 0:
                del _write_scopes[key]
                for k, v in entry[1].items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)


def build_index(
    spark: SparkSession,
    turns: DataFrame,
    store: SegmentStore,
    rows_per_segment: int | None = None,
    input_desc: str = "unknown",
    chunk_bits: int | None = None,
    docid_map_mode: str = "virtual",
    codec: str | None = None,
) -> list[SegmentMeta]:
    """Build (or resume) the full index; returns committed segment metas.

    ``codec`` selects the postings wire format ("native" default: flat
    Parquet rows the query scans in the JVM; "varbyte", Trinity's google
    codec blocks; "pfor", the Lucene-style 128-block FOR packing) and
    ``chunk_bits``
    the encode-group width (``chunk = doc_id >> chunk_bits``, default 16).
    Both belong to the store: its first commit fixes them in the manifest,
    and NRT appends and merges inherit them.  ``None`` resolves to the
    store's values (the defaults for a fresh store); an explicit value that
    conflicts with the store raises before phase 0 reads any input.

    The input picks the docid map; phase 0 writes it once:
    - DENSE 0-based per-conv turn_idx (validated exactly by phase 0's conv
      aggregation): only the per-conversation base table (conv_id,
      n_turns, base) and the manifest rule ``doc_id = base + turn_idx`` —
      no corpus copy at all (at 100 TB a copy would double storage).
      Segments read the ORIGINAL input and the fused encode pass attaches
      ``doc_id = base + turn_idx`` worker-side at any conv count: each
      Python worker loads only its segment's conv_id slice of the bases,
      and the same conv_id range predicate pushes down to the input's
      parquet/Iceberg scan (conv ranges per segment come from one pass
      over the small conv table).  No join, no corpus shuffle.
    - Otherwise the BATCH map: the turns + doc_id written once, laid out by
      doc range, and segments encode from it.  Only a frozen copy gives
      duplicate (conv_id, turn_idx) keys stable ids.
    A store whose manifest already records a docid map resumes on that map
    and never writes a second one; phase 0 refuses to write a map over
    committed NRT slices (``SegmentStore.refuse_map_over_nrt_slices``).
    ``docid_map_mode`` accepts only ``"virtual"``, its default; any other
    value raises before any Spark job.
    """
    if docid_map_mode != "virtual":
        raise ValueError(
            f"docid_map_mode={docid_map_mode!r}: the input picks the docid "
            "map (conv bases for dense turn_idx, the batch map otherwise); "
            "the only accepted value is 'virtual'"
        )
    codec, chunk_bits = store.resolve_layout(codec, chunk_bits)
    # Build-scoped fine scan splits: the fused tokenize/encode pass is
    # CPU-bound, so 4 MiB splits keep the last wave short at every core
    # count (a 330 MB corpus = 84 tasks instead of 21; ragged-tail waste at
    # 4 cores drops ~12% -> ~1% — the measured round-4 scaling-efficiency
    # fix).  MEASURED round 6 and kept: 32 MiB splits looked cheaper on
    # paper (8x fewer worker round-trips) but ran the 1-core leg 2x SLOWER —
    # per-task encode buffers grow to ~7M postings and this VM charges a
    # first-touch page-fault premium on large fresh allocations that dwarfs
    # the per-task overhead saved.  Scoped here (runtime conf, restored by
    # write_conf_scope) because the same setting shreds QUERY scans into
    # hundreds of tiny tasks of pure scheduling overhead.
    # the fine split is applied INSIDE _build_index_inner just before the
    # segment loop: phase 0 (conv aggregation / docid map) is scan+agg
    # bound and runs ~15% faster on default-size splits — only the fused
    # encode pass wants the 4 MiB granularity
    with write_conf_scope(spark):
        return _build_index_inner(
            spark, turns, store, rows_per_segment, input_desc, chunk_bits,
            codec,
        )


def _build_index_inner(
    spark: SparkSession,
    turns: DataFrame,
    store: SegmentStore,
    rows_per_segment: int | None,
    input_desc: str,
    chunk_bits: int,
    codec: str,
) -> list[SegmentMeta]:
    explicit_rps = rows_per_segment is not None

    def _rps(n_docs: int) -> int:
        """Resolve rows_per_segment, validated against committed segments.

        Resume guard (why this is exact, not heuristic): build segments
        commit in doc order, so every committed build segment except the
        last spans exactly the original rows_per_segment — that span IS the
        recorded value, and any other value (including a strict divisor of
        every doc_lo, which the old modulus check wrongly accepted) would
        mint new overlapping segment ids and re-index duplicate documents.
        On resume the value is derived from the manifest when not passed,
        and must match when passed.  nrt-append micro-segments have
        arbitrary doc ranges and are exempt (lineage mode check).
        """
        rps = rows_per_segment
        if rps is None:
            par = spark.sparkContext.defaultParallelism
            rps = max(math.ceil(n_docs / max(par // 8, 2)), 1 << 14)
        build_segs = sorted(
            (
                s
                for s in store.segments()
                if s.segment_id.startswith("seg-")
                and s.lineage.get("mode") != "nrt-append"
            ),
            key=lambda s: s.doc_lo,
        )
        if not build_segs:
            return rps
        spans = {s.doc_hi - s.doc_lo for s in build_segs[:-1]}
        if len(spans) > 1:
            raise ValueError(
                "committed build segments have inconsistent doc spans "
                f"{sorted(spans)}; manifest mixes incompatible builds"
            )
        committed = spans.pop() if spans else None
        if committed is None and build_segs[-1].doc_hi < n_docs:
            # a single committed segment that is NOT the corpus-final one
            # must be a full segment, so its span is the original value
            committed = build_segs[-1].doc_hi - build_segs[-1].doc_lo
        if (
            committed is None
            and not explicit_rps
            and build_segs[-1].doc_lo == 0
            and build_segs[-1].doc_hi >= n_docs
        ):
            # a COMPLETED single-segment build: its span is a valid original
            # value (any rps >= span yields this same one segment), so adopt
            # it — otherwise an idempotent re-run that omits
            # rows_per_segment (as the resume advice below says to) would
            # trip the alignment check with the parallelism-derived default
            committed = build_segs[-1].doc_hi
        if committed is not None and committed != rps:
            if explicit_rps:
                raise ValueError(
                    f"resume with rows_per_segment={rps} but committed "
                    f"segments were built with {committed}; pass that value "
                    "(or omit it to derive from the manifest on resume)"
                )
            rps = committed
        final = build_segs[-1]
        if final.doc_lo % rps or (final.doc_hi - final.doc_lo) > rps:
            raise ValueError(
                f"committed segment {final.segment_id} is not aligned to "
                f"rows_per_segment={rps}; pass the original value"
            )
        return rps

    # phase 0: docid assignment (skipped on resume); n_docs falls out of the
    # conv aggregation driver-side, so no separate count job runs
    if "docid_map" not in store.read_manifest():
        store.refuse_map_over_nrt_slices()  # before the corpus aggregation
        num_partitions = max(spark.sparkContext.defaultParallelism, 4)
        # dense input: the store's parquet write IS the bases' one
        # materialization (writer mode).  Non-dense input gets the bases
        # back and joins them: one corpus aggregation either way
        bases, n_docs, n_convs, dense = _conv_bases(
            turns,
            num_partitions,
            writer=lambda b, nd, nc: store.write_conv_bases(
                b, nd, nc, input_desc
            ),
        )
        if not dense:
            rows_per_segment = _rps(n_docs)
            # Doc-range layout pays twice: (1) >1 segment re-reads range
            # slices of the map, and (2) — the one that matters even for a
            # single segment — BLOCK GEOMETRY.  Past BROADCAST_MAX_CONVS the
            # doc-id assignment join is a conv_id HASH shuffle, so without
            # the range layout each encoder partition holds docs sampled
            # from the WHOLE corpus: blocks come out thousands of docs wide
            # with huge deltas (measured at 10M turns: avg block width 6.4k
            # docs for a stopword, 26k for mid-df terms, duplicate partial
            # blocks per (term, chunk)), which kills every skip structure
            # (chunk/span restriction, block-max bounds are all vacuous)
            # and bloats the varbyte wire.  The reference's postings are
            # doc-ordered by construction (indexer.cpp:395-420 posting
            # sort); the range shuffle is our equivalent invariant, so it
            # is NOT optional at scale.
            store.write_docid_map(
                attach_bases(turns, bases, n_convs, dense),
                n_docs=n_docs,
                layout=n_docs > min(rows_per_segment, _LAYOUT_MIN_DOCS),
            )
    n_docs = store.docid_map_count(spark)
    rows_per_segment = _rps(n_docs)
    seg_conv_bounds: dict[int, tuple[str, str]] = {}
    docmap = None  # conv bases: the fused pass attaches doc ids itself
    if store.docid_map_mode() != "virtual":
        docmap = store.read_batch_map(spark)
    elif rows_per_segment < n_docs:
        # per-segment conv_id ranges (one job over the small conv table):
        # segment s covers convs whose [base, base+n) intersects its range.
        # A SINGLE-segment build needs neither the job nor the predicate —
        # the one segment covers every conv, so the conv_id filter would
        # scan-prune nothing and the spans job is a pure fixed cost (it
        # capped measured build-scaling efficiency at the one-segment
        # scaling unit); its workers load the whole bases table.
        r = rows_per_segment
        spans = store.read_conv_bases(spark).select(
            "conv_id",
            F.explode(
                F.sequence(
                    (F.col("base") / r).cast("long"),
                    ((F.col("base") + F.col("n_turns") - 1) / r).cast("long"),
                )
            ).alias("seg"),
        )
        for row in (
            spans.groupBy("seg")
            .agg(F.min("conv_id").alias("lo"), F.max("conv_id").alias("hi"))
            .collect()
        ):
            seg_conv_bounds[int(row["seg"])] = (row["lo"], row["hi"])

    # Coverage-based resume skip (not just exact segment-id match): after a
    # merge the range lives in a merged-* segment, and nrt appends may tile a
    # range with differently-sized micro-segments — rebuilding either would
    # duplicate documents.  A PARTIAL overlap is unresolvable (building would
    # duplicate the overlapped docs; skipping would drop the rest) -> raise.
    # ONE manifest read for the whole resume scan: per-iteration
    # segments() calls re-parse the full JSON manifest, which
    # is O(segments^2) driver overhead at the ~1000-resume-unit design point
    pre_committed = {m.segment_id: m for m in store.segments()}
    committed_ranges = sorted(
        (m.doc_lo, m.doc_hi) for m in pre_committed.values()
    )

    def _coverage(lo: int, hi: int) -> str:
        cur = lo
        touched = False
        for a, b in committed_ranges:
            if b <= lo or a >= hi:
                continue
            touched = True
            if a > cur:
                return "partial"
            cur = max(cur, b)
            if cur >= hi:
                return "full"
        return "partial" if touched else "none"

    built: list[SegmentMeta] = []
    # fine scan splits for the CPU-bound fused encode pass only (see the
    # build_index comment; restored by write_conf_scope)
    spark.conf.set("spark.sql.files.maxPartitionBytes", _BUILD_SPLIT_BYTES)
    for lo in range(0, n_docs, rows_per_segment):
        hi = min(lo + rows_per_segment, n_docs)
        sid = f"seg-{lo:014d}-{hi:014d}"
        if sid in pre_committed:
            built.append(pre_committed[sid])
            continue
        cov = _coverage(lo, hi)
        if cov == "full":
            continue  # already indexed under other segment ids (merge / nrt)
        if cov == "partial":
            raise ValueError(
                f"doc range [{lo}, {hi}) partially overlaps committed "
                "segments; refusing to build duplicate documents"
            )
        t0 = time.monotonic()
        conv_attach = None
        if docmap is None:
            # worker-side attach: feed the ORIGINAL input; the fused pass
            # derives doc_id and applies the [lo, hi) slice itself.  No join
            # reshuffles the input, so encoder partitions keep its
            # conv-clustered order and blocks stay doc-narrow (the
            # reference's postings are doc-ordered by construction,
            # indexer.cpp:395-420).
            seg_turns = turns
            conv_range = None
            if seg_conv_bounds:
                # the conv_id range predicate pushes down to the INPUT scan,
                # and the SAME range bounds the bases slice a worker loads:
                # it holds one segment's convs, never the whole table
                conv_range = seg_conv_bounds[lo // rows_per_segment]
                seg_turns = seg_turns.where(
                    F.col("conv_id").between(*conv_range)
                )
            conv_attach = (store.conv_bases_dir(), lo, hi, conv_range)
        else:
            seg_turns = docmap.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
        # fused tokenize->postings->encode: ONE pass, zero data shuffles;
        # the store derives block metadata, dictionary and stats itself
        blocks = blocks_from_turns(
            seg_turns, chunk_bits=chunk_bits, codec=codec,
            conv_attach=conv_attach,
        )
        meta = SegmentMeta(
            segment_id=sid,
            generation=0,  # assigned at commit
            doc_lo=lo,
            doc_hi=hi,
            docs_cnt=hi - lo,
            lineage={
                "input": input_desc,
                "doc_range": [lo, hi],
                "chunk_bits": chunk_bits,
                "codec": codec,
            },
        )
        # the commit materializes the fused pass once for its two writes
        store.commit_segment(blocks, meta, started=t0)
        built.append(meta)
    return built


class SegmentIndex:
    """Planner-compatible index view over a SegmentStore collection.

    Same duck-type as plans.planner.LogicalIndex; postings_for pushes the
    term filter down to the postings parquet scan (min/max stats on the
    sorted `term` column = the terms.idx skiplist seek).  Under the native
    codec that scan IS the postings (no Python at all); under a block codec
    the Arrow decode runs after the pruned scan.  Stats are summed across
    segments exactly like ``BM25Scorer::reset`` (similarity.h:238-250).

    A view is ONE snapshot: the manifest is read once at open and every
    read (postings, block metadata, dictionary, tombstones, N, the cache
    gate) is pinned to it, so commits after open stay invisible until
    ``refresh()``.  ``store`` stays the live store the view was opened on.
    """

    def __init__(self, spark: SparkSession, store: SegmentStore):
        self.spark = spark
        self.store = store
        m = store.read_manifest()
        snap = _PinnedSnapshotStore(store.base, m)
        # one wire layout per store; layout() raises on an unknown codec or
        # a segment whose lineage disagrees, so a corrupt store fails at
        # open instead of decoding garbage or dropping postings.  The chunk
        # width feeds the pruning cost gate's driver-side chunk counts.
        self.codec, self.chunk_bits = snap.layout()
        # block metadata for the pruned routes (the block rows themselves
        # under a block codec), and the stored postings part they restrict
        self.blocks = snap.read_blocks(spark)
        self.stored = (
            self.blocks if self.codec in BLOCK_CODECS else snap.read_postings(spark)
        )
        self.term_dict = snap.read_term_dict(spark, self.blocks)
        self.deleted = snap.read_deletes(spark)
        # full logical view (lazy; only touched if a caller scans everything)
        self.postings = decode_segments(self.stored, codec=self.codec)
        # N and the dictionary size come off the manifest — no Spark job.
        # A segment without recorded field stats (written before the store
        # recorded them) closes the cache gate: pushdown lookups per query.
        segs = m["segments"]
        self.n_docs = sum(s["docs_cnt"] for s in segs)
        self._total_terms = (
            sum(s["lineage"]["field_stats"]["total_terms"] for s in segs)
            if all("field_stats" in s["lineage"] for s in segs)
            else None
        )
        self._df_cache = None

    def postings_for(
        self, terms: list[str], with_positions: bool = True
    ) -> DataFrame:
        """``with_positions=False`` = the docs/freqs-only read: the position
        column or stream (the largest) is pruned from the parquet scan —
        token-only BM25 queries never touch it."""
        return decode_segments(
            self.stored.where(F.col("term").isin(terms)),
            with_positions=with_positions, codec=self.codec,
        )

    def postings_with_payloads_for(self, terms: list[str]) -> DataFrame:
        """Like postings_for but with the per-hit payloads
        (runtime.h:8-20 term_hit.payload) — used by the winners-only hits
        surface, never by the scoring scan."""
        return decode_segments(
            self.stored.where(F.col("term").isin(terms)),
            with_payloads=True, codec=self.codec,
        )

    # dictionaries up to this size are cached driver-side after first use —
    # one collect replaces a per-query Spark job (terms.idx-in-memory analog);
    # larger dictionaries fall back to pushdown lookups per query
    TERM_DICT_CACHE_MAX = 2_000_000

    def refresh(self) -> "SegmentIndex":
        """Re-open on the store's current manifest (NRT appends, merges,
        replaces) — the view is otherwise frozen at open time.  Returns
        self."""
        self.__init__(self.spark, self.store)
        return self

    def stats_for(self, terms: list[str]):
        from ..plans.planner import IndexStats

        if self._df_cache is None:
            total = self._total_terms
            if total is not None and total <= self.TERM_DICT_CACHE_MAX:
                rows = self.term_dict.groupBy("term").agg(F.sum("df").alias("df")).collect()
                self._df_cache = {r["term"]: int(r["df"]) for r in rows}
            else:
                self._df_cache = False  # too big: per-query pushdown lookups
        if self._df_cache:
            cache = self._df_cache
            return IndexStats(self.n_docs, {t: cache.get(t, 0) for t in terms})
        rows = (
            self.term_dict.where(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .collect()
            if terms
            else []
        )
        return IndexStats(self.n_docs, {r["term"]: int(r["df"]) for r in rows})
