"""End-to-end index build: resumable, segment-granular, metrics-emitting.

Pipeline (SURVEY.md §3.3 — the Spark re-expression of
``SegmentIndexSession::commit``, ``/root/reference/indexer.cpp:311-564``):

    transcripts
      -> assign_doc_ids (dense, stable (conv_id, turn_idx) order)
      -> docid_map  (phase 0, written once — the two-ID-space translation
                     table, index_source.h:100-114)
      -> per docid-range SEGMENT:
           fused tokenize -> postings -> delta+varbyte blocks in ONE
           mapInArrow pass (fastbuild.blocks_from_turns, zero data shuffles);
           term_dict + field_stats derived from block metadata
           -> commit_segment (atomic manifest add; the only data shuffle is
              the term-sorted block write for dictionary-seek locality)

Resumability (north rule): each segment is an idempotent unit keyed by its
docid range; a restarted build skips manifest-committed segments and rewrites
any half-written one.  Per-segment METRICS (turns, wall seconds, turns/sec)
and LINEAGE (input descriptor, docid range, engine version) land in the
manifest — the reference's per-commit phase timings (indexer.cpp:303-309)
made machine-readable.

Segment sizing: ``rows_per_segment`` bounds a segment's doc count.  At 10^12
turns you'd use ~10^9-row segments (=> ~1000 independent resume units); the
(term, chunk) encode groups inside a segment are the skew-salting unit.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import __version__
from ..sources.store import SegmentMeta, SegmentStore
from .build import field_stats_from_blocks, term_dict_from_blocks
from .docids import assign_doc_ids_counted
from .fastbuild import blocks_from_turns
from .segments import CHUNK_BITS, decode_segments

# Above this corpus size the docid map always gets the doc-range layout
# shuffle, segment count notwithstanding: the assignment join may have hash-
# shuffled by conv_id (docids.BROADCAST_MAX_CONVS), and doc-interleaved
# encoder partitions produce wide-delta, skip-proof blocks (see the comment
# at the write_docid_map call).  Below it, corpora are broadcast-joined and
# already doc-contiguous per partition, so the shuffle is pure cost.
_LAYOUT_MIN_DOCS = 1 << 20

# Build-scoped runtime confs, saved and restored by build_index (see the
# comments there for each value)
_BUILD_CONF_KEYS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.codegen.wholeStage",
    "spark.sql.adaptive.enabled",
)
_BUILD_SPLIT_BYTES = str(4 << 20)


def build_index(
    spark: SparkSession,
    turns: DataFrame,
    store: SegmentStore,
    rows_per_segment: int | None = None,
    input_desc: str = "unknown",
    chunk_bits: int = CHUNK_BITS,
    docid_map_mode: str = "materialized",
    codec: str | None = None,
) -> list[SegmentMeta]:
    """Build (or resume) the full index; returns committed segment metas.

    ``codec`` selects the posting-stream wire format ("varbyte" default,
    "pfor" for the Lucene-style 128-block FOR packing).  ``None`` resolves
    to the store's recorded codec (manifest ``codec``, fixed by the first
    build) so resumes and NRT appends stay homogeneous; each segment's
    lineage records the codec that wrote it — the codecs.h:93-95 segment
    codec identity — and merge refuses byte reuse across mixed codecs.

    ``docid_map_mode``:
    - ``"materialized"`` (default): phase 0 writes the full (turns + doc_id)
      parquet map — a second copy of the corpus, laid out by doc range when
      multiple segments will slice it.
    - ``"virtual"``: phase 0 persists only the per-conversation base table
      (conv_id, n_turns, base) and the manifest rule ``doc_id = base +
      turn_idx`` — no corpus copy at all (at 100 TB the materialized map
      doubles storage).  Segments read the ORIGINAL input and the fused
      encode pass attaches ``doc_id = base + turn_idx`` worker-side at any
      conv count: each Python worker loads only its segment's conv_id slice
      of the bases, and the same conv_id range predicate pushes down to the
      input's parquet/Iceberg scan (conv ranges per segment come from one
      pass over the small conv table).  No join, no corpus shuffle.
      Requires dense 0-based per-conv turn_idx (validated; falls back to
      materialized otherwise).
    """
    # Build-scoped fine scan splits: the fused tokenize/encode pass is
    # CPU-bound, so 4 MiB splits keep the last wave short at every core
    # count (a 330 MB corpus = 84 tasks instead of 21; ragged-tail waste at
    # 4 cores drops ~12% -> ~1% — the measured round-4 scaling-efficiency
    # fix).  MEASURED round 6 and kept: 32 MiB splits looked cheaper on
    # paper (8x fewer worker round-trips) but ran the 1-core leg 2x SLOWER —
    # per-task encode buffers grow to ~7M postings and this VM charges a
    # first-touch page-fault premium on large fresh allocations that dwarfs
    # the per-task overhead saved.  Scoped here (runtime conf, restored in
    # the finally below) because the same setting shreds QUERY scans into
    # hundreds of tiny tasks of pure scheduling overhead.
    if codec is None:
        codec = store.default_codec()
    store.record_default_codec(codec)
    # the fine split is applied INSIDE _build_index_inner just before the
    # segment loop: phase 0 (conv aggregation / docid map) is scan+agg
    # bound and runs ~15% faster on default-size splits — only the fused
    # encode pass wants the 4 MiB granularity
    # Build-scoped JVM overhead trims (restored in the finally):
    # - whole-stage codegen OFF: the build's CPU is all Python-side
    #   (mapInArrow); Janino compilation of its handful of scan/agg stages
    #   is ~2-3 s of pure serial driver time per fresh JVM, which dominates
    #   the short 4N-core leg of the scaling pair.
    # - AQE OFF: a virtual build attaches doc ids worker-side at every conv
    #   count, so its only shuffles are the conv-table range partition
    #   (phase 0, past the driver-side cap) and the commit's term-hash
    #   write — no corpus-wide docid shuffle exists for AQE's skew/coalesce
    #   rules to help, and its per-stage driver re-optimization only adds
    #   serial latency.  (A materialized build past the cap still
    #   hash-joins the corpus in assign_doc_ids, with AQE off.)
    saved = {k: spark.conf.get(k, None) for k in _BUILD_CONF_KEYS}
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _build_index_inner(
            spark, turns, store, rows_per_segment, input_desc, chunk_bits,
            docid_map_mode, codec,
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _build_index_inner(
    spark: SparkSession,
    turns: DataFrame,
    store: SegmentStore,
    rows_per_segment: int | None,
    input_desc: str,
    chunk_bits: int,
    docid_map_mode: str,
    codec: str,
) -> list[SegmentMeta]:
    import os

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
    seg_conv_bounds: dict[int, tuple[str, str]] = {}
    if docid_map_mode == "virtual":
        from .docids import _conv_bases

        if store.docid_map_mode() != "virtual":
            num_partitions = max(spark.sparkContext.defaultParallelism, 4)
            # the store's parquet write IS the bases frame's one
            # materialization (writer mode): one pass over the conv table
            # instead of localCheckpoint + write
            _, n_docs, n_convs, dense = _conv_bases(
                turns,
                num_partitions,
                writer=lambda b, nd, nc: store.write_conv_bases(
                    b, nd, nc, input_desc
                ),
            )
            if not dense:
                # the arithmetic rule needs dense turn_idx; fall back
                return build_index(
                    spark, turns, store, rows_per_segment, input_desc,
                    chunk_bits, docid_map_mode="materialized", codec=codec,
                )
        n_docs = store.docid_map_count(spark)
        rows_per_segment = _rps(n_docs)
        docmap = None  # the fused pass attaches doc ids itself
        # per-segment conv_id ranges (one job over the small conv table):
        # segment s covers convs whose [base, base+n) intersects its range.
        # A SINGLE-segment build needs neither the job nor the predicate —
        # the one segment covers every conv, so the conv_id filter would
        # scan-prune nothing and the spans job is a pure fixed cost (it
        # capped measured build-scaling efficiency at the one-segment
        # scaling unit); its workers load the whole bases table.
        r = rows_per_segment
        if r < n_docs:
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
    elif not os.path.exists(os.path.join(store.docid_map_dir(), "_SUCCESS")):
        with_ids, n_docs = assign_doc_ids_counted(turns)
        rows_per_segment = _rps(n_docs)
        # Doc-range layout pays twice: (1) >1 segment re-reads range slices
        # of the map, and (2) — the one that matters even for a single
        # segment — BLOCK GEOMETRY.  Past BROADCAST_MAX_CONVS the doc-id
        # assignment join is a conv_id HASH shuffle, so without the range
        # layout each encoder partition holds docs sampled from the WHOLE
        # corpus: blocks come out thousands of docs wide with huge deltas
        # (measured at 10M turns: avg block width 6.4k docs for a stopword,
        # 26k for mid-df terms, duplicate partial blocks per (term, chunk)),
        # which kills every skip structure (chunk/span restriction,
        # block-max bounds are all vacuous) and bloats the varbyte wire.
        # The reference's postings are doc-ordered by construction
        # (indexer.cpp:395-420 posting sort); the range shuffle is our
        # equivalent invariant, so it is NOT optional at scale.
        store.write_docid_map(
            with_ids,
            n_docs=n_docs,
            layout=n_docs > min(rows_per_segment, _LAYOUT_MIN_DOCS),
        )
        docmap = store.read_docid_map(spark)
    else:
        n_docs = store.docid_map_count(spark)
        docmap = store.read_docid_map(spark)
    rows_per_segment = _rps(n_docs)

    # Coverage-based resume skip (not just exact segment-id match): after a
    # merge the range lives in a merged-* segment, and nrt appends may tile a
    # range with differently-sized micro-segments — rebuilding either would
    # duplicate documents.  A PARTIAL overlap is unresolvable (building would
    # duplicate the overlapped docs; skipping would drop the rest) -> raise.
    # ONE manifest read for the whole resume scan: per-iteration
    # has_segment()/segments() calls re-parse the full JSON manifest, which
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
    # build_index comment; restored by build_index's finally)
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
        # dictionary + stats come off block metadata (also shuffle-light)
        blocks = blocks_from_turns(
            seg_turns, chunk_bits=chunk_bits, codec=codec,
            conv_attach=conv_attach,
        ).persist()
        blocks.count()  # materialize the fused pass once, before any reuse
        term_dict = term_dict_from_blocks(blocks)
        stats = field_stats_from_blocks(blocks, docs_cnt=hi - lo)
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
                # explicit empty list = "gen-aware, no tombstone generation
                # applied yet"; ABSENT means a pre-gen-aware segment whose
                # applied set is unknown (merge falls back to presence-based
                # tombstone counting for such ranges)
                "deletes_gens": [],
                "engine_version": __version__,
            },
            metrics={},
        )
        store.commit_segment(blocks, term_dict, stats, meta)
        blocks.unpersist()
        wall = time.monotonic() - t0
        meta.metrics.update(
            {"turns": hi - lo, "wall_sec": round(wall, 3),
             "turns_per_sec": round((hi - lo) / wall, 1)}
        )
        # re-commit metrics into the manifest entry (metadata-only update)
        store.update_segment_metrics(sid, meta.metrics)
        built.append(meta)
    return built


class SegmentIndex:
    """Planner-compatible index view over a SegmentStore collection.

    Same duck-type as plans.planner.LogicalIndex; postings_for pushes the
    term filter down to the block parquet scan (min/max stats on the sorted
    `term` column = the terms.idx skiplist seek) BEFORE Arrow decode, and
    stats are summed across segments exactly like ``BM25Scorer::reset``
    (similarity.h:238-250).
    """

    def __init__(self, spark: SparkSession, store: SegmentStore):
        self.spark = spark
        self.store = store
        codecs = sorted({store.segment_codec(m) for m in store.segments()})
        # unknown codec tags must fail LOUD at open: the mixed-codec decode
        # splits blocks by known-codec branches, so an unrecognized tag
        # (corrupt manifest, store from a newer engine) would otherwise
        # silently drop those segments' postings from every query
        from .segments import CODECS

        unknown = [c for c in codecs if c not in CODECS]
        if unknown:
            raise ValueError(
                f"store has segments with unknown codec(s) {unknown}; "
                f"this engine knows {list(CODECS)}"
            )
        # single-codec stores (the normal case) read untagged blocks and
        # decode with that codec; a store holding segments written by
        # DIFFERENT codecs (pre-compaction mixing) reads codec-tagged blocks
        # and decode_segments splits per codec — queries stay correct either
        # way, and a merge re-homogenizes the store
        self.codec = codecs[0] if len(codecs) == 1 else ("mixed" if codecs else "varbyte")
        self.blocks = store.read_blocks(spark, with_codec=self.codec == "mixed")
        self.term_dict = store.read_term_dict(spark)
        self.field_stats = store.read_field_stats(spark)
        self.deleted = store.read_deletes(spark)
        # full logical view (lazy; only touched if a caller scans everything)
        self.postings = self._decode(self.blocks)

    def _decode(self, blocks: DataFrame, **kw) -> DataFrame:
        if self.codec == "mixed":
            return decode_segments(blocks, **kw)  # codec column drives split
        return decode_segments(blocks, codec=self.codec, **kw)

    def postings_for(
        self, terms: list[str], with_positions: bool = True
    ) -> DataFrame:
        """``with_positions=False`` = the docs/freqs-only decode: pos_bytes
        (the largest stream) is pruned from the parquet scan — token-only
        BM25 queries never touch it."""
        pruned = self.blocks.where(F.col("term").isin(terms))
        return self._decode(pruned, with_positions=with_positions)

    def postings_with_payloads_for(self, terms: list[str]) -> DataFrame:
        """Like postings_for but with the per-hit payload stream decoded
        (runtime.h:8-20 term_hit.payload) — used by the winners-only hits
        surface, never by the scoring scan."""
        pruned = self.blocks.where(F.col("term").isin(terms))
        return self._decode(pruned, with_payloads=True)

    @property
    def chunk_bits(self) -> int:
        """Encode-group chunk width (from build lineage) — the pruning cost
        gate needs it to estimate chunk counts driver-side."""
        if not hasattr(self, "_chunk_bits"):
            bits = {
                m.lineage.get("chunk_bits", CHUNK_BITS)
                for m in self.store.segments()
            } or {CHUNK_BITS}
            self._chunk_bits = bits.pop() if len(bits) == 1 else CHUNK_BITS
        return self._chunk_bits

    # dictionaries up to this size are cached driver-side after first use —
    # one collect replaces a per-query Spark job (terms.idx-in-memory analog);
    # larger dictionaries fall back to pushdown lookups per query
    TERM_DICT_CACHE_MAX = 2_000_000

    def refresh(self) -> "SegmentIndex":
        """Re-read the manifest after new commits (NRT appends, merges,
        replaces) — a SegmentIndex snapshot is otherwise frozen at open time
        (stale df/N caches would skew idf after appends).  Returns self."""
        self.__init__(self.spark, self.store)
        for attr in ("_n_docs", "_df_cache", "_chunk_bits"):
            if hasattr(self, attr):
                delattr(self, attr)
        return self

    def stats_for(self, terms: list[str]):
        from ..plans.planner import IndexStats

        if not hasattr(self, "_n_docs"):
            # manifest already carries docs_cnt — no Spark job needed
            self._n_docs = sum(s.docs_cnt for s in self.store.segments())
        n_docs = self._n_docs
        cache = getattr(self, "_df_cache", None)
        if cache is None:
            total_terms = self.field_stats.agg(F.sum("total_terms")).collect()[0][0] or 0
            if total_terms <= self.TERM_DICT_CACHE_MAX:
                rows = self.term_dict.groupBy("term").agg(F.sum("df").alias("df")).collect()
                cache = {r["term"]: int(r["df"]) for r in rows}
            else:
                cache = False  # too big: per-query pushdown lookups
            self._df_cache = cache
        if cache:
            return IndexStats(int(n_docs), {t: cache.get(t, 0) for t in terms})
        rows = (
            self.term_dict.where(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .collect()
            if terms
            else []
        )
        return IndexStats(int(n_docs), {r["term"]: int(r["df"]) for r in rows})
