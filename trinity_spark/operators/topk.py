"""Block-max pruned disjunctive top-k (the distributed WAND analog).

Reference analogs: skip-based block seeking (``/root/reference/
google_codec.cpp:146-159`` skiplists; ``lucene_codec.cpp:596-660``) and
cost-ordered min-should-match iteration (``docset_iterators.h:40-60``).  The
reference has no WAND; block-max pruning is our north-star requirement
(SURVEY.md §4.3.2), re-derived for batch execution:

Let chunk(d) = d >> CHUNK_BITS (the encode-group docid range).  Every posting
of doc d, for every term, lives in blocks of chunk(d), so

    score(d) <= sum_t ub_t(chunk(d)),
    ub_t(c) = idf_t * max_tf_t(c) / (max_tf_t(c) + k1)

computed from BLOCK METADATA ONLY (max_tf per block — no decode).  Given any
lower bound T on the final k-th score, every chunk with bound < T is dead for
ALL its docs, and — crucially — every surviving doc's EXACT score needs only
its own chunk's blocks, which survive as a unit.  So the pruned query is
bit-identical to the unpruned one: we re-run the ordinary planner over a view
whose block scan is restricted to surviving chunks.

T comes from a cheap first pass: the exact top-k of the sub-disjunction over
the lowest-df prefix of the query terms (df-ascending — the reference's
rarest-term-drives ordering, ``exec.cpp:154-170``).  Sub-scores only grow
when branches are added, so the k-th best sub-score is a valid lower bound
for the full query's k-th best.  Fewer than k sub-matches => T=0 => no
pruning (still correct).

Cost shape at 10^12 turns: pass 1 decodes only rare terms' blocks; the
pruning decision reads only (query-term, chunk) metadata rows; pass 2 decodes
the few chunks a stopword shares with the rare terms — the ``the AND/OR
rare-marker`` query never materializes the stopword's 10^11-doc list.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bm25 import K1
from ..plans.ast import And, Or, Phrase, Token, query_terms

# --- cost gate ---------------------------------------------------------------
# Pruning is only worth its fixed overhead (an extra pass-1 Spark job + the
# chunk-bound metadata aggregation, ~2 actions) when the decode work it can
# skip is large.  The reference applies the same economics: skiplist steps are
# only taken when the skip spans enough postings to beat linear scanning
# (lucene_codec.cpp:596-660 step granularity).  Thresholds are in df units
# (postings rows the expensive tail would otherwise decode):
PRUNE_MIN_TAIL_DF = 1 << 22  # OR path: tail below ~4M rows decodes faster flat
PRUNE_MIN_SKEW = 8.0  # need rare-vs-common contrast for a useful bound
# AND path is cheaper than OR (meta tier runs no pass-1 job — the span set
# is a broadcast subquery inside the one query job), so its gate sits much
# lower.  Re-measured round 6 after the decode/build vectorization, kept at
# 1M: lowering to 256k routed the sf0.1 q_skew (max_df 595k, df-3 anchor)
# through meta_span and won 1.9-2.6x at 2M docs on 4 cores — but at the
# headline point (1M docs, 32 cores) the flat single pass already finishes
# in the restricted plan's fixed cost, and the deeper routed plan costs
# ~0.5 s MORE cold (semi-join + explode subquery codegen).  The gate's df
# unit is decode rows saved per core-second: 1M rows is where the skipped
# decode beats the extra plan depth on a 32-core leaf.
AND_PRUNE_MIN_DF = 1 << 20
_TF_SAT = 1.0 / (1.0 + K1)  # score of a tf=1 hit as a fraction of idf

# --- AND span restriction ----------------------------------------------------
# The restriction granularity for conjunctions: a SPAN is a fixed 2^SPAN_BITS
# docid range, the batch analog of the reference's skiplist seek granularity
# (one skiplist entry every 256 docs, google_codec.cpp:146-159; per-128-doc-
# block skip data, lucene_codec.cpp:877-894).  128-doc spans make a stopword
# block (~BLOCK_SIZE docs wide) individually skippable.  The old restriction
# unit was the 2^16-doc encode CHUNK, which can never prune a term with
# df > n_docs/65536 — the q_skew scale hole.
SPAN_BITS = 7
META_KEEP_MAX = 0.25  # meta tier: open only if the rare term's df alone
#                       bounds the kept-span fraction under this
PROBE_DOMINANCE = 4.0  # probe tier: expensive branch must cost >= 4x the
#                        rest.  Measured crossover at 10M turns: with the
#                        expensive side at only 2.3x (the AND "rate limit",
#                        members at 12% doc density), pass 1's phrase
#                        evaluation alone costs as much as the whole fused
#                        single pass (which overlaps phrase eval with the
#                        stopword decode across all cores) — two-pass routed
#                        10.1 s vs 8.8 s flat.  At 15x dominance (members at
#                        ~2.7% density) the probe wins 5.3x (2.05 s vs
#                        10.85 s, 0.2% span keep) and the advantage grows
#                        with df(expensive)/df(cheap) — the 10^12-turn
#                        stopword case is the asymptote.
PROBE_BAIL_KEEP = 0.5  # probe tier: if pass-1 candidates cover more spans
#                        than this, restriction cannot pay — run flat
SPAN_CAND_MAX = 1 << 22  # candidate spans ride a broadcast: ~32 MB of longs


def _pruning_feasible(stats, live: list[str], k: int, span_bits: int) -> bool:
    """Can ANY span be pruned, estimated driver-side from df alone?

    A term with df >= #spans is expected in EVERY span (uniform spread), so
    its upper bound taxes every span's score bound; a span is prunable only
    if the pass-1 threshold T can exceed the SUM of the ubiquitous terms'
    idfs.  T is estimated conservatively: walk cheap terms by df ascending
    (idf descending) until their df saturates k — the k-th pass-1 score is at
    least the tf=1 score of the last term needed.  (Measured: without this
    check, a stopword disjunction at 10^6 docs pays two full passes and
    prunes nothing — every span contains every stopword.)"""
    total_chunks = max(stats.n_docs >> span_bits, 1)
    ubiq_bound = sum(stats.idf(t) for t in live if stats.df(t) >= total_chunks)
    by_df = sorted(live, key=lambda t: stats.df(t))
    acc, t_est = 0, 0.0
    for t in by_df[:-1]:  # the most expensive term never joins pass 1
        acc += stats.df(t)
        if acc >= k:
            t_est = _TF_SAT * stats.idf(t)
            break
    return t_est > ubiq_bound


def or_gate_report(stats, terms: list[str], k: int, span_bits: int = SPAN_BITS) -> dict:
    """Gate decision + the df-derived reasons, all driver-side arithmetic on
    cached df (no Spark job).  The dict is surfaced by QueryPlanner.last_route
    so a bench artifact can SHOW "gate closed, single-pass plan" instead of a
    reviewer inferring it from matched walls."""
    dfs = sorted(stats.df(t) for t in terms if stats.df(t) > 0)
    rep = {
        "open": False,
        "reason": "",
        "live_terms": len(dfs),
        "tail_df": sum(dfs[1:]) if len(dfs) > 1 else 0,
        "min_tail_df": PRUNE_MIN_TAIL_DF,
        "skew": round(dfs[-1] / dfs[0], 1) if dfs and dfs[0] else None,
    }
    if len(dfs) < 2:
        rep["reason"] = "fewer than two live terms: nothing to prune against"
    elif sum(dfs[:-1]) < k:
        rep["reason"] = "pass-1 cannot saturate k -> T=0 -> no spans pruned"
    elif sum(dfs[1:]) < PRUNE_MIN_TAIL_DF:
        rep["reason"] = (
            f"tail df {sum(dfs[1:])} < {PRUNE_MIN_TAIL_DF}: decode work the "
            "pruned plan could skip is too small to pay the extra pass-1 job"
        )
    elif dfs[-1] < PRUNE_MIN_SKEW * dfs[0]:
        rep["reason"] = "insufficient rare-vs-common df contrast"
    else:
        live = [t for t in terms if stats.df(t) > 0]
        if not _pruning_feasible(stats, live, k, span_bits):
            rep["reason"] = (
                "no span can be pruned: ubiquitous terms (df >= #spans) "
                "bound every span above the estimated threshold"
            )
        else:
            rep["open"] = True
            rep["reason"] = "pruning predicted to beat single-pass"
    return rep


def _branch_cost(stats, branch) -> int:
    """Decode cost of one required AND branch = rows its member terms pull
    into the scan (phrase members each decode in full)."""
    if isinstance(branch, Token):
        return stats.df(branch.term)
    if isinstance(branch, Phrase):
        return sum(stats.df(t) for t in branch.terms)
    return sum(stats.df(t) for t in query_terms(branch))


def and_gate_report(
    stats, node, span_bits: int = SPAN_BITS, chunk_bits: int = 16
) -> dict:
    """Gate decision + reasons for the AND span restriction, two tiers:

    - ``meta_span``: the rarest member term's df alone bounds the kept-span
      fraction (<= META_KEEP_MAX), so the kept spans come from its BLOCK
      METADATA (min/max_doc_id per block — zero decode, zero extra action;
      the skiplist-seek analog).
    - ``probe``: no single term is rare enough, but one branch dominates the
      decode cost (the ``stopword AND "mid-df phrase"`` q_skew shape).  A
      pass-1 job evaluates the CHEAP branches exactly; their matching docs'
      spans restrict every term's blocks in pass 2.  Phrase-level rarity is
      thus measured, not estimated from member dfs — and if the measured
      candidate spans cover more than PROBE_BAIL_KEEP of the corpus, the
      plan bails to single-pass (overhead bounded by the dominance gate).

    All arithmetic driver-side on cached df; node must be an And of
    Token/Phrase branches."""
    terms = query_terms(node)
    dfs = sorted(stats.df(t) for t in terms if stats.df(t) > 0)
    total_spans = max(stats.n_docs >> span_bits, 1)
    rep = {
        "open": False,
        "tier": None,
        "reason": "",
        "live_terms": len(dfs),
        "max_df": dfs[-1] if dfs else 0,
        "min_df": dfs[0] if dfs else 0,
        "total_spans": total_spans,
        "span_bits": span_bits,
    }
    if len(dfs) < 2:
        rep["reason"] = "fewer than two live terms"
        return rep
    if dfs[-1] < AND_PRUNE_MIN_DF:
        rep["reason"] = (
            f"most expensive term df {dfs[-1]} < {AND_PRUNE_MIN_DF}: "
            "decodes faster flat"
        )
        return rep
    if dfs[0] <= min(total_spans * META_KEEP_MAX, SPAN_CAND_MAX):
        rep["open"] = True
        rep["tier"] = "meta_span"
        # df bounds POSTINGS, not block RANGE coverage (a spread term tiles
        # up to spans-per-chunk spans per block): when df alone cannot
        # guarantee the kept fraction even in that worst case, the executor
        # MEASURES the covered spans first — a driver-side count action.
        # Published here (the one place the tier is decided) so the
        # collection dispatcher's pass-1 test can't drift from the executor.
        spans_per_chunk = max(1 << max(chunk_bits - span_bits, 0), 1)
        rep["meta_measures"] = dfs[0] * spans_per_chunk > min(
            META_KEEP_MAX * total_spans, float(SPAN_CAND_MAX)
        )
        rep["reason"] = (
            f"rarest term df {dfs[0]} bounds kept spans under "
            f"{META_KEEP_MAX:.0%} of {total_spans}: metadata-only span "
            "restriction pays"
        )
        return rep
    # probe tier: branch-level cost dominance
    branches = list(getattr(node, "children", ()))
    costs = [_branch_cost(stats, b) for b in branches]
    if len(branches) >= 2 and costs:
        imax = max(range(len(costs)), key=lambda i: costs[i])
        cheap_cost = sum(c for i, c in enumerate(costs) if i != imax)
        cheap_rarity = min(
            (
                min(stats.df(t) for t in query_terms(b))
                if query_terms(b)
                else 0
            )
            for i, b in enumerate(branches)
            if i != imax
        )
        rep.update(
            {
                "expensive_cost": costs[imax],
                "cheap_cost": cheap_cost,
                "cheap_rarity_bound": cheap_rarity,
            }
        )
        if costs[imax] < AND_PRUNE_MIN_DF:
            rep["reason"] = "no branch expensive enough to probe around"
        elif cheap_cost == 0:
            rep["reason"] = "cheap side has no live terms"
        elif costs[imax] < PROBE_DOMINANCE * cheap_cost:
            rep["reason"] = (
                f"expensive branch ({costs[imax]} rows) does not dominate "
                f"the rest ({cheap_cost} rows): pass-1 re-decode would not "
                "amortize"
            )
        elif cheap_rarity > SPAN_CAND_MAX:
            rep["reason"] = (
                f"cheap-side candidate bound {cheap_rarity} exceeds the "
                f"broadcastable span budget {SPAN_CAND_MAX}"
            )
        else:
            rep["open"] = True
            rep["tier"] = "probe"
            rep["expensive_branch"] = imax
            rep["reason"] = (
                f"expensive branch ({costs[imax]} rows) >= "
                f"{PROBE_DOMINANCE}x cheap side ({cheap_cost} rows): "
                "probe cheap side, span-restrict the rest"
            )
        return rep
    rep["reason"] = (
        f"rarest df {dfs[0]} keeps more than {META_KEEP_MAX:.0%} of "
        f"{total_spans} spans and no dominant branch to probe around"
    )
    return rep


@dataclass
class PruningReport:
    # units are SPANS (2^SPAN_BITS-doc ranges) since the span-granularity
    # rewrite; field names kept for artifact continuity
    total_chunks: int
    kept_chunks: int
    threshold: float
    cheap_terms: list[str]


class _PrunedView:
    """SegmentIndex facade whose postings scan is restricted to ``stored``,
    the kept spans' part of the index's stored postings (``_restricted``).
    Stats (df, N) intentionally come from the FULL index — scores must not
    change under pruning.  The view carries no block metadata, so a plan
    over it never routes again."""

    def __init__(self, inner, stored: DataFrame):
        self._inner = inner
        self.stored = stored
        self.term_dict = inner.term_dict
        self.deleted = inner.deleted
        self.postings = inner.postings
        self.chunk_bits = inner.chunk_bits
        self.codec = inner.codec

    def postings_for(self, terms, with_positions: bool = True):
        from .segments import decode_segments

        return decode_segments(
            self.stored.where(F.col("term").isin(terms)),
            with_positions=with_positions, codec=self.codec,
        )

    def postings_with_payloads_for(self, terms):
        # hits/payloads must come from the FULL index: a winner doc's matched
        # terms are not restricted to the kept chunks' blocks
        return self._inner.postings_with_payloads_for(terms)

    def stats_for(self, terms):
        return self._inner.stats_for(terms)


def _restricted(
    index, terms: list[str], spans: DataFrame, span_bits: int,
    hint_broadcast: bool = True,
) -> _PrunedView:
    """The index with its postings scan restricted to the kept ``spans``.
    Native rows are restricted per doc: a row survives when its doc's span
    is kept — a broadcast semi-join on ``doc_id >> span_bits``, all in the
    JVM, and exact (every posting of a doc in a kept span survives, no
    other does).  Block codecs restrict whole blocks
    (``_blocks_restricted_to_spans``) before the decode.

    ``hint_broadcast`` forces the span-set broadcast; pass False when the
    span set has no driver-side size bound (the pruned-OR kept set — a
    mispredicted threshold at 10^12-doc geometry could keep billions of
    spans) and let AQE pick broadcast only when it measures small."""
    from .segments import CODEC_NATIVE

    if index.codec != CODEC_NATIVE:
        return _PrunedView(
            index,
            _blocks_restricted_to_spans(
                index, terms, spans, span_bits, hint_broadcast
            ),
        )
    sp = F.broadcast(spans) if hint_broadcast else spans
    rows = (
        index.stored.where(F.col("term").isin(terms))
        .withColumn("span", F.shiftright("doc_id", span_bits))
        .join(sp, "span", "left_semi")
        .drop("span")
    )
    return _PrunedView(index, rows)


def _blocks_restricted_to_spans(
    index, terms: list[str], spans: DataFrame, span_bits: int,
    hint_broadcast: bool = True,
) -> DataFrame:
    """The query terms' blocks, restricted to blocks whose
    [min_doc_id, max_doc_id] range intersects a kept span — the skiplist
    seek, batch-shaped.  The key derivation scans METADATA COLUMNS ONLY
    (parquet prunes the byte streams out of that job); per-block explode is
    bounded by spans-per-chunk (blocks never straddle an encode chunk).  The
    final semi-join moves only (term, block_id) keys; the byte streams ride
    the probe side untouched.  Over-keeping is always correct — a kept block
    whose docs all miss the rare side just decodes to rows the AND logic
    drops."""
    b = index.blocks.where(F.col("term").isin(terms))
    sp = F.broadcast(spans) if hint_broadcast else spans
    keys = (
        b.select(
            "term",
            "block_id",
            F.shiftright("min_doc_id", span_bits).alias("_s0"),
            F.shiftright("max_doc_id", span_bits).alias("_s1"),
        )
        .withColumn("span", F.explode(F.sequence("_s0", "_s1")))
        .join(sp, "span", "left_semi")
        .select("term", "block_id")
        .distinct()
    )
    # (term, block_id) can collide across segments whose doc ranges straddle
    # a chunk boundary — the semi-join then over-keeps, never drops
    return b.join(keys, ["term", "block_id"], "left_semi")


# Span sets at or below this row count are collected and re-planted as a
# literal DataFrame: the pass-2 plan becomes self-contained (no persisted
# dataset left behind per query — a long-lived session would otherwise leak
# one cached span set per probe-routed query) and the broadcast ships a
# local relation.  Above it (still bounded by the bail/gate), the span set
# stays a persisted distributed frame — Spark's LRU eviction owns it.
SPANS_LITERAL_MAX = 100_000


def _materialize_spans(span_df: DataFrame) -> tuple[DataFrame, int]:
    """(spans frame safe to embed in the pass-2 plan, measured count)."""
    spark = span_df.sparkSession
    persisted = span_df.persist()
    n = persisted.count()
    if n <= SPANS_LITERAL_MAX:
        local = [r["span"] for r in persisted.collect()]
        persisted.unpersist()
        return (
            spark.createDataFrame([(s,) for s in local], "span long"),
            n,
        )
    return persisted, n


def rare_and_topk(
    index,
    node,
    k: int = 10,
    doc_filter=None,
    similarity=None,
    report: dict | None = None,
    span_bits: int = SPAN_BITS,
):
    """Exact top-k for an AND of tokens/phrases with the block scan
    restricted at SPAN granularity (2^span_bits docs — the skiplist-seek
    analog, google_codec.cpp:146-159).  Every match must contain every
    member term of every required branch, so any branch's doc set restricts
    ALL terms' blocks.  Two tiers (decided by ``and_gate_report``, whose
    report dict is updated in place with what actually happened):

    - ``meta_span``: kept spans = spans covered by the rarest term's blocks,
      straight from block metadata.  Zero decode, zero extra Spark action —
      the span set is a broadcast subquery inside the single query job.
    - ``probe``: pass 1 evaluates the cheap branches exactly (the planner's
      DocumentsOnly path — for a phrase this measures PHRASE-level rarity,
      not member dfs); their matching docs' spans restrict pass 2.  If the
      measured spans cover > PROBE_BAIL_KEEP of the corpus the restriction
      cannot pay and the plan falls back to single-pass (pass-1 cost is
      bounded by the dominance gate at <= 1/PROBE_DOMINANCE of flat).

    The reference analog is the df-ascending lead-iterator AND
    (exec.cpp:154-170): the rare list drives, the common lists are only
    probed where it has documents."""
    from ..plans.planner import QueryPlanner

    terms = query_terms(node)  # every branch is required: any term restricts
    stats = index.stats_for(terms)
    rep = (
        report
        if report is not None
        else and_gate_report(
            stats, node, span_bits, getattr(index, "chunk_bits", 16)
        )
    )
    tier = rep.get("tier")

    if tier == "probe":
        branches = list(node.children)
        imax = rep.get(
            "expensive_branch",
            max(
                range(len(branches)),
                key=lambda i: _branch_cost(stats, branches[i]),
            ),
        )
        others = [b for i, b in enumerate(branches) if i != imax]
        cheap_node = others[0] if len(others) == 1 else And(tuple(others))
        cand = QueryPlanner(index, similarity=similarity).matching_docs(
            cheap_node, doc_filter=doc_filter
        )
        span_df = cand.select(
            F.shiftright("doc_id", span_bits).alias("span")
        ).distinct()
        spans, n_spans = _materialize_spans(span_df)
        total = max(stats.n_docs >> span_bits, 1)
        rep["probe_spans"] = n_spans
        rep["probe_keep_frac"] = round(n_spans / total, 4)
        if n_spans > PROBE_BAIL_KEEP * total:
            # measured candidate coverage too dense: restriction keeps most
            # blocks; run the always-correct single pass instead
            rep["bailed"] = True
            rep["reason"] = (
                f"probe measured {n_spans}/{total} spans "
                f"(> {PROBE_BAIL_KEEP:.0%}): restriction cannot pay; "
                "bailed to single-pass"
            )
            spans.unpersist()
            return QueryPlanner(index, similarity=similarity).plan(
                node, k, doc_filter=doc_filter, block_pruning=False
            )
        rep["bailed"] = False
        view = _restricted(
            index, terms, spans, span_bits,
            hint_broadcast=n_spans <= SPAN_CAND_MAX,
        )
        return QueryPlanner(view, similarity=similarity).plan(
            node, k, doc_filter=doc_filter, block_pruning=False
        )

    # meta_span tier: spans covered by the rarest term's blocks, metadata
    # only (a df=0 term yields an empty span set -> empty result, correct:
    # an AND containing an unknown term matches nothing)
    rarest = min(terms, key=stats.df)
    spans = (
        index.blocks.where(F.col("term") == rarest)
        .select(
            F.explode(
                F.sequence(
                    F.shiftright("min_doc_id", span_bits),
                    F.shiftright("max_doc_id", span_bits),
                )
            ).alias("span")
        )
        .distinct()
    )
    # Whether df alone guarantees the kept fraction (or the covered spans
    # must be MEASURED first — one metadata-only count, no decode) is
    # decided by and_gate_report and published as rep["meta_measures"], so
    # the collection dispatcher's pass-1 prediction can't drift from what
    # runs here.  Fallback recompute covers externally-built reports from
    # before the key existed.
    total = max(stats.n_docs >> span_bits, 1)
    if "meta_measures" not in rep:
        cb = getattr(index, "chunk_bits", 16)
        spans_per_chunk = max(1 << max(cb - span_bits, 0), 1)
        rep["meta_measures"] = stats.df(rarest) * spans_per_chunk > min(
            META_KEEP_MAX * total, float(SPAN_CAND_MAX)
        )
    # the span set rides a broadcast only while it provably fits the budget
    # (SPAN_CAND_MAX longs): at 10^12-doc geometry a within-bail span set
    # can still be billions of rows, and a forced broadcast of that is the
    # scale failure the gate exists to prevent
    hint_broadcast = True
    if rep["meta_measures"]:
        spans, n_spans = _materialize_spans(spans)
        rep["meta_spans"] = n_spans
        if n_spans > PROBE_BAIL_KEEP * total:
            rep["bailed"] = True
            rep["reason"] = (
                f"meta_span measured {n_spans}/{total} covered spans "
                f"(> {PROBE_BAIL_KEEP:.0%}): rare term's block ranges tile "
                "the corpus; bailed to single-pass"
            )
            spans.unpersist()
            return QueryPlanner(index, similarity=similarity).plan(
                node, k, doc_filter=doc_filter, block_pruning=False
            )
        rep["bailed"] = False
        hint_broadcast = n_spans <= SPAN_CAND_MAX
    view = _restricted(
        index, terms, spans, span_bits, hint_broadcast=hint_broadcast
    )
    return QueryPlanner(view, similarity=similarity).plan(
        node, k, doc_filter=doc_filter, block_pruning=False
    )


def pruned_or_topk(
    index,
    terms: list[str],
    k: int = 10,
    return_report: bool = False,
    node=None,
    span_bits: int = SPAN_BITS,
):
    """Exact top-k for the disjunction of ``terms`` with block-max pruning at
    SPAN granularity (2^span_bits docs): every doc's score is bounded by the
    sum over terms of the max block-ub among blocks covering its span, all
    from metadata; spans bounding under the pass-1 threshold are dead for
    all their docs.  Span granularity (vs the former 2^16-doc chunks)
    matters exactly like the reference's 256-doc skiplist steps
    (google_codec.cpp:146-159): at 10M docs a df=200 rare term occupies
    nearly every 65536-doc chunk (nothing prunable) but ~200 of 78k
    128-doc spans.  ``index`` must expose block metadata (SegmentIndex)."""
    from ..plans.planner import QueryPlanner

    if k < 1:
        # pass-1 peeks sub_top[-1]; k=0 has no threshold to prune against
        raise ValueError(f"k must be >= 1, got {k}")

    if node is None:
        node = Or(tuple(Token(t) for t in terms)).normalize()
    planner = QueryPlanner(index)
    stats = index.stats_for(terms)
    live = [t for t in terms if stats.df(t) > 0]
    if len(live) < 2:
        res = planner.plan(node, k, block_pruning=False)
        return (res, PruningReport(0, 0, 0.0, [])) if return_report else res

    # pass 1: T = exact k-th score of the cheap (low-df) sub-disjunction
    by_df = sorted(live, key=lambda t: stats.df(t))
    total_df = sum(stats.df(t) for t in live)
    budget = max(total_df * 0.2, stats.df(by_df[0]))
    cheap, acc = [], 0
    for t in by_df[:-1]:  # never all terms — pruning needs an expensive tail
        # keep the pass-1 scan small, but only stop once it can plausibly
        # yield k hits (fewer than k sub-matches would force T=0: no pruning)
        if acc >= k and acc + stats.df(t) > budget and cheap:
            break
        cheap.append(t)
        acc += stats.df(t)
    sub = Or(tuple(Token(t) for t in cheap)).normalize()
    sub_top = planner.plan(sub, k, block_pruning=False).collect()
    threshold = sub_top[-1]["score"] if len(sub_top) >= k else 0.0

    # Per-span upper bounds, two sources:
    # - DENSE terms (df > #spans): block METADATA — a block's ub applies to
    #   every span it covers (max_tf bounds every doc in it).  Dense terms
    #   sit in ~every span anyway, so metadata looseness costs nothing.
    # - SPARSE terms (df <= #spans): their EXACT decoded postings (a scan
    #   bounded by df, i.e. at most one row per span) — a rare term's lone
    #   block can cover hundreds of spans between two postings, and
    #   metadata bounds would tax every one of them with the rare term's
    #   huge idf, keeping spans that contain no rare doc at all (measured
    #   at 10M turns: 15004/78125 spans kept via metadata vs ~200 real).
    #   This is the reference's leapfrog made literal: decode the rare
    #   list, bound the common lists only where it has documents.
    total_spans = max(stats.n_docs >> span_bits, 1)
    sparse = [t for t in live if stats.df(t) <= min(total_spans, SPAN_CAND_MAX)]
    dense = [t for t in live if t not in sparse]
    idf_map = F.create_map(
        *[x for t in live for x in (F.lit(t), F.lit(stats.idf(t)))]
    )
    parts = []
    if dense:
        parts.append(
            index.blocks.where(F.col("term").isin(dense)).select(
                "term",
                F.explode(
                    F.sequence(
                        F.shiftright("min_doc_id", span_bits),
                        F.shiftright("max_doc_id", span_bits),
                    )
                ).alias("span"),
                (
                    idf_map[F.col("term")]
                    * (F.col("max_tf") / (F.col("max_tf") + F.lit(K1)))
                ).alias("ub"),
            )
        )
    if sparse:
        posts = index.postings_for(sparse, with_positions=False)
        parts.append(
            posts.select(
                "term",
                F.shiftright("doc_id", span_bits).alias("span"),
                (
                    idf_map[F.col("term")]
                    * (F.col("tf") / (F.col("tf") + F.lit(K1)))
                ).alias("ub"),
            )
        )
    meta = parts[0]
    for p in parts[1:]:
        meta = meta.unionByName(p)
    per_term = meta.groupBy("term", "span").agg(F.max("ub").alias("ub"))
    bounds = per_term.groupBy("span").agg(F.sum("ub").alias("bound"))
    kept = bounds.where(F.col("bound") >= F.lit(threshold)).select("span")

    view = _restricted(index, live, kept, span_bits, hint_broadcast=False)
    res = QueryPlanner(view).plan(node, k, block_pruning=False)
    if return_report:
        # one action for both counts — bounds embeds the metadata explode +
        # sparse-term decode, so counting total and kept separately would
        # re-run that pipeline twice (the pass-2 plan re-runs it once more,
        # lazily, which is unavoidable without a persist)
        row = bounds.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                (F.col("bound") >= F.lit(threshold)).cast("long")
            ).alias("kept"),
        ).collect()[0]
        return res, PruningReport(
            int(row["total"]), int(row["kept"] or 0), float(threshold), cheap
        )
    return res
