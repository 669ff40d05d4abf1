"""AST -> DataFrame plan: the query compiler + "optimizer".

Reference analogs, re-expressed declaratively (SURVEY.md §3-4):

- ``compile_query`` term resolution: unknown terms fold to constfalse and the
  tree is re-normalized (``compilation_ctx.cpp:199-220,1251-1350``) — here
  ``fold_unknown`` + ``Node.normalize()`` run before any Spark op, using df
  looked up from the term dictionary (a tiny plan-time collect, O(query terms)).
- One compiler for every boolean tree (``_compile_map``; Trinity likewise
  runs every query through one docset-iterator engine, ``exec.cpp:328-423``):
  ONE postings scan + ONE hash aggregation on doc_id for the whole tree —
  AND/OR/min-match (``docset_iterators.cpp``), NOT, nesting and phrases
  alike — instead of a join chain: a single shuffle, map-side combined,
  AQE-skew-safe.  Token leaves land in per-term columns
  (``max(when(term=t, score))``); the tree's match predicate and score are
  column expressions over them, with branch scores added in FIXED
  left-to-right order so float64 sums are bit-identical to the oracle's.
  A lone token needs no aggregation (``_compile_token``).
- NOT -> a ``req AND NOT excl`` predicate over the same aggregated row
  (``docset_iterators.cpp:652-677``); ConstTrueExpr -> optional branch
  contributing ``coalesce(score, 0)`` (``docset_iterators.h:174-206``).
- Phrase (``docset_iterators.cpp:66-224``): phrase-member postings aggregate
  into a term->positions map per doc, then JVM-side adjacency: phrase freq =
  size(filter(pos_0, p -> all_i array_contains(pos_i, p+i))), with
  position-0 (word:tail operator) hits excluded.  No Python in the hot path.
- Scoring: functions.bm25 (exact similarity.h:165-235 contract); df and N are
  sums over segments (similarity.h:238-250), supplied by the index view.
- Masked docs -> LEFT ANTI join against deleted_docs (docidupdates.cpp analog).
- Top-k: ``ORDER BY score DESC, doc_id ASC LIMIT k`` — Spark's
  TakeOrderedAndProject is per-partition heaps + driver merge, exactly the
  reference's per-source exec + app-side reduce (``exec.h:64-81``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bm25 import idf_py, term_score_col
from .ast import (
    And,
    ConstTrue,
    Node,
    Not,
    Or,
    Phrase,
    Some,
    Token,
    positive_terms,
    query_terms,
)
from .parser import parse_query


@dataclass
class TermContext:
    """Per-term compile context handed to the similarity scorer — the Spark
    analog of the reference's ``term_hits``/query-term metadata a custom
    ``Similarity`` sees (matches.h:85-91): ``rep`` is the adjacent-duplicate
    collapse count (queries.cpp:509-515).  ``rewrite_source`` /
    ``translation_coefficient`` / ``src_seq_size`` carry rewrite provenance
    (``queries.h:395-418`` rewrite_ctx, collected into query_term_ctx by
    exec.cpp:553-657): None/1.0/1 for user-typed terms; for terms generated
    by ``plans.rewrite`` expansion they identify the source text and the
    min/max token-count ratio, so an app scorer can down-weight
    synonym-matched terms.  The DEFAULT scorer ignores all of these exactly
    like the reference's TrivialBM25Scorer does.

    ``n_docs`` and ``member_dfs`` expose the raw collection statistics a
    non-BM25 scorer needs (the reference hands new_scorer_weight the terms
    array and lets it resolve each term's df itself, similarity.h:110-130):
    ``member_dfs`` holds one df per member term in phrase order — a single
    token gets a 1-tuple — so e.g. the TF-IDF scorer can sum ITS OWN idf
    formula over members instead of consuming the pre-summed BM25 ``idf``."""

    term: str
    idf: float
    df: int
    rep: int = 1
    rewrite_source: str | None = None
    translation_coefficient: float = 1.0
    src_seq_size: int = 1
    n_docs: int = 0
    member_dfs: tuple[int, ...] = ()


def _rw(ctx: TermContext, node) -> TermContext:
    rw = getattr(node, "rewrite", None)
    if rw is not None:
        ctx.rewrite_source = rw.src
        ctx.translation_coefficient = rw.translation_coefficient
        ctx.src_seq_size = rw.src_seq_size
    return ctx


def default_similarity(ctx: TermContext, freq):
    """The frozen BM25 contract (functions/bm25.py; similarity.h:165-235)."""
    return term_score_col(ctx.idf, freq)


HITS_TYPE = "array<struct<term:string,tf:int,positions:array<int>>>"
HITS_PAYLOAD_TYPE = (
    "array<struct<term:string,tf:int,positions:array<int>,payloads:array<bigint>>>"
)


@dataclass
class IndexStats:
    n_docs: int
    df_by_term: dict[str, int]

    def df(self, term: str) -> int:
        return self.df_by_term.get(term, 0)

    def idf(self, term: str) -> float:
        return idf_py(self.df(term), self.n_docs)


class LogicalIndex:
    """Index view over logical postings (term, doc_id, tf, positions) +
    term_dict (term, df, cf) + field_stats.  Multi-segment views pass
    pre-unioned frames; stats are summed here (similarity.h:238-250)."""

    def __init__(
        self,
        postings: DataFrame,
        term_dict: DataFrame,
        field_stats: DataFrame,
        deleted: DataFrame | None = None,
    ):
        self.postings = postings
        self.term_dict = term_dict
        self.field_stats = field_stats
        self.deleted = deleted

    def postings_for(
        self, terms: list[str], with_positions: bool = True
    ) -> DataFrame:
        # isin -> parquet/Iceberg predicate pushdown does the "term seek";
        # logical postings are already materialized, so with_positions only
        # narrows the projection (the physical pruning lives in SegmentIndex)
        cols = ["term", "doc_id", "tf"] + (
            ["positions"] if with_positions else []
        )
        return self.postings.where(F.col("term").isin(terms)).select(*cols)

    def stats_for(self, terms: list[str]) -> IndexStats:
        n_docs = self.field_stats.agg(F.sum("docs_cnt")).collect()[0][0] or 0
        if terms:
            rows = (
                self.term_dict.where(F.col("term").isin(terms))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .collect()
            )
        else:
            rows = []
        return IndexStats(int(n_docs), {r["term"]: int(r["df"]) for r in rows})


def fold_unknown(node: Node, known: set[str]) -> Node | None:
    """Unknown terms -> constfalse, then re-normalize (compile pass analog)."""
    if isinstance(node, Token):
        return node if node.term in known else None
    if isinstance(node, Phrase):
        return node if all(t in known for t in node.terms) else None
    if isinstance(node, And):
        kids = [fold_unknown(c, known) for c in node.children]
        # a required false branch kills the AND; optional false branch drops
        out = []
        for orig, k in zip(node.children, kids):
            if k is None:
                if isinstance(orig, ConstTrue):
                    continue
                return None
            out.append(k)
        return And(tuple(out), node.strict).normalize() if out else None
    if isinstance(node, Or):
        kids = [k for k in (fold_unknown(c, known) for c in node.children) if k is not None]
        return Or(tuple(kids)).normalize() if kids else None
    if isinstance(node, Some):
        kids = [k for k in (fold_unknown(c, known) for c in node.children) if k is not None]
        if len(kids) < node.k:
            return None
        return Some(tuple(kids), node.k).normalize() if kids else None
    if isinstance(node, Not):
        req = fold_unknown(node.req, known)
        if req is None:
            return None
        excl = fold_unknown(node.excl, known)
        return Not(req, excl) if excl is not None else req
    if isinstance(node, ConstTrue):
        c = fold_unknown(node.child, known)
        return ConstTrue(c) if c is not None else None
    raise TypeError(type(node))


def _phrase_member_terms(node: Node) -> set[str]:
    """Terms whose POSITIONS a phrase actually consumes.  Every other query
    term needs only (doc_id, tf), so its blocks' pos_bytes stream — the
    largest of the three (lucene_codec.cpp:240-304 keeps positions apart
    from docs/freqs for exactly this skip) — is never read for it."""
    if isinstance(node, Phrase):
        return set(node.terms)
    if isinstance(node, (And, Or, Some)):
        out: set[str] = set()
        for c in node.children:
            out |= _phrase_member_terms(c)
        return out
    if isinstance(node, Not):
        return _phrase_member_terms(node.req) | _phrase_member_terms(node.excl)
    if isinstance(node, ConstTrue):
        return _phrase_member_terms(node.child)
    return set()


def routing_decision(
    index,
    node: Node | None,
    k: int,
    doc_filter: DataFrame | None = None,
    similarity=None,
    stats=None,
) -> dict:
    """The planner's pruned-route predicate, in ONE place — shared by
    ``QueryPlanner._plan_topk`` (which acts on it) and the collection
    dispatcher (``exec_query_collection``'s pooled-vs-lazy-union choice,
    which only needs to know whether a store would run driver-side pass-1
    actions).  Driver-side and Spark-job-free: gate inputs come from the
    index's cached df/N stats (pass ``stats`` to seed them, e.g. from the
    collection's batched lookup).

    Returns ``{"route": "pruned_or"|"rare_and"|None, "gate": dict|None,
    "terms": list[str], "pass1": bool}``.  ``gate`` is None when the node
    shape never reaches a gate (so the caller leaves ``last_route`` at its
    single-pass default); ``pass1`` is True only for routes that submit
    extra driver-side jobs before the main plan — the pruned-OR threshold
    collect, the AND probe tier, and the meta_span tier when it must
    measure its covered spans (a persist+count action) rather than trust
    the rarest term's df bound."""
    routable = (
        isinstance(node, Or)
        and all(isinstance(c, Token) for c in node.children)
    ) or (
        # AND: phrases restrict too — every match contains every member
        # term of every required branch (the q_skew `stopword AND "rare
        # phrase"` shape)
        isinstance(node, And)
        and all(isinstance(c, (Token, Phrase)) for c in node.children)
    )
    none = {"route": None, "gate": None, "terms": [], "pass1": False}
    if node is None or not routable or getattr(index, "blocks", None) is None:
        return none
    from ..operators.topk import and_gate_report, or_gate_report

    terms = (
        [c.term for c in node.children]
        if isinstance(node, Or)
        else query_terms(node)
    )
    if stats is None:
        # driver-side df cache (SegmentIndex) — no Spark job after the
        # first query
        stats = index.stats_for(terms)
    if isinstance(node, Or):
        if (
            k >= 1  # k=0 has no pruning threshold; single pass
            and doc_filter is None
            and similarity is None  # the span bound is BM25-shaped
            # duplicate term strings (e.g. 'a a OR a OR b' survives
            # normalize as two a-branches) would double-count in the
            # scorer while the span bound single-counts — and the
            # pruned path's idf map would hit a duplicate key; route
            # such queries through the always-correct single pass
            and len(set(terms)) == len(terms)
        ):
            rep = or_gate_report(stats, terms, k)
            return {
                "route": "pruned_or" if rep["open"] else None,
                "gate": dict(rep, type="or_block_max"),
                "terms": terms,
                "pass1": bool(rep["open"]),
            }
        return dict(none, terms=terms)
    if k < 1:
        # k=0 returns nothing; routing rare_and would pay eager pass-1
        # Spark jobs (probe materialization) for a guaranteed-empty page —
        # mirror the OR branch's k >= 1 guard
        return dict(none, terms=terms)
    rep = and_gate_report(stats, node, chunk_bits=getattr(index, "chunk_bits", 16))
    return {
        "route": "rare_and" if rep["open"] else None,
        "gate": dict(rep, type="and_span_restrict"),
        "terms": terms,
        # pass-1 driver actions: the probe tier always, and the meta_span
        # tier when it must MEASURE its covered spans (rep["meta_measures"],
        # published by and_gate_report — the same bit the executor acts on)
        "pass1": bool(
            rep["open"]
            and (rep.get("tier") == "probe" or rep.get("meta_measures"))
        ),
    }


class QueryPlanner:
    def __init__(self, index: LogicalIndex, similarity=None):
        """``similarity(ctx: TermContext, freq: Column) -> Column`` overrides
        the scorer (the Similarity extension seam, similarity.h:22-41); the
        default is the exact reference BM25 contract.  Custom scorers see
        ``ctx.rep``."""
        self.index = index
        self.similarity = similarity
        # routing decision of the LAST plan() call — {"path": ..., "gate":
        # {...}} — so benchmarks/operators can PROVE "gate closed, identical
        # single-pass plan" instead of readers inferring it from walls
        self.last_route: dict = {"path": None, "gate": None}

    def _scan_postings(self, node: Node, qts: list[str]) -> DataFrame:
        """The query's one logical postings frame, with the position stream
        decoded ONLY for phrase-member terms: a ``stopword AND "a phrase"``
        query must not read the stopword's pos_bytes (the largest stream).
        Plain-token terms scan without the column — parquet prunes it and
        the decoder skips the position parse — and re-enter the shared
        frame with a NULL positions column; the phrase map aggregation only
        ever collects member terms' rows, so the NULLs are never read."""
        members = _phrase_member_terms(node)
        with_pos = sorted(t for t in qts if t in members)
        plain = sorted(t for t in qts if t not in members)
        if not with_pos:
            return self.index.postings_for(qts, with_positions=False)
        if not plain:
            return self.index.postings_for(qts, with_positions=True)
        pos_part = self.index.postings_for(with_pos, with_positions=True)
        flat_part = self.index.postings_for(plain, with_positions=False)
        flat_part = flat_part.withColumn(
            "positions", F.lit(None).cast("array<int>")
        )
        return pos_part.unionByName(flat_part)

    def plan(
        self,
        query: str | Node,
        k: int = 10,
        doc_filter: DataFrame | None = None,
        block_pruning: bool = True,
        with_hits: bool = False,
        with_payloads: bool = False,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Compile to a DataFrame (doc_id long, score double), top-k ordered
        by score DESC, doc_id ASC (the mandatory deterministic tie-break).

        ``after=(score, doc_id)`` pages the result: return the next ``k``
        docs STRICTLY after that cursor in the global (score desc, doc_id
        asc) order — stable deep paging without re-fetching (or even
        materializing) a growing prefix, the search_after idiom.  Pass the
        last row of the previous page verbatim (its raw float64 score —
        scores are deterministic re-run to re-run, so the cursor filter is
        exact).  Cursor queries route single-pass: the block-max pruning
        bound is shaped for the top of the list, not an arbitrary cursor
        depth (recorded in ``last_route``).

        ``doc_filter`` (a DataFrame with a doc_id column) is the app-supplied
        document pre-filter (IndexDocumentsFilter, matches.h:188-201):
        only docs in it can match — applied as a semi-join before top-k.

        When the index exposes block metadata, a plain-token disjunction or
        conjunction is routed through a pruned plan (operators/topk.py —
        provably identical result, skips dead chunks) — but ONLY when the
        driver-side cost gate says the skipped decode work exceeds the fixed
        pruning overhead (the reference's skip-only-when-it-pays economics,
        lucene_codec.cpp:596-660).  Small-df queries stay single-pass.

        ``with_hits=True`` appends a ``hits`` column —
        array<struct<term, tf, positions>> of the doc's matched positive
        terms (the consider(matched_document&) surface,
        queryexec_ctx.cpp:317-352 / matches.h:76-108) — so snippet/proximity
        consumers never re-join postings by hand.  ``with_payloads=True``
        additionally surfaces each hit's per-occurrence payload stream
        (runtime.h:8-20 term_hit.payload, materialized per match in
        queryexec_ctx.cpp:317-352) — read for winner docs only, so the
        pay_bytes column never touches the scoring scan."""
        node = parse_query(query) if isinstance(query, str) else query
        self.last_route = {"path": "single_pass", "gate": None}
        if after is not None:
            # cursor queries bypass the pruned routes: the block-max bound
            # is shaped for the top of the list, not an arbitrary depth
            self.last_route = {
                "path": "single_pass",
                "gate": {
                    "type": "search_after",
                    "open": False,
                    "reason": "cursor paging routes single-pass (pruning "
                    "bound is top-of-list-shaped)",
                },
            }
            block_pruning = False
        top = self._plan_topk(node, k, doc_filter, block_pruning, after=after)
        if with_hits:
            top = self.attach_hits(top, node, with_payloads=with_payloads)
        return top

    def _plan_topk(
        self,
        node: Node | None,
        k: int,
        doc_filter: DataFrame | None,
        block_pruning: bool,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        if block_pruning:
            # the routing predicate lives in routing_decision (shared with
            # the collection dispatcher so the two can never drift)
            dec = routing_decision(
                self.index, node, k, doc_filter, self.similarity
            )
            if dec["gate"] is not None:
                self.last_route = {
                    "path": dec["route"] or "single_pass",
                    "gate": dec["gate"],
                }
            if dec["route"] == "pruned_or":
                from ..operators.topk import pruned_or_topk

                return pruned_or_topk(self.index, dec["terms"], k, node=node)
            if dec["route"] == "rare_and":
                from ..operators.topk import rare_and_topk

                # containment-based — valid under any similarity.  The
                # gate dict is updated in place with what actually
                # happened (probe span counts, bail), so last_route is
                # the runtime record, not just the prediction.
                out = rare_and_topk(
                    self.index, node, k, doc_filter,
                    similarity=self.similarity, report=dec["gate"],
                )
                if dec["gate"].get("bailed"):
                    self.last_route["path"] = "single_pass"
                return out
        scored = self.score_all(node)
        if doc_filter is not None:
            scored = scored.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
        if after is not None:
            s, d = float(after[0]), int(after[1])
            scored = scored.where(
                (F.col("score") < F.lit(s))
                | ((F.col("score") == F.lit(s)) & (F.col("doc_id") > F.lit(d)))
            )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def attach_hits(
        self, topk: DataFrame, node: Node | None, with_payloads: bool = False
    ) -> DataFrame:
        """Append the ``hits`` column to any (doc_id, score) result frame —
        public so callers with custom top-k pipelines (rounding, re-ranking)
        can reuse the matched-terms surface.  ``with_payloads=True`` adds each
        hit's ``payloads array<long>`` (parallel to positions; empty for hits
        indexed without payloads), decoded from the physical pay_bytes stream
        for winner docs only."""
        empty_hits = F.from_json(
            F.lit("[]"), HITS_PAYLOAD_TYPE if with_payloads else HITS_TYPE
        )
        if node is None:
            return topk.withColumn("hits", empty_hits)
        # topk is referenced TWICE below (the winner-id semi-join build side
        # and the final join) and there is no reusable exchange above a
        # TakeOrderedAndProject — without a cut, one collect would execute
        # the whole scoring/top-k pipeline twice.  k rows: materialize once.
        topk = topk.localCheckpoint(eager=False)
        terms = positive_terms(node)
        if with_payloads:
            pf = getattr(self.index, "postings_with_payloads_for", None)
            if pf is not None:
                postings = pf(terms)
            else:
                postings = self.index.postings_for(terms)
                if "payloads" not in postings.columns:
                    postings = postings.withColumn(
                        "payloads", F.array().cast("array<long>")
                    )
            struct_cols = ("term", "tf", "positions", "payloads")
        else:
            postings = self.index.postings_for(terms)
            struct_cols = ("term", "tf", "positions")
        # k is tiny: broadcast the winner ids, collect their matched postings
        hits = (
            postings.join(F.broadcast(topk.select("doc_id")), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(*struct_cols))
                ).alias("hits")
            )
        )
        return (
            topk.join(hits, "doc_id", "left")
            .select(
                "doc_id", "score", F.coalesce(F.col("hits"), empty_hits).alias("hits")
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def attach_snippets(
        self,
        hit_rows: DataFrame,
        docs: DataFrame,
        node: Node | str | None = None,
        window: int = 5,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Append a ``snippet`` column to a ``plan(with_hits=True)`` result:
        the token window (±``window``) around the anchor position of each
        winner doc — the app-layer highlighting the reference's materialized
        per-match hits exist for (``runtime.h:8-20``,
        ``queryexec_ctx.cpp:317-352``; Trinity leaves rendering to the app).

        Anchor: when ``node`` (the query) is passed and contains phrases, the
        first ACTUAL phrase-match position (re-derived from the hits' per-term
        position lists with the same adjacency test the engine matched with);
        otherwise the first matched term position.  All JVM-side: winners
        broadcast into the docs scan, the doc is re-tokenized with the frozen
        tokenizer, and the snippet is an array slice around the hit slot (hit
        positions ARE slot indices, so alignment is exact — including around
        positionless operator tokens, which occupy their slot).
        Position-0-only matches fall back to the document head."""
        from ..tokenizer import tokens_column

        # same double-reference shape as attach_hits: cut so the upstream
        # scoring pipeline (usually a with_hits plan) executes once
        hit_rows = hit_rows.localCheckpoint(eager=False)
        winners = docs.join(
            F.broadcast(hit_rows.select(F.col("doc_id").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        ).select(F.col(id_col).alias("doc_id"), tokens_column(F.col(text_col)).alias("_toks"))
        anchors = []
        if node is not None:
            node = parse_query(node) if isinstance(node, str) else node
            phrases: list[Phrase] = []

            def walk(n: Node) -> None:
                if isinstance(n, Phrase):
                    phrases.append(n)
                elif isinstance(n, (And, Or, Some)):
                    for c in n.children:
                        walk(c)
                elif isinstance(n, Not):
                    walk(n.req)  # exclusion side never matched
                elif isinstance(n, ConstTrue):
                    walk(n.child)

            walk(node)
            if phrases:
                m = F.map_from_entries(
                    F.transform(
                        F.col("hits"),
                        lambda h: F.struct(
                            h["term"].alias("key"), h["positions"].alias("value")
                        ),
                    )
                )
                for ph in phrases:
                    pos = lambda t: F.element_at(m, t)  # noqa: E731
                    cond = lambda p: reduce(  # noqa: E731
                        lambda a, b: a & b,
                        [p > 0]
                        + [
                            F.array_contains(pos(t), p + F.lit(i))
                            for i, t in enumerate(ph.terms)
                            if i > 0
                        ],
                    )
                    anchors.append(
                        F.array_min(F.filter(pos(ph.terms[0]), cond))
                    )
        first_pos = F.array_min(
            F.filter(
                F.flatten(F.col("hits.positions")), lambda p: p > 0
            )
        )
        anchor = F.coalesce(*anchors, first_pos, F.lit(1))
        start = F.greatest(anchor - window, F.lit(1))
        return (
            hit_rows.join(winners, "doc_id", "left")
            .withColumn(
                "snippet",
                F.concat_ws(
                    " ", F.slice(F.coalesce(F.col("_toks"), F.array()), start, 2 * window + 1)
                ),
            )
            .drop("_toks")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def matching_docs(
        self, query: str | Node, doc_filter: DataFrame | None = None
    ) -> DataFrame:
        """ExecFlags::DocumentsOnly (``/root/reference/exec.h:11-23``): the
        matching document IDs and nothing else — "just count or collect
        documents matching a query".  Cheaper than ``score_all``: similarity
        is never evaluated, no score columns ride the shuffle, and a single
        token needs NO aggregation at all (postings rows are already unique
        per (term, doc_id)).  Stats are consulted only for unknown-term
        folding."""
        node = parse_query(query) if isinstance(query, str) else query
        spark = self.index.postings.sparkSession
        empty = spark.createDataFrame([], "doc_id long")
        if node is None:
            return empty
        terms = query_terms(node)
        stats = self.index.stats_for(terms)
        node = fold_unknown(node, {t for t in terms if stats.df(t) > 0})
        if node is None:
            return empty
        self._stats = stats
        qts = query_terms(node)
        self._postings = self._scan_postings(node, qts)
        if isinstance(node, Token):
            out = self._postings.where(F.col("term") == node.term).select("doc_id")
        else:
            out = self._compile_map(node, docs_only=True)
        if self.index.deleted is not None:
            out = out.join(self.index.deleted, "doc_id", "left_anti")
        if doc_filter is not None:
            out = out.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
        return out

    def score_all(self, query: str | Node) -> DataFrame:
        """All matching docs with scores, no ordering/limit (the full
        MatchedIndexDocumentsFilter::consider stream, matches.h:139-186)."""
        node = parse_query(query) if isinstance(query, str) else query
        spark = self.index.postings.sparkSession
        empty = spark.createDataFrame([], "doc_id long, score double")
        if node is None:
            return empty
        terms = query_terms(node)
        stats = self.index.stats_for(terms)
        node = fold_unknown(node, {t for t in terms if stats.df(t) > 0})
        if node is None:
            return empty
        self._stats = stats
        # one logical postings frame, pushed-down to the live terms, reused
        # by all branches; positions (the largest stream) are decoded only
        # for the terms a phrase consumes — plain tokens run docs/freqs-only
        # even when a phrase appears elsewhere in the same tree
        qts = query_terms(node)
        self._postings = self._scan_postings(node, qts)
        if isinstance(node, Token):
            # a single term needs no aggregation: postings rows are already
            # unique per (term, doc_id)
            scored = self._compile_token(node)
        else:
            # every boolean tree: ONE scan + ONE doc_id agg evaluates the
            # whole tree (n-ary, phrases, NOT, nesting)
            scored = self._compile_map(node)
        if self.index.deleted is not None:
            scored = scored.join(self.index.deleted, "doc_id", "left_anti")
        return scored

    # --- the boolean-tree compiler -----------------------------------------
    #
    # Every tree that is not a lone token compiles here (after fold_unknown
    # every leaf is a Token or a Phrase): aggregate each doc's matched
    # postings ONCE, then evaluate the whole boolean tree (match predicate +
    # left-to-right float64 score sum, the docset_iterators_scorers.cpp:8-243
    # contract) as pure JVM column expressions.  `error OR timeout` is one
    # MapInArrow decode + one hash aggregation over (doc_id, s{i}, p{i});
    # `("rate limit" OR throttle) AND api NOT sandbox` is the same plus a
    # positioned decode for the phrase members — no per-branch aggregations,
    # no anti-join exchange.
    #
    # HYBRID aggregation (measured: a pure collect_list map agg was ~2x
    # slower on stopword-heavy trees — ObjectHashAggregate builds per-row
    # structs for every posting): token leaves aggregate as narrow
    # ``max(when(term=t, score))`` columns, and ONLY phrase-member terms enter
    # the term->positions map (collect_list skips the nulls of non-member
    # rows), so the object-agg payload is bounded by the phrase members'
    # (usually rare) postings, and a tree with no phrase builds no map.

    def _compile_map(self, node: Node, docs_only: bool = False) -> DataFrame:
        phrase_members: set[str] = set()
        token_leaves: list[Token] = []  # distinct by (term, rep, rewrite)

        def walk(n: Node) -> None:
            if isinstance(n, Token):
                if n not in token_leaves:
                    token_leaves.append(n)
            elif isinstance(n, Phrase):
                phrase_members.update(n.terms)
            elif isinstance(n, (And, Or, Some)):
                for c in n.children:
                    walk(c)
            elif isinstance(n, Not):
                walk(n.req)
                walk(n.excl)
            elif isinstance(n, ConstTrue):
                walk(n.child)

        walk(node)
        sim = self.similarity or default_similarity
        aggs = []
        tokcols: dict[Token, int] = {}
        for i, tok in enumerate(token_leaves):
            tokcols[tok] = i
            ctx = _rw(
                TermContext(
                    tok.term, self._stats.idf(tok.term),
                    self._stats.df(tok.term), tok.rep,
                    n_docs=self._stats.n_docs,
                    member_dfs=(self._stats.df(tok.term),),
                ),
                tok,
            )
            cond = F.col("term") == tok.term
            if not docs_only:
                aggs.append(
                    F.max(F.when(cond, sim(ctx, F.col("tf")))).alias(f"s{i}")
                )
            # presence separately: a custom similarity may legally score 0/null
            aggs.append(F.max(F.when(cond, F.lit(1))).alias(f"p{i}"))
        if phrase_members:
            # map value is the positions array ALONE: phrase evaluation reads
            # only positions (pf feeds the score; member tfs are never used),
            # so carrying tf in the object-agg payload was pure dead weight
            entry = F.when(
                F.col("term").isin(sorted(phrase_members)),
                F.struct(
                    F.col("term").alias("key"),
                    F.col("positions").alias("value"),
                ),
            )
            # collect_list drops nulls: non-member rows add nothing
            aggs.append(F.map_from_entries(F.collect_list(entry)).alias("m"))
        g = self._postings.groupBy("doc_id").agg(*aggs)
        self._tokcols = tokcols
        present, score = self._map_expr(
            node, F.col("m") if phrase_members else None, docs_only
        )
        if docs_only:  # ExecFlags::DocumentsOnly: ids, nothing else
            return g.where(present).select("doc_id")
        return g.where(present).select("doc_id", score.alias("score"))

    def _map_expr(self, node: Node, m, docs_only: bool):
        """(present bool Column, score double Column) for ``node`` evaluated
        against the hybrid aggregation frame: token leaves read their
        (s{i}, p{i}) columns, phrases read the member-term map ``m``.
        ``present`` is never NULL; score columns are only consumed under a
        matching ``present`` guard.  Under ``docs_only`` (DocumentsOnly) the
        frame has no s{i} columns and every score is a constant 0.0."""
        sim = self.similarity or default_similarity
        if isinstance(node, Token):
            i = self._tokcols[node]
            if docs_only:
                return F.col(f"p{i}").isNotNull(), F.lit(0.0)
            return F.col(f"p{i}").isNotNull(), F.col(f"s{i}")
        if isinstance(node, Phrase):
            idf = 0.0
            for t in node.terms:  # fixed phrase-order float64 sum
                idf += self._stats.idf(t)
            pos = lambda t: F.element_at(m, t)  # noqa: E731
            # (p > 0): position-0 hits (word:tail operators) never anchor a
            # phrase — the codecs.h:191-195 positionless contract
            cond = lambda p: reduce(  # noqa: E731
                lambda a, b: a & b,
                [p > 0]
                + [
                    F.array_contains(pos(t), p + F.lit(i))
                    for i, t in enumerate(node.terms)
                    if i > 0
                ],
            )
            pf = F.size(F.filter(pos(node.terms[0]), cond))
            have_all = reduce(
                lambda a, b: a & b,
                [F.element_at(m, t).isNotNull() for t in sorted(set(node.terms))],
            )
            if docs_only:
                return have_all & (pf > 0), F.lit(0.0)
            ctx = _rw(
                TermContext(
                    " ".join(node.terms),
                    idf,
                    min(self._stats.df(t) for t in node.terms),
                    1,
                    n_docs=self._stats.n_docs,
                    member_dfs=tuple(self._stats.df(t) for t in node.terms),
                ),
                node,
            )
            return have_all & (pf > 0), sim(ctx, pf)
        if isinstance(node, And):
            parts = []
            req_present = []
            for c in node.children:
                if isinstance(c, ConstTrue):
                    p, s = self._map_expr(c.child, m, docs_only)
                    parts.append(F.coalesce(F.when(p, s), F.lit(0.0)))
                else:
                    p, s = self._map_expr(c, m, docs_only)
                    req_present.append(p)
                    # coalesce: a custom similarity may legally return NULL
                    # for a matched row, which must contribute 0.0, not
                    # nullify the total
                    parts.append(F.coalesce(F.when(p, s), F.lit(0.0)))
            if not req_present:  # all-optional AND matches nothing (oracle)
                return F.lit(False), F.lit(0.0)
            present = reduce(lambda a, b: a & b, req_present)
            return present, reduce(lambda a, b: a + b, parts)
        if isinstance(node, (Or, Some)):
            ps = [self._map_expr(c, m, docs_only) for c in node.children]
            score = reduce(
                lambda a, b: a + b,
                [F.coalesce(F.when(p, s), F.lit(0.0)) for p, s in ps],
            )
            if isinstance(node, Some):
                matched = reduce(
                    lambda a, b: a + b, [p.cast("int") for p, _ in ps]
                )
                # k < 1 degenerates to Or (oracle: docs = union of child
                # matches); without the clamp 'matched >= 0' admits docs in
                # the frame that match no branch at all
                return matched >= max(node.k, 1), score
            return reduce(lambda a, b: a | b, [p for p, _ in ps]), score
        if isinstance(node, Not):
            p_req, s_req = self._map_expr(node.req, m, docs_only)
            p_excl, _ = self._map_expr(node.excl, m, docs_only)
            return p_req & ~p_excl, s_req
        if isinstance(node, ConstTrue):
            # outside an AND an optional matches nothing by itself (oracle)
            return F.lit(False), F.lit(0.0)
        raise TypeError(type(node))

    def _compile_token(self, node: Token) -> DataFrame:
        ctx = _rw(
            TermContext(
                node.term,
                self._stats.idf(node.term),
                self._stats.df(node.term),
                node.rep,
                n_docs=self._stats.n_docs,
                member_dfs=(self._stats.df(node.term),),
            ),
            node,
        )
        score = (self.similarity or default_similarity)(ctx, F.col("tf"))
        return self._postings.where(F.col("term") == node.term).select(
            "doc_id", score.alias("score")
        )
