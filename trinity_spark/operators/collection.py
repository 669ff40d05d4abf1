"""Collection execution: one query over MANY index stores.

Reference: ``exec_query`` over an ``IndexSourcesCollection`` runs each source
independently (``/root/reference/exec.h:64-81``); ``exec_query_par`` gives
each source its own thread (``exec.h:87-177``); and the APP merges the
per-source top-k results ("collecting the top-k results from every exec() and
then use merge/reduce", ``index_source.h:210-212``).  Scoring is PER SOURCE —
each source's own stats drive its idf; sources never pool df/N.  (Our
single-store ``SegmentIndex`` pools stats across its own segments, which maps
to ONE reference source's chunks; a *collection* is a set of such stores —
e.g. per-tenant or per-time-range indexes queried together.)

Spark-first: every per-store top-k is an independent DataFrame plan; the
app-side merge/reduce is a ``unionByName`` + one global
TakeOrderedAndProject.  Spark schedules the per-store stages concurrently
inside the one collect (the ``std::async`` analog without threads), and k
rows per store is all that reaches the final sort.

Plan-time stats are BATCHED: instead of each store answering its own
df/N lookup (1-2 tiny driver actions per store — ~100 sequential jobs for a
100-store collection before the one real query job), all stores' term_dict
lookups ride ONE tagged union action, and n_docs comes off the manifests
(no job) for physical stores.  Plan-time driver actions are O(1) in the
number of stores: at most one field_stats job (logical stores only) + one
df job, regardless of collection size.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.ast import query_terms
from ..plans.parser import parse_query
from ..plans.planner import IndexStats, QueryPlanner
from .indexer import SegmentIndex


class _SeededStatsIndex:
    """Planner-compatible view of an index whose per-query stats were
    precomputed by the collection's batched lookup — ``stats_for`` answers
    driver-side (zero Spark jobs); everything else delegates."""

    def __init__(self, inner, stats: IndexStats):
        self._inner = inner
        self._stats = stats

    def stats_for(self, terms):
        # `_stats` covers every term of THIS query (superset of any subset
        # the planner asks for); unknown terms correctly read df=0
        return self._stats

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _batched_stats(indexes: list, terms: list[str]) -> list[IndexStats]:
    """All stores' (n_docs, df-per-query-term) in <= 2 driver actions total.

    n_docs: physical ``SegmentIndex``es carry it from their open-time
    manifest (driver-side, free); logical indexes contribute to one tagged
    field_stats union.
    df: every index's term_dict lookup is tagged with its ordinal and
    unioned — one job, each subtree doing its own pushdown scan exactly as
    the per-store lookup would have."""
    n_docs: dict[int, int] = {}
    nd_frames: list[DataFrame] = []
    df_frames: list[DataFrame] = []
    cached_dfs: dict[int, dict[str, int]] = {}
    for i, idx in enumerate(indexes):
        if isinstance(idx, SegmentIndex):
            n_docs[i] = idx.n_docs  # read off the open-time manifest
        else:
            nd_frames.append(
                idx.field_stats.select(
                    F.lit(i).alias("src"), F.col("docs_cnt").cast("long").alias("docs_cnt")
                )
            )
        if terms:
            # a SegmentIndex whose term dictionary is already warmed
            # driver-side (stats_for's _df_cache) answers with zero Spark
            # work — only cache-miss stores join the tagged union job
            warm = getattr(idx, "_df_cache", None)
            if isinstance(warm, dict):
                cached_dfs[i] = {t: warm.get(t, 0) for t in terms}
                continue
            df_frames.append(
                idx.term_dict.where(F.col("term").isin(terms)).select(
                    F.lit(i).alias("src"), "term", F.col("df").cast("long").alias("df")
                )
            )
    if nd_frames:
        for r in (
            reduce(DataFrame.unionByName, nd_frames)
            .groupBy("src")
            .agg(F.sum("docs_cnt").alias("n"))
            .collect()
        ):
            n_docs[r["src"]] = int(r["n"] or 0)
    dfs: dict[int, dict[str, int]] = {i: {} for i in range(len(indexes))}
    dfs.update(cached_dfs)
    if df_frames:
        for r in (
            reduce(DataFrame.unionByName, df_frames)
            .groupBy("src", "term")
            .agg(F.sum("df").alias("df"))
            .collect()
        ):
            dfs[r["src"]][r["term"]] = int(r["df"])
    return [IndexStats(n_docs.get(i, 0), dfs[i]) for i in range(len(indexes))]


# At or past this store count, exec_query_collection considers the thread-
# pooled executor.  The lazy union stays optimal for GATE-CLOSED plans (one
# action; Spark overlaps all stores' stages — measured 4.6 s union vs 6.1 s
# pooled at 8 stores on a single-pass AND), so pooling only engages when a
# per-store pruning gate would OPEN: those plans run their own driver-side
# actions (probe pass-1 counts, pruned-OR thresholds) which serialize on one
# thread — a 100-store collection would pipeline poorly (exec_query_par's
# reason to exist, exec.h:87-177).
PAR_MIN_STORES = 8


def _any_gate_opens(
    indexes: list, stats_list, node, k: int, similarity=None
) -> bool:
    """Driver-side (zero Spark jobs, cached df): would any store's planner
    take a pruned route that runs its own pass-1 actions?  Delegates to the
    planner's own ``routing_decision`` — the SAME predicate ``_plan_topk``
    acts on, seeded with the collection's batched stats — so the dispatcher
    can never drift from the planner's actual routing conditions."""
    from ..plans.planner import routing_decision

    return any(
        routing_decision(
            idx, node, k, similarity=similarity, stats=stats
        )["pass1"]
        for idx, stats in zip(indexes, stats_list)
    )


def exec_query_collection_par(
    spark: SparkSession,
    stores: list,
    query,
    k: int = 10,
    similarity=None,
    max_threads: int = 8,
    _indexes: list | None = None,
    _stats: list | None = None,
) -> DataFrame:
    """``exec_query_par`` (exec.h:87-177): each store's top-k runs as its own
    Spark job from its own driver thread (FAIR-pool tagged so one slow store
    cannot starve the rest), and the app-side merge/reduce
    (index_source.h:210-212) happens driver-side over the n_stores x k
    surviving rows.  Result rows and their deterministic order (score DESC,
    source ASC, doc_id ASC) are identical to ``exec_query_collection``;
    wall-clock tracks the SLOWEST store, not the sum.

    Driver-side merge is O(n_stores x k) rows — the collection analog of
    top-k itself, independent of corpus size.

    EAGER by construction: all per-store jobs execute inside this call (that
    is the point — overlapping their driver-side pass-1 actions), and the
    returned frame is a materialized local relation, not a live view of the
    stores."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if not stores:
        raise ValueError("empty collection")
    node = parse_query(query) if isinstance(query, str) else query
    indexes = _indexes or [
        SegmentIndex(spark, st) if hasattr(st, "read_manifest") else st
        for st in stores
    ]
    stats = _stats or _batched_stats(indexes, query_terms(node))

    def run_one(i: int) -> list[tuple[int, int, float]]:
        sc = spark.sparkContext
        # localProperties are per-thread: tag this store's jobs into a pool
        sc.setLocalProperty("spark.scheduler.pool", f"collection-{i % max_threads}")
        try:
            planner = QueryPlanner(
                _SeededStatsIndex(indexes[i], stats[i]), similarity=similarity
            )
            return [
                (i, r["doc_id"], r["score"])
                for r in planner.plan(node, k=k).collect()
            ]
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    # one wrap per store: each copies the caller's local properties (job
    # group included) into its own Properties, so run_one's pool tag
    # cannot leak between concurrently running stores
    with ThreadPoolExecutor(max_workers=max_threads) as ex:
        futs = [
            ex.submit(inheritable_thread_target(spark)(run_one), i)
            for i in range(len(indexes))
        ]
        per_store = [f.result() for f in futs]
    rows = [r for part in per_store for r in part]
    rows.sort(key=lambda t: (-t[2], t[0], t[1]))
    return spark.createDataFrame(
        rows[:k], "source int, doc_id long, score double"
    )


def exec_query_collection(
    spark: SparkSession,
    stores: list,
    query,
    k: int = 10,
    similarity=None,
    documents_only: bool = False,
    pooled: bool | None = None,
) -> DataFrame:
    """Top-k over a collection of index stores.  ``stores`` may hold
    ``SegmentStore``s, ``SegmentIndex``es, or any planner-compatible index
    (duck-typed like QueryPlanner's LogicalIndex protocol).

    Returns (source int, doc_id long, score double): doc_id spaces are
    per-source (the reference's isrc spaces, index_source.h:100-114), so the
    source ordinal is part of the result identity.  Deterministic order:
    score DESC, source ASC, doc_id ASC.

    ``documents_only=True`` is ExecFlags::DocumentsOnly over the collection
    (exec.h:11-23 composed with exec.h:64-81): ALL matching (source, doc_id)
    pairs, unranked and unlimited, scorer never evaluated.

    ``pooled`` — dispatch control for the thread-pooled executor.  None
    (default) auto-dispatches: pooled only when >= PAR_MIN_STORES stores AND
    some store's pruning gate would open (the shape whose driver-side pass-1
    actions serialize on one thread).  NOTE the pooled path is EAGER: every
    store's jobs run inside THIS call and the returned frame is a small
    materialized local relation (n_stores x k rows merged driver-side) — it
    will not re-execute on later actions or observe store changes the way
    the lazy-union path does.  Pass ``pooled=False`` to force the lazy
    single-action union (deferred execution, live view of the stores),
    ``pooled=True`` to force the pooled executor."""
    if not stores:
        raise ValueError("empty collection")
    if documents_only and pooled:
        # the pooled executor is a top-k merge (n_stores x k rows);
        # documents_only is unbounded and must stay a lazy union —
        # silently dropping the caller's force flag would deliver
        # serialized execution with no signal
        raise ValueError(
            "pooled=True cannot combine with documents_only=True: the "
            "unbounded match set only supports the lazy union path"
        )
    node = parse_query(query) if isinstance(query, str) else query
    indexes = [
        SegmentIndex(spark, st) if hasattr(st, "read_manifest") else st
        for st in stores
    ]
    # ONE batched df/N lookup for the whole collection (O(1) driver actions
    # in store count), seeded into each per-store planner
    stats = _batched_stats(indexes, query_terms(node))
    if not documents_only and (
        pooled
        if pooled is not None
        else (
            len(stores) >= PAR_MIN_STORES
            and _any_gate_opens(indexes, stats, node, k, similarity)
        )
    ):
        # some store would run driver-side pass-1 actions: pipeline per
        # store so they overlap (documents_only returns ALL matches —
        # unbounded — so it must stay a lazy union, never a driver merge)
        return exec_query_collection_par(
            spark, stores, node, k, similarity,
            _indexes=indexes, _stats=stats,
        )
    frames = []
    for i, idx in enumerate(indexes):
        planner = QueryPlanner(
            _SeededStatsIndex(idx, stats[i]), similarity=similarity
        )
        if documents_only:
            frames.append(
                planner.matching_docs(node).select(
                    F.lit(i).alias("source"), "doc_id"
                )
            )
        else:
            frames.append(
                planner.plan(node, k=k).select(
                    F.lit(i).alias("source"), "doc_id", "score"
                )
            )
    merged = reduce(DataFrame.unionByName, frames)
    if documents_only:
        return merged
    return merged.orderBy(
        F.desc("score"), F.asc("source"), F.asc("doc_id")
    ).limit(k)
