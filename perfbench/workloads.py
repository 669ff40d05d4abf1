"""The benchmark's workloads.  Each drives the engine's public API from
one client in a closed loop (the next operation starts when the previous
one returned) on one ``local[2]`` session, and checks every result.

search     seed-generated corpus, one ``build_index`` as in bench.py's
           headline, then the 18 queries of queries.jsonl in seed-shuffled
           rounds.  Selective queries cost plan construction, job scheduling
           and the Python runner floor; broad ones cost postings decode and
           aggregation.  Nothing is committed or merged while timing.
nrt_churn  writes beside reads.  One operation is a freshness cycle on a
           store restored from the same base copy every round: append a
           seed-generated micro-batch, refresh the index, query a marker
           that only this batch holds, and compact inline whenever the
           default tiered policy has work.  The commit, manifest, merge and
           refresh layers do most of the work.

Both workloads time a fixed number of whole rounds, set by ``seconds``
alone (``measure.timed_rounds``), so every run on every host and commit
times the same query mix (search) or the same compaction cycle
(nrt_churn).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from measure import (
    WriteLedger,
    compare_topk,
    file_sizes,
    read_steal_seconds,
    read_tree_cpu_seconds,
    text_bytes,
    timed_rounds,
)
from tracing import SparkWork, Tracer, self_times_ms

MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2
DRIVER_MEMORY = "2g"
K = 10
# Query passes before timing (the first one is the correctness pass).
SEARCH_WARM_PASSES = 1
# Timed rounds: one per SEARCH_SECONDS_PER_ROUND of ``seconds``, at least
# SEARCH_MIN_ROUNDS.  Three rounds (54 ops) put the p90 on 6 samples and
# dilute the first timed round, which is still warming up.
SEARCH_MIN_ROUNDS = 3
SEARCH_SECONDS_PER_ROUND = 5
SEARCH_TURNS = 50_000
NRT_BASE_TURNS = 50_000
NRT_BATCH_TURNS = 2_000
# The default tiered policy merges tier 0 at four segments, so the fourth
# append of a round is the one that compacts.
NRT_CYCLES_PER_ROUND = 4
NRT_SECONDS_PER_ROUND = 15
NRT_WARM_CYCLES = 1
# Rows of each NRT batch that carry the batch's marker token.
NRT_MARKED_ROWS = 3
QUERIES_FILE = "queries.jsonl"


class Context:
    """What a workload needs from the runner: paths, seed, timing budget,
    tracer, and the Spark session it opens."""

    def __init__(self, repo_root: str, work: str, seed: int, seconds: float,
                 tracer: Tracer):
        self.repo_root = repo_root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark = None
        self.spark_work: SparkWork | None = None
        self.host: dict[str, float] = {}

    def timed_phase(self, begin: bool) -> None:
        """Host readings at the edges of the timed phase."""
        edge = "begin" if begin else "end"
        if not begin:
            self.tracer.op = None
        self.host[f"steal_s_{edge}"] = read_steal_seconds()
        self.host[f"cpu_s_{edge}"] = read_tree_cpu_seconds()

    def open_spark(self):
        from trinity_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            "perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": tmp,
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        if self.tracer.enabled:
            self.spark_work = SparkWork(self.spark)
        return self.spark

    def op_start(self, op: int) -> None:
        self.tracer.op = op
        if self.spark_work is not None:
            t = time.perf_counter()
            self.spark_work.start()
            self.tracer.overhead_s += time.perf_counter() - t

    def op_counts(self, rec: dict | None) -> None:
        """Attach the op's exact Spark work counts to its span."""
        if self.spark_work is not None and rec is not None:
            t = time.perf_counter()
            rec.update(self.spark_work.stop())
            self.tracer.overhead_s += time.perf_counter() - t


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _open_jvm(ctx: Context) -> float:
    t0 = time.perf_counter()
    with ctx.tracer.span("setup.jvm"):
        ctx.open_spark()
    return time.perf_counter() - t0


def _gen_corpus(ctx: Context, name: str, n_turns: int) -> tuple[float, str]:
    """Write the seed's corpus as parquet; (seconds, path)."""
    from trinity_spark.fixtures import write_transcripts

    t0 = time.perf_counter()
    with ctx.tracer.span("setup.corpus"):
        corpus = write_transcripts(os.path.join(ctx.work, name), n_turns, ctx.seed)
    return time.perf_counter() - t0, corpus


def _build(ctx: Context, corpus: str, name: str, n_turns: int) -> tuple:
    """One ``build_index`` call with bench.py's headline arguments into a
    fresh store, then open it; (seconds, SegmentIndex)."""
    from trinity_spark.operators.indexer import SegmentIndex, build_index
    from trinity_spark.sources.store import SegmentStore

    spark = ctx.spark
    tr = ctx.tracer
    t0 = time.perf_counter()
    store = SegmentStore(os.path.join(ctx.work, name))
    with tr.span("build") as rec:
        metas = build_index(
            spark, spark.read.parquet(corpus), store,
            rows_per_segment=max(n_turns, 1 << 14), input_desc=corpus,
            docid_map_mode="virtual",
        )
    if rec is not None:
        rec["segment_ms"] = sum(m.metrics.get("wall_sec", 0.0) for m in metas) * 1e3
    with tr.span("index.open"):
        index = SegmentIndex(spark, store)
    with tr.span("index.first_stats"):
        index.stats_for(["error"])
    return time.perf_counter() - t0, index


def _load_texts(corpus: str):
    return pq.read_table(corpus, columns=["conv_id", "turn_idx", "text"]).to_pandas()


def _oracle_topk(corpus: str, queries: list[dict]) -> tuple[dict, int]:
    """Top-k of every query from the reference oracle, and the corpus's
    UTF-8 text bytes."""
    from trinity_spark.fixtures import docs_in_stable_order
    from trinity_spark.oracle import OracleIndex
    from trinity_spark.plans.parser import parse_query

    df = _load_texts(corpus)
    oracle = OracleIndex.build(docs_in_stable_order(df))
    want = {q["id"]: oracle.topk(parse_query(q["query"]), K) for q in queries}
    return want, text_bytes(df["text"])


def _rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _query(ctx: Context, planner, query: str, kind: str) -> list[tuple[int, float]]:
    """parse -> plan -> collect, one span each (the untraced path runs the
    same three calls)."""
    from trinity_spark.plans.parser import parse_query

    tr = ctx.tracer
    with tr.span("parse", kind=kind):
        node = parse_query(query)
    with tr.span("plan", kind=kind) as rec:
        plan = planner.plan(node, k=K)
    if rec is not None:
        rec["route"] = planner.last_route.get("path")
    with tr.span("collect", kind=kind):
        return _rows(plan)


def load_queries(repo_root: str) -> list[dict]:
    from trinity_spark.plans.ast import Token
    from trinity_spark.plans.parser import parse_query

    with open(os.path.join(repo_root, QUERIES_FILE)) as f:
        qs = [json.loads(x) for x in f if x.strip()]
    for q in qs:
        q["kind"] = "selective" if isinstance(parse_query(q["query"]), Token) else "broad"
    return qs


def run_search(ctx: Context) -> dict:
    from trinity_spark.plans.planner import QueryPlanner

    tr = ctx.tracer
    rng = random.Random(ctx.seed)
    queries = load_queries(ctx.repo_root)
    t_gen, corpus = _gen_corpus(ctx, "search_corpus", SEARCH_TURNS)
    t_jvm = _open_jvm(ctx)
    t_build, index = _build(ctx, corpus, "search_store", SEARCH_TURNS)
    planner = QueryPlanner(index)

    # correctness pass, doubling as the first warm-up pass
    expected: dict[str, list[tuple[int, float]]] = {}
    warm_walls = []
    t0 = time.perf_counter()
    for _ in range(SEARCH_WARM_PASSES):
        tp = time.perf_counter()
        for q in rng.sample(queries, len(queries)):
            with tr.span("setup.warm_query"):
                rows = _query(ctx, planner, q["query"], q["kind"])
            expected.setdefault(q["id"], rows)
        warm_walls.append(time.perf_counter() - tp)
    t_warm = time.perf_counter() - t0
    setup_s = t_gen + t_jvm + t_build + t_warm

    # the oracle is the benchmark's checker, not the program: untimed
    want, in_bytes = _oracle_topk(corpus, queries)
    wrong = {
        qid: diff for qid, rows in expected.items()
        if (diff := compare_topk(rows, want[qid]))
    }

    ops: list[dict] = []
    rounds = timed_rounds(ctx.seconds, SEARCH_SECONDS_PER_ROUND, SEARCH_MIN_ROUNDS)
    ctx.timed_phase(True)
    for round_no in range(rounds):
        for q in rng.sample(queries, len(queries)):
            n = len(ops)
            ctx.op_start(n)
            t = time.perf_counter()
            rec, op = None, {"query": q["id"]}
            try:
                with tr.span("op", kind=q["kind"]) as rec:
                    rows = _query(ctx, planner, q["query"], q["kind"])
                op["ok"] = q["id"] not in wrong and rows == expected[q["id"]]
            except Exception as e:  # counted as failed; the run goes on
                op.update(ok=False, error=repr(e))
            op["ms"] = (time.perf_counter() - t) * 1e3
            ctx.op_counts(rec)
            ops.append(op)
    ctx.timed_phase(False)
    store_bytes = sum(file_sizes(index.store.base).values())
    return {
        "ops": ops,
        "rounds": rounds,
        "work_units": len(ops),
        "setup_s": setup_s,
        "setup_parts_s": {"corpus": t_gen, "jvm": t_jvm, "build": t_build,
                          "warm": t_warm},
        "warm_pass_s": warm_walls,
        "bytes_per_input_byte": store_bytes / in_bytes,
        # the build is this workload's only write
        "write_bytes_per_input_byte": store_bytes / in_bytes,
        "checks": {"oracle_mismatches": wrong},
        "sizes": {"turns": SEARCH_TURNS, "input_text_bytes": in_bytes,
                  "store_bytes": store_bytes},
    }


def _nrt_batch(seed: int, round_no: int, i: int):
    """A seed-generated micro-batch with its own conversation ids and a
    marker token on NRT_MARKED_ROWS rows; returns (frame, marker, local
    doc ids of the marked rows in stable order)."""
    from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts

    pdf = gen_transcripts(NRT_BATCH_TURNS, seed=seed * 1000 + round_no * 37 + i)
    tag = f"r{round_no}b{i}"
    pdf["conv_id"] = "nrt-" + tag + "-" + pdf["conv_id"]
    marker = f"qqnrtmarker{round_no}x{i}"
    rows = [int(x * (len(pdf) - 1) / (NRT_MARKED_ROWS - 1)) for x in range(NRT_MARKED_ROWS)]
    for r in rows:
        pdf.at[r, "text"] = pdf.at[r, "text"] + " " + marker
    local = {d for d, t in docs_in_stable_order(pdf) if t.endswith(" " + marker)}
    return pdf, marker, local


def _restore(pristine: str, live: str) -> None:
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(pristine, live)


def run_nrt_churn(ctx: Context) -> dict:
    from trinity_spark.operators.compaction import compact, plan_compaction
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.streaming.nrt import append_micro_segment

    tr = ctx.tracer
    t_gen, corpus = _gen_corpus(ctx, "nrt_corpus", NRT_BASE_TURNS)
    t_jvm = _open_jvm(ctx)
    t_build, index = _build(ctx, corpus, "nrt_store", NRT_BASE_TURNS)
    spark = ctx.spark
    store = index.store
    live = store.base
    pristine = os.path.join(ctx.work, "nrt_pristine")

    def cycle(round_no: int, i: int, ledger: WriteLedger | None) -> dict:
        """One freshness cycle; returns its record.  Only the engine calls
        are timed: batch generation and file accounting sit between them."""
        pdf, marker, local = _nrt_batch(ctx.seed, round_no, i)
        calls = 0.0
        with tr.span("op") as rec:
            with tr.span("nrt.append"):
                meta, dt = _timed(lambda: append_micro_segment(
                    spark, store, spark.createDataFrame(pdf),
                    input_desc=f"nrt-{ctx.seed}-r{round_no}b{i}"))
            calls += dt
            if ledger is not None:
                ledger.observe()
            with tr.span("index.refresh"):
                _, dt = _timed(index.refresh)
            calls += dt
            with tr.span("nrt.query"):
                rows, dt = _timed(lambda: _query(ctx, planner, marker, "selective"))
            calls += dt
            with tr.span("store.manifest") as mrec:
                segs, dt = _timed(store.segments)
            calls += dt
            if mrec is not None:
                mrec["live_segments"] = len(segs)
            with tr.span("compaction") as crec:
                merged, dt = _timed(
                    lambda: compact(spark, store) if plan_compaction(store) else [])
            calls += dt
            if crec is not None:
                crec["merges"] = len(merged)
                crec["blocks_reused"] = sum(m.metrics.get("blocks_reused", 0) for m in merged)
                crec["blocks_reencoded"] = sum(
                    m.metrics.get("blocks_reencoded", 0) for m in merged)
        want = {meta.doc_lo + d for d in local}
        got = {d for d, _ in rows}
        return {"ms": calls * 1e3, "ok": got == want, "merges": len(merged),
                "text_bytes": text_bytes(pdf["text"]), "rec": rec}

    planner = QueryPlanner(index)
    t0 = time.perf_counter()
    with tr.span("setup.pristine_copy"):
        shutil.copytree(live, pristine)
    for i in range(NRT_WARM_CYCLES):
        with tr.span("setup.warm_cycle"):
            cycle(-1, i, None)
    _restore(pristine, live)
    index.refresh()
    t_warm = time.perf_counter() - t0
    setup_s = t_gen + t_jvm + t_build + t_warm

    ops: list[dict] = []
    written = appended = 0
    last_round_appended = 0
    rounds = timed_rounds(ctx.seconds, NRT_SECONDS_PER_ROUND, 1)
    ctx.timed_phase(True)
    for round_no in range(rounds):
        if round_no:
            _restore(pristine, live)
            index.refresh()
        ledger = WriteLedger(live)
        last_round_appended = 0
        for i in range(NRT_CYCLES_PER_ROUND):
            ctx.op_start(len(ops))
            t = time.perf_counter()
            try:
                c = cycle(round_no, i, ledger)
            except Exception as e:  # counted as failed; the run goes on
                c = {"ms": (time.perf_counter() - t) * 1e3, "ok": False,
                     "error": repr(e), "merges": 0, "text_bytes": 0, "rec": None}
            ctx.op_counts(c.pop("rec"))
            ledger.observe()
            last_round_appended += c["text_bytes"]
            ops.append(c)
        written += ledger.bytes_written
        appended += last_round_appended
    ctx.timed_phase(False)
    with tr.span("check.fsck"):
        fsck = store.fsck(spark, deep=True)
    if not fsck["ok"]:
        for o in ops:
            o["ok"] = False  # a corrupt store makes every answer suspect
    base_bytes = text_bytes(_load_texts(corpus)["text"])
    store_bytes = sum(file_sizes(live).values())
    return {
        "ops": ops,
        "rounds": rounds,
        "work_units": NRT_BATCH_TURNS * len(ops),
        "setup_s": setup_s,
        "setup_parts_s": {"corpus": t_gen, "jvm": t_jvm, "build": t_build,
                          "warm": t_warm},
        "bytes_per_input_byte": store_bytes / (base_bytes + last_round_appended),
        "write_bytes_per_input_byte": written / appended if appended else 0.0,
        "checks": {"fsck_ok": fsck["ok"], "fsck_errors": fsck.get("errors", [])},
        "sizes": {"base_turns": NRT_BASE_TURNS, "batch_turns": NRT_BATCH_TURNS,
                  "cycles_per_round": NRT_CYCLES_PER_ROUND,
                  "store_bytes": store_bytes, "bytes_written": written,
                  "bytes_appended": appended},
    }


WORKLOADS = {"search": run_search, "nrt_churn": run_nrt_churn}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# name -> unit of every per-layer metric; a layer a workload does not touch
# reports 0, which is the prediction for that workload.
LAYER_UNITS = {
    "parser.parse_ms": "ms",
    "planner.plan_ms.selective": "ms",
    "planner.plan_ms.broad": "ms",
    "planner.route.single_pass": "ratio",
    "planner.route.rare_and": "ratio",
    "planner.route.pruned_or": "ratio",
    "exec.collect_ms.selective": "ms",
    "exec.collect_ms.broad": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "scan.bytes_read_per_op": "B",
    "scan.files_read_per_op": "count",
    "index.open_ms": "ms",
    "index.first_stats_ms": "ms",
    "index.refresh_ms": "ms",
    "nrt.append_ms": "ms",
    "nrt.query_ms": "ms",
    "store.manifest_read_ms": "ms",
    "store.live_segments_mean": "count",
    "store.live_segments_max": "count",
    "compaction.compact_ms": "ms",
    "compaction.merges_per_op": "count",
    "merge.byte_reuse_ratio": "ratio",
    "build.wall_ms": "ms",
    "build.segment_ms": "ms",
    "build.docid_ms": "ms",
    "host.steal_s": "s",
    "host.cpu_s_per_op": "s",
    "trace.overhead_ms_per_op": "ms",
    "trace.op_p50_ms": "ms",
    "trace.op_self_ms": "ms",
}


def layer_metrics(tracer: Tracer, result: dict, host: dict) -> dict[str, float]:
    """Per-layer figures from the spans of a traced run: timed-phase spans
    (those with an op id) for the query, NRT, store and compaction layers,
    setup spans for the build and index-open layers."""
    timed = [s for s in tracer.spans if s["op"] is not None and s["end"] is not None]
    setup = [s for s in tracer.spans if s["op"] is None and s["end"] is not None]

    def ms(spans, name, **match):
        return [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name
                and all(s.get(k) == v for k, v in match.items())]

    ops = [s for s in timed if s["name"] == "op"]
    n_ops = len(ops)
    plans = [s for s in timed if s["name"] == "plan"]
    # a failed op leaves spans without the counts attached after its calls
    manifests = [s.get("live_segments", 0) for s in timed if s["name"] == "store.manifest"]
    compactions = [s for s in timed if s["name"] == "compaction"]
    reused = sum(s.get("blocks_reused", 0) for s in compactions)
    reencoded = sum(s.get("blocks_reencoded", 0) for s in compactions)
    builds = [s for s in setup if s["name"] == "build"]
    build_ms = [(s["end"] - s["start"]) * 1e3 for s in builds]
    seg_ms = [s["segment_ms"] for s in builds]
    op_ids = {o["id"] for o in ops}
    op_self_ms = self_times_ms(
        ops + [s for s in timed if s["parent"] in op_ids]).get("op", 0.0)
    out = {
        "parser.parse_ms": _median(ms(timed, "parse")),
        "planner.plan_ms.selective": _median(ms(timed, "plan", kind="selective")),
        "planner.plan_ms.broad": _median(ms(timed, "plan", kind="broad")),
        "exec.collect_ms.selective": _median(ms(timed, "collect", kind="selective")),
        "exec.collect_ms.broad": _median(ms(timed, "collect", kind="broad")),
        "spark.jobs_per_op": _mean([s.get("jobs", 0) for s in ops]),
        "spark.stages_per_op": _mean([s.get("stages", 0) for s in ops]),
        "spark.tasks_per_op": _mean([s.get("tasks", 0) for s in ops]),
        "scan.bytes_read_per_op": _mean([s.get("input_bytes", 0) for s in ops]),
        "scan.files_read_per_op": _mean([s.get("files_read", 0) for s in ops]),
        "index.open_ms": _median(ms(setup, "index.open")),
        "index.first_stats_ms": _median(ms(setup, "index.first_stats")),
        "index.refresh_ms": _median(ms(timed, "index.refresh")),
        "nrt.append_ms": _median(ms(timed, "nrt.append")),
        "nrt.query_ms": _median(ms(timed, "nrt.query")),
        "store.manifest_read_ms": _median(ms(timed, "store.manifest")),
        "store.live_segments_mean": _mean(manifests),
        "store.live_segments_max": max(manifests, default=0),
        "compaction.compact_ms": _median(
            [(s["end"] - s["start"]) * 1e3 for s in compactions if s.get("merges")]),
        "compaction.merges_per_op": _mean([s.get("merges", 0) for s in compactions]),
        "merge.byte_reuse_ratio": reused / (reused + reencoded) if reused + reencoded else 0.0,
        "build.wall_ms": _median(build_ms),
        "build.segment_ms": _median(seg_ms),
        "build.docid_ms": _median([w - g for w, g in zip(build_ms, seg_ms)]),
        "host.steal_s": host["steal_s_end"] - host["steal_s_begin"],
        "host.cpu_s_per_op": (host["cpu_s_end"] - host["cpu_s_begin"]) / max(n_ops, 1),
        "trace.overhead_ms_per_op": tracer.overhead_s * 1e3 / max(n_ops, 1),
        "trace.op_p50_ms": float(np.percentile([o["ms"] for o in result["ops"]], 50)),
        "trace.op_self_ms": op_self_ms / max(n_ops, 1),
    }
    for route in ("single_pass", "rare_and", "pruned_or"):
        out[f"planner.route.{route}"] = (
            sum(s.get("route") == route for s in plans) / len(plans) if plans else 0.0)
    return out
