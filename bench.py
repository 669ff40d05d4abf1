#!/usr/bin/env python
"""Headline benchmark: index-build throughput + BM25 query latency + scaling.

Prints ONE JSON line (headline, <1 KB so no log-tail capture can cut it):
  {"metric": "index_build_plus_queryset_sec", "value": N, "unit": "sec",
   "sf": F, "queries": {qid: cold_sec, ...}, "query_p50_sec": p,
   "query_p50_warm_sec": w, "build_turns_per_sec": r,
   "scaling_efficiency": e, "detail_file": "bench_result.json"}
The FULL result object (raw walls, steal forensics, per-query routed paths,
merge / gate / codec / XL / dataops / embedding sections) is written to
``bench_result.json`` next to this file — that file is the evidence of
record; stdout is only the headline.
Warm query walls are each the median of 3 same-session runs (steal-robust).

The corpus is the deterministic synthetic transcript table (BASELINE.json
input_hint shape), sized from the sf directory name (sf0.1 -> 200k turns).
Scaling evidence (north rule, sandbox proxy): the SAME build job runs in two
fresh JVMs at local[N] vs local[4N] on the SAME input (default pair (1,4) —
the least steal-distorted proxy on this host, see SCALING_PAIR below;
TRINITY_SCALING_PAIR overrides); per-pair efficiency =
throughput_4N / (4 * throughput_N), headline = median over back-to-back
pairs.  After a FULL window (scaling measured)
BENCH.md + BASELINE.md are regenerated from bench_result.json by
scripts/regen_bench_docs.py — the docs' single owner; smoke runs (scaling
skipped) never touch the published docs.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     TRINITY_BENCH_SCALING=0 to skip the scaling subprocesses,
     TRINITY_BENCH_CODEC=1 to add a varbyte-vs-PFOR wire A/B section
     (same corpus built at both codecs: build wall, warm query walls,
     postings bytes on disk — the evidence behind the default-codec choice),
     TRINITY_BENCH_XL=1 to add the 10M-turn headroom section,
     TRINITY_BENCH_DATAOPS=1 to add the 1M-doc LLM-dataops throughput
     section (substring dedup / span removal / curate / percolation;
     TRINITY_BENCH_DATAOPS_DOCS overrides the doc count),
     TRINITY_BENCH_EMB=1 to add the 1M-vector embedding-ops section
     (Arrow matrix assignment, Gram-matrix semantic dedup, LSH cosine
     pairs; TRINITY_BENCH_EMB_VECS overrides the vector count).
Measured optional sections are cached to bench_codec_ab.json /
bench_xl.json / bench_dataops.json / bench_embeddings.json and re-rendered
(marked "cached") by later default-env runs, so a plain `python bench.py`
never erases previously measured codec/XL/dataops/embedding evidence from
the result object or the regenerated docs.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TURNS_PER_SF = 10_000_000  # sf0.1 -> 1M turns (headline build + query set)
# Scaling study uses a FIXED larger corpus regardless of sf: the N-vs-4N
# efficiency criterion needs the parallel fraction to dominate fixed costs.
# 8M turns: the per-JOB one-time phases (docid assignment ~9 s, manifest
# commit ~4 s — driver-latency-bound, near-constant across core counts)
# must sit in the same proportion they would at the 10^12-turn target,
# where the segment encode phase repeats ~1000x and those phases amortize
# to noise.  At 3M turns they were ~13% of the 4-core wall and capped
# measurable total-job efficiency at ~0.84 even in a steal-free window
# (segment phase alone: 0.91); at 8M turns the encode fraction matches the
# deployment regime and the same machine measures the honest number
# (measured 2026-08-20: 0.998 median of 5 pairs, per-pair spread
# 0.92-1.09, vs 0.79 median at the 3M unit in the same quiet window).
SCALING_TURNS = int(os.environ.get("TRINITY_SCALING_TURNS", "8000000"))
SCALING_REPS = int(os.environ.get("TRINITY_SCALING_REPS", "3"))
# Odd, so the headline median-of-pairs is a real observed pair.  3 by
# default at the 8M unit: each local[1] leg is ~12 min, so 5 reps push a
# default run past 1.5 h of scaling alone, and the longer legs average
# steal within a pair (measured pair spread at 8M: 0.92-1.09, vs
# 0.72-0.89 at 3M) — one steal-hit pair out of three still leaves a
# clean-window median.  TRINITY_SCALING_REPS=5 reproduces the committed
# full-window protocol.
# N and 4N parallelism levels for the scaling criterion.  This VM's
# hypervisor steal varies BY TIME WINDOW (identical runs differ up to ~3x
# across windows, while runs a few minutes apart are coherent), and the
# per-thread steal penalty grows with thread count (measured same-window:
# 2->4 cores scales at 0.99 efficiency while any pair involving 8+ threads
# is depressed).  So: (1, 4) as the least-distorted N->4N proxy, each rep's
# two legs run back-to-back (same window), efficiency computed PER PAIR and
# the median across reps reported — never a cross-window ratio.
SCALING_PAIR = tuple(
    int(x) for x in os.environ.get("TRINITY_SCALING_PAIR", "1,4").split(",")
)
BENCH_ROOT = "/tmp/trinity_bench"


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def _corpus_path(n_turns: int) -> str:
    from trinity_spark.fixtures import write_transcripts

    return write_transcripts(os.path.join(BENCH_ROOT, f"corpus_{n_turns}"), n_turns)


def run_build(
    cpus: int,
    n_turns: int,
    index_dir: str,
    chunk_bits: int | None = None,
    codec: str | None = None,
) -> dict:
    """One timed build in THIS process (call in a fresh JVM per measurement)."""
    from trinity_spark.operators.indexer import build_index
    from trinity_spark.operators.segments import CHUNK_BITS
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    corpus = _corpus_path(n_turns)
    shutil.rmtree(index_dir, ignore_errors=True)
    spark = get_spark(f"bench_build_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    turns = spark.read.parquet(corpus)
    # Warm the fixed one-time machinery BEFORE the timer: JVM codegen,
    # parquet reader/writer classloading, Python worker daemon fork, Arrow
    # serde.  These costs are identical at every core count (pure serial
    # overhead), so timing them would measure JVM startup, not build scaling;
    # a real cluster amortizes executor startup over hours of work.
    from pyspark.sql import functions as F
    from trinity_spark.operators.fastbuild import blocks_from_turns

    warm = turns.limit(20_000).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    blocks_from_turns(warm).count()
    warm.groupBy("conv_id").count().write.mode("overwrite").parquet(
        os.path.join(BENCH_ROOT, f"warmup_{cpus}")
    )
    t0 = time.monotonic()
    metas = build_index(
        spark, turns, SegmentStore(index_dir),
        rows_per_segment=max(n_turns, 1 << 14),
        input_desc=corpus,
        chunk_bits=chunk_bits if chunk_bits is not None else CHUNK_BITS,
        codec=codec,
    )
    wall = time.monotonic() - t0
    return {
        "cpus": cpus,
        "turns": n_turns,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        "segments": len(metas),
    }


def run_pruning_win(cpus: int, index_dir: str) -> dict:
    """Gate-OPEN evidence: a query whose df profile opens the default gate,
    measured pruned vs plain on the SAME index — pruned must win.

    Query: ``qqrareanchor OR the OR a OR to OR of`` over the SCALING_TURNS
    corpus — a mid-rare anchor (planted at ~1/50k turns, saturates k with a
    high idf) plus four stopwords (tail df ~1.9/turn, clearing the
    ubiquity gate threshold at this corpus size).  Pruning units are
    SPANS (2^7 docs) since the span-granularity rewrite; the anchor's exact
    decoded postings bound its spans, so only spans actually holding an
    anchor doc clear the pass-1 threshold and the stopword posting lists
    are mostly never decoded.  (chunk_bits=10 kept for the index geometry's
    continuity with earlier rounds.)"""
    from trinity_spark.operators.indexer import SegmentIndex
    from trinity_spark.operators.topk import pruned_or_topk
    from trinity_spark.plans.parser import parse_query
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    spark = get_spark(f"bench_prune_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    index = SegmentIndex(spark, SegmentStore(index_dir))
    planner = QueryPlanner(index)
    planner.plan("zzzwarmupnonterm", k=1).collect()
    q = "qqrareanchor OR the OR a OR to OR of"
    node = parse_query(q)
    terms = [t.strip() for t in q.split(" OR ")]
    # untimed: chunk-count report + rank-identity of the two paths
    res, rep = pruned_or_topk(index, terms, 10, return_report=True, node=node)
    pruned_rows = [(r["doc_id"], r["score"]) for r in res.collect()]
    plain_rows = [
        (r["doc_id"], r["score"])
        for r in planner.plan(node, k=10, block_pruning=False).collect()
    ]
    identical = pruned_rows == plain_rows
    out = {
        "query": q,
        "chunk_bits": index.chunk_bits,
        "total_chunks": rep.total_chunks,
        "kept_chunks": rep.kept_chunks,
        "threshold": round(rep.threshold, 3),
        "rank_identical": identical,
        "walls": {},
    }
    for label, bp in [("pruned", True), ("plain", False)]:
        walls = []
        for _ in range(3):
            t0 = time.monotonic()
            planner.plan(node, k=10, block_pruning=bp).collect()
            walls.append(round(time.monotonic() - t0, 3))
        out["walls"][label] = walls
        if label == "pruned":
            out["gate"] = planner.last_route.get("gate")
            out["routed_path"] = planner.last_route.get("path")
    out["win"] = round(
        min(out["walls"]["plain"]) / max(min(out["walls"]["pruned"]), 1e-9), 2
    )
    return out


def run_merge_bench(cpus: int, n_turns: int) -> dict:
    """North-star merge phase: build a 4-segment index over the headline
    corpus, merge all segments into one, report wall + docs/s + the
    byte-reuse economics (blocks moved byte-identical vs re-encoded,
    merge.cpp:166-180 analog).  With no tombstones every full block reuses."""
    import shutil as _sh

    from trinity_spark.operators.indexer import build_index
    from trinity_spark.operators.merge import merge_segments
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    spark = get_spark(f"bench_merge_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    corpus = _corpus_path(n_turns)
    idx = os.path.join(BENCH_ROOT, f"index_merge_{n_turns}")
    _sh.rmtree(idx, ignore_errors=True)
    store = SegmentStore(idx)
    build_index(
        spark, spark.read.parquet(corpus), store,
        rows_per_segment=max(n_turns // 4, 1 << 14),
        input_desc=corpus,
    )
    n_in = len(store.segments())
    t0 = time.monotonic()
    meta = merge_segments(spark, store)
    wall = time.monotonic() - t0
    return {
        "segments_in": n_in,
        "docs": meta.docs_cnt,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(meta.docs_cnt / wall, 1),
        "blocks_reused": meta.metrics["blocks_reused"],
        "blocks_reencoded": meta.metrics["blocks_reencoded"],
    }


def run_queries(
    cpus: int, index_dir: str
) -> tuple[dict[str, float], dict[str, float], dict]:
    from trinity_spark.operators.indexer import SegmentIndex
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    spark = get_spark(f"bench_query_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    index = SegmentIndex(spark, SegmentStore(index_dir))
    planner = QueryPlanner(index)
    # absorb one-time JVM/codegen/Python-worker startup with an untimed
    # trivial plan: per-query numbers then measure COLD PLANS on a warm
    # session (what a long-lived query service sees), not JVM boot
    planner.plan("zzzwarmupnonterm", k=1).collect()
    here = os.path.dirname(os.path.abspath(__file__))
    qs = [json.loads(x) for x in open(os.path.join(here, "queries.jsonl")) if x.strip()]
    out: dict[str, float] = {}
    for q in qs:
        t0 = time.monotonic()
        planner.plan(q["query"], k=q["k"]).collect()
        out[q["id"]] = round(time.monotonic() - t0, 3)
    # the skewed stopword disjunction through the GATED auto-pruning path:
    # the cost gate consults cached df and only takes the two-pass block-max
    # plan when the skipped decode work exceeds the extra-job overhead — at
    # bench sf it stays single-pass, so this must cost ~= plain q_or
    t0 = time.monotonic()
    planner.plan("the OR a OR error OR zxqv", k=10).collect()
    out["q_bmx_pruned_or"] = round(time.monotonic() - t0, 3)
    # the artifact-visible gate decision: "gate closed -> byte-identical
    # single-pass plan" is PROVEN here, not inferred from matched walls
    gates = {"q_bmx_pruned_or": dict(planner.last_route)}
    # control: the SAME query with routing disabled — gated wall must match
    # this (the gate's no-penalty property); it is a heavier query than q_or
    # (two stopwords), so q_or is not the comparison baseline
    t0 = time.monotonic()
    planner.plan("the OR a OR error OR zxqv", k=10, block_pruning=False).collect()
    out["q_bmx_plain_equiv"] = round(time.monotonic() - t0, 3)
    # warm pass: same plans again (plan-construction + scan caches hot) —
    # the gated-vs-control comparison is only fair here (whichever of the two
    # runs first cold pays the page-cache/footer misses for both).  Each warm
    # wall is the MEDIAN OF 3 runs, same protocol as the scaling study: this
    # VM's hypervisor steal can otherwise print warm > cold inversions that
    # read as regressions (VERDICT r3 "what's wrong" #4).
    warm_runs: dict[str, list[float]] = {}
    for _ in range(3):
        for q in qs:
            t0 = time.monotonic()
            planner.plan(q["query"], k=q["k"]).collect()
            warm_runs.setdefault(q["id"], []).append(time.monotonic() - t0)
        for qid, bp in [("q_bmx_pruned_or", True), ("q_bmx_plain_equiv", False)]:
            t0 = time.monotonic()
            planner.plan(
                "the OR a OR error OR zxqv", k=10, block_pruning=bp
            ).collect()
            warm_runs.setdefault(qid, []).append(time.monotonic() - t0)
    warm = {k: round(statistics.median(v), 3) for k, v in warm_runs.items()}
    # routed path per reference query (cheap driver metadata, shows which
    # queries took the rare-AND chunk restriction etc.)
    for q in qs:
        planner.plan(q["query"], k=q["k"])  # plan only, no execution
        gates[q["id"]] = {"path": planner.last_route.get("path")}
    return out, warm, gates


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--turns", type=int, default=None)
    ap.add_argument("--index-dir", default=None)
    ap.add_argument("--chunk-bits", type=int, default=None)
    ap.add_argument("--codec", default=None)
    args = ap.parse_args()

    if args.build_only:
        missing = [
            n for n, v in
            (("--cpus", args.cpus), ("--turns", args.turns),
             ("--index-dir", args.index_dir))
            if v is None
        ]
        if missing:
            # this flag is the sub_build subprocess protocol; invoked by
            # hand without them it died inside Spark on master='local[None]'
            ap.error(f"--build-only requires {', '.join(missing)}")
        res = run_build(
            args.cpus, args.turns, args.index_dir, args.chunk_bits, args.codec
        )
        print("BENCH_BUILD " + json.dumps(res))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)
    n_turns = max(int(TURNS_PER_SF * sf), 5000)
    os.makedirs(BENCH_ROOT, exist_ok=True)
    _corpus_path(n_turns)  # generate once so no run pays generation cost

    def sub_build(c: int, turns: int | None = None, chunk_bits: int | None = None,
                  tag: str = "", codec: str | None = None) -> dict:
        n_t = turns or n_turns
        idx = os.path.join(BENCH_ROOT, f"index_c{c}_{n_t}{tag}")
        env = dict(os.environ, TRINITY_DRIVER_MEM="16g")
        cmd = [sys.executable, os.path.abspath(__file__), "--build-only",
               "--cpus", str(c), "--turns", str(n_t), "--index-dir", idx]
        if chunk_bits is not None:
            cmd += ["--chunk-bits", str(chunk_bits)]
        if codec is not None:
            cmd += ["--codec", codec]
        p = subprocess.run(
            cmd, capture_output=True, text=True, timeout=3600, env=env,
        )
        for line in p.stdout.splitlines():
            if line.startswith("BENCH_BUILD "):
                r = json.loads(line[len("BENCH_BUILD "):])
                # pair this rep's segment-phase wall with THIS rep (the
                # manifest is overwritten by later reps)
                with open(os.path.join(idx, "manifest.json")) as f:
                    r["seg_wall"] = round(
                        sum(s["metrics"]["wall_sec"] for s in json.load(f)["segments"]), 3
                    )
                return r
        raise RuntimeError(f"build subprocess failed:\n{p.stdout[-2000:]}\n{p.stderr[-4000:]}")

    scaling_on = os.environ.get("TRINITY_BENCH_SCALING", "1") != "0"
    build_main = sub_build(cpus)
    scaling = {}
    if scaling_on:
        # SAME job, SAME input, two parallelism levels (N, 4N); each level
        # measured SCALING_REPS times, best (least steal-interfered) run
        # reported, all raw walls kept for transparency.
        from trinity_spark.fixtures import write_transcripts

        write_transcripts(os.path.join(BENCH_ROOT, f"corpus_{SCALING_TURNS}"), SCALING_TURNS)
        lo, hi = SCALING_PAIR
        ratio = hi / lo
        runs = {lo: [], hi: []}
        pairs = []
        for _ in range(SCALING_REPS):
            # the two legs of a pair run back-to-back so they share the same
            # hypervisor-steal window; only within-pair ratios are meaningful
            r_lo = sub_build(lo, SCALING_TURNS)
            r_hi = sub_build(hi, SCALING_TURNS)
            runs[lo].append(r_lo)
            runs[hi].append(r_hi)
            pairs.append(
                {
                    "eff": round(
                        r_hi["turns_per_sec"] / (ratio * r_lo["turns_per_sec"]), 3
                    ),
                    "seg_eff": round(
                        r_lo["seg_wall"] / (ratio * r_hi["seg_wall"]), 3
                    ),
                    "walls": [r_lo["wall_sec"], r_hi["wall_sec"]],
                }
            )
        best_lo = min(runs[lo], key=lambda r: r["wall_sec"])
        best_hi = min(runs[hi], key=lambda r: r["wall_sec"])
        scaling = {
            f"local{lo}": best_lo,
            f"local{hi}": best_hi,
            "parallelism_ratio": ratio,
            # HEADLINE = median of the per-pair same-window efficiencies
            # (each rep runs its two legs back-to-back, so each pair shares
            # one hypervisor-steal window; the median over >=4 reps is robust
            # to a single steal-hit leg and, unlike a min-wall ratio, cannot
            # go superlinear from residual steal in the low-core minimum).
            "efficiency": round(
                statistics.median(p["eff"] for p in pairs), 3
            ),
            # secondary estimate: ratio of per-leg minimum walls (steal is
            # additive, so minima approximate steal-free walls — but the two
            # minima may come from different time windows)
            "efficiency_minwall": round(
                best_hi["turns_per_sec"] / (ratio * best_lo["turns_per_sec"]), 3
            ),
            # the per-segment build phase is the unit that repeats ~1000x at
            # 10^12 turns (docid assignment is a one-time resumable phase and
            # amortizes), so its scaling is reported separately
            "segment_phase_wall": {
                str(lo): best_lo["seg_wall"], str(hi): best_hi["seg_wall"]
            },
            "segment_phase_efficiency": round(
                statistics.median(p["seg_eff"] for p in pairs), 3
            ),
            "segment_phase_efficiency_minwall": round(
                best_lo["seg_wall"] / (ratio * best_hi["seg_wall"]), 3
            ),
            # steal annotation for depressed pairs: a pair whose leg wall is
            # far above its level's minimum demonstrably caught hypervisor
            # steal in that window (steal only depresses, never inflates)
            "outlier_pairs": [
                {
                    **p,
                    "steal_evidence": {
                        str(c): {
                            "wall": p["walls"][j],
                            "level_min": min(r["wall_sec"] for r in runs[c]),
                            "excess_pct": round(
                                100.0
                                * (
                                    p["walls"][j]
                                    / min(r["wall_sec"] for r in runs[c])
                                    - 1.0
                                ),
                                1,
                            ),
                        }
                        for j, c in enumerate((lo, hi))
                    },
                }
                for p in pairs
                if p["eff"] < 0.75
            ],
            "pair_efficiencies": pairs,
            "all_walls": {str(c): [r["wall_sec"] for r in rs] for c, rs in runs.items()},
            "scaling_turns": SCALING_TURNS,
        }

    qtimes, qwarm, gates = run_queries(
        cpus, os.path.join(BENCH_ROOT, f"index_c{cpus}_{n_turns}")
    )
    # gate-OPEN evidence (pruned beats plain where the default gate opens):
    # SCALING_TURNS corpus, chunk_bits=10 (see run_pruning_win docstring)
    pruning_win = {}
    if os.environ.get("TRINITY_BENCH_PRUNE_WIN", "1") != "0":
        from trinity_spark.fixtures import write_transcripts

        win_turns = SCALING_TURNS
        write_transcripts(
            os.path.join(BENCH_ROOT, f"corpus_{win_turns}"), win_turns
        )
        sub_build(cpus, win_turns, chunk_bits=10, tag="_cb10")
        pruning_win = run_pruning_win(
            cpus, os.path.join(BENCH_ROOT, f"index_c{cpus}_{win_turns}_cb10")
        )
    merge_bench = {}
    if os.environ.get("TRINITY_BENCH_MERGE", "1") != "0":
        merge_bench = run_merge_bench(cpus, n_turns)
    # wire codec A/B on the SAME corpus: the headline build is the default
    # native codec; the block codecs (varbyte, Trinity's google codec, and
    # pfor) are rebuilt beside it, with build wall, warm query walls, and
    # bytes on disk.  Block parts are written with Spark's default snappy;
    # native parts with zstd / parquet v2 (segments.NATIVE_WRITE_OPTIONS).
    codec_cmp: dict = {
        "enabled": False,
        "how": "TRINITY_BENCH_CODEC=1 builds the same corpus with the varbyte "
        "and PFOR wires and reruns the query set (~4 min extra)",
    }
    if os.environ.get("TRINITY_BENCH_CODEC", "0") == "1":
        main_idx = os.path.join(BENCH_ROOT, f"index_c{cpus}_{n_turns}")
        codec_cmp = {
            "enabled": True,
            "corpus_turns": n_turns,
            "native": {
                "build_wall_sec": build_main["wall_sec"],
                "queries_warm": qwarm,
                "postings_bytes": _postings_bytes(main_idx),
                "meta_bytes": _postings_bytes(main_idx, ("block_meta", "term_dict")),
            },
        }
        for wire in ("varbyte", "pfor"):
            idx = os.path.join(BENCH_ROOT, f"index_c{cpus}_{n_turns}_{wire}")
            b = sub_build(cpus, tag=f"_{wire}", codec=wire)
            _, warm, _ = run_queries(cpus, idx)
            codec_cmp[wire] = {
                "build_wall_sec": b["wall_sec"],
                "queries_warm": warm,
                "postings_bytes": _postings_bytes(idx),
                "meta_bytes": _postings_bytes(idx, ("block_meta", "term_dict")),
            }
        _save_cached_section("bench_codec_ab.json", codec_cmp)
    else:
        cached = _load_cached_section("bench_codec_ab.json")
        if cached:
            codec_cmp = {**cached, "cached": True}
    try:
        collection_bench = run_collection_section(cpus)
    except Exception as e:
        collection_bench = {"error": str(e)[:500]}
    total = build_main["wall_sec"] + sum(qtimes.values())
    result = {
        "metric": "index_build_plus_queryset_sec",
        "value": round(total, 2),
        "unit": "sec",
        "generated_at": datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        ),
        "queries": qtimes,
        "queries_warm": qwarm,
        "warm_protocol": "median of 3 same-session runs per query",
        "sf": sf,
        "build": build_main,
        "scaling": scaling,
        "merge": merge_bench,
        "pruning": {"gates": gates, "gate_open_win": pruning_win},
        "query_p50_sec": round(statistics.median(qtimes.values()), 3),
        "query_p50_warm_sec": round(statistics.median(qwarm.values()), 3),
        "codec_ab": codec_cmp,
        "collection": collection_bench,
    }
    if os.environ.get("TRINITY_BENCH_XL", "0") == "1":
        try:
            result["xl"] = run_xl_section(cpus, sub_build)
        except Exception as e:  # artifact must survive a section crash
            result["xl"] = {"enabled": True, "error": str(e)[:500]}
        if not result["xl"].get("error"):
            _save_cached_section("bench_xl.json", result["xl"])
    else:
        cached_xl = _load_cached_section("bench_xl.json")
        result["xl"] = (
            {**cached_xl, "cached": True}
            if cached_xl
            else {
                "enabled": False,
                "how": "TRINITY_BENCH_XL=1 adds a 10M-turn build + query + "
                "gate section (off by default: ~10 min extra)",
            }
        )
    if os.environ.get("TRINITY_BENCH_DATAOPS", "0") == "1":
        try:
            result["dataops"] = run_dataops_section(cpus)
        except Exception as e:
            result["dataops"] = {"enabled": True, "error": str(e)[:500]}
        if not result["dataops"].get("error"):
            _save_cached_section("bench_dataops.json", result["dataops"])
    else:
        cached_do = _load_cached_section("bench_dataops.json")
        result["dataops"] = (
            {**cached_do, "cached": True}
            if cached_do
            else {
                "enabled": False,
                "how": "TRINITY_BENCH_DATAOPS=1 runs 1M synthetic docs "
                "through substring dedup, span removal, curate, and a "
                "100-query percolation (~5 min extra)",
            }
        )
    if os.environ.get("TRINITY_BENCH_EMB", "0") == "1":
        try:
            result["embeddings"] = run_embeddings_section(cpus)
        except Exception as e:
            result["embeddings"] = {"enabled": True, "error": str(e)[:500]}
        if not result["embeddings"].get("error"):
            _save_cached_section("bench_embeddings.json", result["embeddings"])
    else:
        cached_em = _load_cached_section("bench_embeddings.json")
        result["embeddings"] = (
            {**cached_em, "cached": True}
            if cached_em
            else {
                "enabled": False,
                "how": "TRINITY_BENCH_EMB=1 runs 1M synthetic 64-dim "
                "vectors through Arrow assignment, Gram-matrix semantic "
                "dedup, and LSH cosine pairs (~3 min extra)",
            }
        )
    # FULL result object -> a small file, so the machine-readable evidence
    # survives even if a log-tail capture truncates the stdout line
    # (BENCH_r03.json had parsed=null for exactly that reason)
    here = os.path.dirname(os.path.abspath(__file__))
    # bench_result.json is owned by FULL windows (scaling measured): the
    # published BENCH.md/BASELINE.md cite it, so a quick smoke run (tiny
    # sf / TRINITY_BENCH_SCALING=0) writing there would orphan the docs'
    # evidence.  Smoke windows land in bench_result_smoke.json instead.
    detail_name = "bench_result.json" if result.get("scaling") else "bench_result_smoke.json"
    result["detail_file"] = detail_name
    with open(os.path.join(here, detail_name), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    # BENCH.md/BASELINE.md have ONE owner: scripts/regen_bench_docs.py,
    # regenerated here only for a FULL window (scaling section measured).
    # A quick smoke run (TRINITY_BENCH_SCALING=0, tiny sf) must never
    # silently replace the published full-window docs — the exact
    # two-windows-two-stories drift the regen script exists to prevent.
    if result.get("scaling"):
        reg = subprocess.run(
            [sys.executable, os.path.join(here, "scripts", "regen_bench_docs.py"),
             "--artifact", os.path.join(here, "bench_result.json")],
            capture_output=True, text=True,
        )
        if reg.returncode != 0:
            sys.stderr.write(
                f"doc regeneration failed (bench result intact): {reg.stderr[-500:]}\n"
            )
    # stdout gets ONE TINY line (<1 KB): headline + per-query cold walls +
    # the north-rule scaling efficiency + a pointer to the detail file.
    # BENCH_r03/r04.json both came back parsed=null because the previous
    # "slim" object (gate maps, scaling pairs, optional sections) still
    # overflowed the driver's log-tail capture — everything beyond the
    # headline now lives ONLY in bench_result.json.
    print(json.dumps(_headline(result)))


def _cache_file(name: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), name)


def _load_cached_section(name: str) -> dict | None:
    """Optional sections (codec A/B, XL) are expensive, so a default-env run
    must not ERASE previously measured evidence from the artifact: measured
    sections are cached to a committed side file and re-rendered (marked
    cached) when the env gate is off."""
    try:
        with open(_cache_file(name)) as f:
            obj = json.load(f)
        return obj if obj.get("enabled") else None
    except (OSError, ValueError):
        return None


def _save_cached_section(name: str, obj: dict) -> None:
    with open(_cache_file(name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def _postings_bytes(index_dir: str, parts: tuple[str, ...] = ("postings",)) -> int:
    """Total on-disk bytes of all segments' ``parts`` parquet files."""
    total = 0
    seg_root = os.path.join(index_dir, "segments")
    if os.path.isdir(seg_root):
        for root, _, files in os.walk(seg_root):
            if os.path.basename(root) in parts:
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if f.endswith(".parquet")
                )
    return total


def _headline(r: dict) -> dict:
    """The single stdout JSON line.  MUST stay under ~1 KB: the driver
    captures a bounded log tail and anything larger is recorded as
    parsed=null (the BENCH_r03/r04 failure mode).  Per-query COLD walls
    only; everything else is one scalar each."""
    sc = r.get("scaling") or {}
    build = r.get("build") or {}
    out = {
        "metric": r.get("metric"),
        "value": r.get("value"),
        "unit": r.get("unit"),
        "sf": r.get("sf"),
        "queries": {q: round(w, 3) for q, w in (r.get("queries") or {}).items()},
        "query_p50_sec": r.get("query_p50_sec"),
        "query_p50_warm_sec": r.get("query_p50_warm_sec"),
        "build_turns_per_sec": build.get("turns_per_sec"),
        "scaling_efficiency": sc.get("efficiency"),
        "detail_file": r.get("detail_file", "bench_result.json"),
    }
    return out


def run_xl_section(cpus: int, sub_build) -> dict:
    """Optional 10M-turn scale-headroom section (TRINITY_BENCH_XL=1):

    - build throughput at 10x the headline corpus,
    - 5 query classes, cold + warm (median of 3) walls, routed paths,
    - for BOTH AND shapes (q_skew: mid-df members, flat-routed by the
      crossover gate; q_skew_probe: rare phrase + stopword, probe-routed):
      the routed plan vs the forced single pass, wall + RANK IDENTITY,
    - a genuinely gate-OPEN block-max pruned OR at this df profile
      (rare anchor + stopword), routed vs flat, rank identity, kept chunks,
    - a 10M-doc segment merge with tombstones (byte-reuse economics),
    - MinHash near-dup pairs over the 10M-doc corpus with planted dups
      (TRINITY_BENCH_XL_DEDUP_DOCS overrides the doc count)."""
    xl_turns = 10_000_000
    idx = os.path.join(BENCH_ROOT, f"index_c{cpus}_{xl_turns}")
    try:
        build = sub_build(cpus, xl_turns)
    except Exception as e:  # keep the main artifact alive on OOM/timeout
        return {"enabled": True, "error": str(e)[:500]}
    from pyspark.sql import functions as F

    from trinity_spark.operators.indexer import SegmentIndex
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    spark = get_spark(f"bench_xl_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    # every leg below is individually guarded: the build (minutes) and any
    # already-measured legs must reach the artifact even when a later leg
    # OOMs/times out — "keep the main artifact alive" applies to the whole
    # section, not just the two legs that historically had guards
    out: dict = {"enabled": True, "build": build}
    try:
        planner = QueryPlanner(SegmentIndex(spark, SegmentStore(idx)))
        planner.plan("zzzwarmupnonterm", k=1).collect()

        def _timed(fn, reps: int = 3) -> tuple[float, float, list]:
            """(cold_wall, warm_median_wall, last_rows)."""
            t0 = time.monotonic()
            rows = fn()
            cold = time.monotonic() - t0
            warms = []
            for _ in range(reps):
                t0 = time.monotonic()
                rows = fn()
                warms.append(time.monotonic() - t0)
            return round(cold, 3), round(statistics.median(warms), 3), rows

        queries = {
            "q_term": "error",
            "q_and": "error AND timeout",
            "q_phrase": '"rate limit"',
            # mid-df phrase members (12% doc density): the crossover gate routes
            # FLAT — the fused single pass beats two-pass at 2.3x dominance
            "q_skew": 'the AND "rate limit"',
            # rare phrase (~2.7%-density members) + stopword: probe tier pays
            "q_skew_probe": 'the AND "w0100 w0101"',
        }
        walls, walls_warm, gates, rows_by_q = {}, {}, {}, {}
        for qid, q in queries.items():
            cold, warm, rows = _timed(
                lambda q=q: [
                    (r["doc_id"], r["score"])
                    for r in planner.plan(q, k=10).collect()
                ]
            )
            walls[qid], walls_warm[qid] = cold, warm
            rows_by_q[qid] = rows
            gates[qid] = dict(planner.last_route)

        # routed vs forced-single-pass, rank identity asserted (the two AND
        # shapes PLUS the gate-open OR below are the "both paths measured, same
        # answer" evidence the scale story rests on)
        vs_flat = {}
        for qid in ("q_skew", "q_skew_probe"):
            q = queries[qid]
            _, flat_warm, flat_rows = _timed(
                lambda q=q: [
                    (r["doc_id"], r["score"])
                    for r in planner.plan(q, k=10, block_pruning=False).collect()
                ]
            )
            vs_flat[qid] = {
                "routed_warm_sec": walls_warm[qid],
                "flat_warm_sec": flat_warm,
                "routed_path": gates[qid].get("path"),
                "tier": (gates[qid].get("gate") or {}).get("tier"),
                "rank_identical": rows_by_q[qid] == flat_rows,
                "win": round(flat_warm / walls_warm[qid], 2)
                if walls_warm[qid]
                else None,
            }

        # gate-OPEN pruned OR at XL geometry: rare planted anchor + top stopword
        from trinity_spark.operators.topk import pruned_or_topk

        or_terms = ["qqrareanchor", "the"]
        cold, pr_warm, pr_rows = _timed(
            lambda: [
                (r["doc_id"], r["score"])
                for r in planner.plan(" OR ".join(or_terms), k=10).collect()
            ]
        )
        or_route = dict(planner.last_route)
        _, or_flat_warm, or_flat_rows = _timed(
            lambda: [
                (r["doc_id"], r["score"])
                for r in planner.plan(
                    " OR ".join(or_terms), k=10, block_pruning=False
                ).collect()
            ]
        )
        _, rep = pruned_or_topk(
            planner.index, or_terms, k=10, return_report=True
        )
        pruned_or = {
            "query": " OR ".join(or_terms),
            "routed_path": or_route.get("path"),
            "routed_warm_sec": pr_warm,
            "flat_warm_sec": or_flat_warm,
            "rank_identical": pr_rows == or_flat_rows,
            "win": round(or_flat_warm / pr_warm, 2) if pr_warm else None,
            "kept_chunks": rep.kept_chunks,
            "total_chunks": rep.total_chunks,
            "threshold": round(rep.threshold, 4),
        }

        out.update({
            "queries": walls,
            "queries_warm": walls_warm,
            "gates": {
                k: {"path": v.get("path"),
                    "tier": (v.get("gate") or {}).get("tier"),
                    "reason": (v.get("gate") or {}).get("reason")}
                for k, v in gates.items()
            },
            "vs_flat": vs_flat,
            "pruned_or": pruned_or,
        })
    except Exception as e:  # keep build + any measured legs in the artifact
        out["error"] = str(e)[:500]
        return out


    # 10M merge with tombstones: copy the store (the cached index must stay
    # query-shaped for later runs), delete 1000 docs, full merge, record the
    # byte-reuse economics
    try:
        merge_dir = os.path.join(BENCH_ROOT, "xl_merge_copy")
        shutil.rmtree(merge_dir, ignore_errors=True)
        shutil.copytree(idx, merge_dir)
        from trinity_spark.operators.merge import merge_segments

        mstore = SegmentStore(merge_dir)
        mstore.add_deletes(spark, list(range(5000, 10_000_000, 10_000)))
        t0 = time.monotonic()
        meta = merge_segments(spark, mstore)
        mwall = time.monotonic() - t0
        out["merge"] = {
            "docs": meta.docs_cnt,
            "wall_sec": round(mwall, 2),
            "docs_per_sec": round(meta.docs_cnt / mwall, 1),
            "blocks_reused": meta.metrics.get("blocks_reused"),
            "blocks_reencoded": meta.metrics.get("blocks_reencoded"),
            "reuse_ratio": round(
                meta.metrics.get("blocks_reused", 0)
                / max(
                    meta.metrics.get("blocks_reused", 0)
                    + meta.metrics.get("blocks_reencoded", 0),
                    1,
                ),
                4,
            ),
            "deletes_applied": meta.lineage.get("deletes_applied"),
        }
        shutil.rmtree(merge_dir, ignore_errors=True)
    except Exception as e:
        out["merge"] = {"error": str(e)[:500]}

    # MinHash near-dup pairs at 10M docs, with planted duplicates (1% exact
    # clones + 1% one-token-perturbed clones) so the pair count is
    # non-trivial; cap at 256 per LSH bucket (logged inside the operator)
    try:
        from trinity_spark.dataops.dedup import minhash_near_duplicates

        n_dedup = int(
            os.environ.get("TRINITY_BENCH_XL_DEDUP_DOCS", str(xl_turns))
        )
        corpus = _corpus_path(xl_turns)
        docs = spark.read.parquet(corpus).select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
        )
        if n_dedup < xl_turns:
            # deterministic hash subset — a limit() would serialize the scan
            docs = docs.where(
                F.pmod(F.col("doc_id"), F.lit(max(xl_turns // n_dedup, 1)))
                == 0
            )
        clones = docs.where(F.pmod(F.col("doc_id"), F.lit(100)) == 0).select(
            F.xxhash64("doc_id").alias("doc_id"), "text"
        )
        near = docs.where(F.pmod(F.col("doc_id"), F.lit(100)) == 1).select(
            F.xxhash64("doc_id", F.lit(2)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" perturbedtail")).alias("text"),
        )
        all_docs = docs.unionByName(clones).unionByName(near).persist()
        n_total = all_docs.count()  # materialize inputs outside the timer
        t0 = time.monotonic()
        n_pairs = minhash_near_duplicates(
            all_docs, num_hashes=16, bands=4, max_bucket_size=256
        ).count()
        dwall = time.monotonic() - t0
        all_docs.unpersist()
        out["minhash_dedup"] = {
            "docs": int(n_total),
            "pairs": int(n_pairs),
            "wall_sec": round(dwall, 2),
            "docs_per_sec": round(n_total / dwall, 1),
            "planted_frac": 0.02,
        }
    except Exception as e:
        out["minhash_dedup"] = {"error": str(e)[:500]}
    return out


def run_collection_section(cpus: int) -> dict:
    """Per-store collection execution (exec_query_par analog): 8 stores of
    25k turns each, one ranked query, the lazy serial union vs the
    thread-pooled per-store path — identical rows asserted, walls recorded.
    The pooled path's wall should track the SLOWEST store, not the sum of
    per-store driver actions."""
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators import collection as coll
    from trinity_spark.operators.indexer import build_index
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    spark = get_spark(f"bench_coll_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    stores = []
    for i in range(8):
        base = os.path.join(BENCH_ROOT, f"coll_store_{i}")
        st = SegmentStore(base)
        if not st.segments():
            c = gen_transcripts(25_000, seed=300 + i)
            build_index(spark, spark.createDataFrame(c), st,
                        rows_per_segment=25_000, input_desc=f"coll{i}")
        stores.append(st)
    q = "error AND timeout"
    # warm both paths once (classloading/codegen), then measure
    orig = coll.PAR_MIN_STORES
    try:
        coll.PAR_MIN_STORES = 99
        coll.exec_query_collection(spark, stores, q, k=10).collect()
        t0 = time.monotonic()
        serial_rows = [
            (r["source"], r["doc_id"], r["score"])
            for r in coll.exec_query_collection(spark, stores, q, k=10).collect()
        ]
        w_serial = time.monotonic() - t0
    finally:
        coll.PAR_MIN_STORES = orig
    coll.exec_query_collection_par(spark, stores, q, k=10).collect()
    t0 = time.monotonic()
    par_rows = [
        (r["source"], r["doc_id"], r["score"])
        for r in coll.exec_query_collection_par(spark, stores, q, k=10).collect()
    ]
    w_par = time.monotonic() - t0

    # FORCED gate-open demo (labeled as such): per-store probe pass-1
    # actions are what serialize a large collection; force the AND probe
    # gate open at this small scale so the serialization effect itself is
    # measurable (the natural gate needs 1M+ df and stays closed here)
    from trinity_spark.operators import topk as topk_mod

    saved = (topk_mod.AND_PRUNE_MIN_DF, topk_mod.META_KEEP_MAX,
             topk_mod.PROBE_DOMINANCE, topk_mod.PROBE_BAIL_KEEP)
    try:
        topk_mod.AND_PRUNE_MIN_DF = 1
        topk_mod.META_KEEP_MAX = 0.0
        topk_mod.PROBE_DOMINANCE = 1.0
        topk_mod.PROBE_BAIL_KEEP = 1.1  # never bail: keep pass-2 shape too
        q2 = "the AND error"
        coll.PAR_MIN_STORES = 99
        try:
            coll.exec_query_collection(spark, stores, q2, k=10).collect()
            t0 = time.monotonic()
            fo_serial_rows = [
                (r["source"], r["doc_id"], r["score"]) for r in
                coll.exec_query_collection(spark, stores, q2, k=10).collect()
            ]
            w_fo_serial = time.monotonic() - t0
        finally:
            coll.PAR_MIN_STORES = orig
        coll.exec_query_collection_par(spark, stores, q2, k=10).collect()
        t0 = time.monotonic()
        fo_par_rows = [
            (r["source"], r["doc_id"], r["score"]) for r in
            coll.exec_query_collection_par(spark, stores, q2, k=10).collect()
        ]
        w_fo_par = time.monotonic() - t0
    finally:
        (topk_mod.AND_PRUNE_MIN_DF, topk_mod.META_KEEP_MAX,
         topk_mod.PROBE_DOMINANCE, topk_mod.PROBE_BAIL_KEEP) = saved
    return {
        "n_stores": 8,
        "turns_per_store": 25_000,
        "query": q,
        "serial_union_wall_sec": round(w_serial, 3),
        "par_wall_sec": round(w_par, 3),
        "rows_identical": serial_rows == par_rows,
        "forced_gate_open_demo": {
            "query": q2,
            "note": "AND probe gate FORCED open (thresholds patched) so "
            "each store runs pass-1 driver actions — the shape that "
            "serializes a large collection",
            "serial_union_wall_sec": round(w_fo_serial, 3),
            "par_wall_sec": round(w_fo_par, 3),
            "rows_identical": fo_serial_rows == fo_par_rows,
            "win": round(w_fo_serial / max(w_fo_par, 1e-9), 2),
        },
    }


def run_dataops_section(cpus: int) -> dict:
    """Optional LLM-dataops throughput section (TRINITY_BENCH_DATAOPS=1):
    1M synthetic documents through the curation-relevant operator family —
    substring-window dedup metrics, duplicated-span removal, the full
    curate pipeline (gates + exact dedup + cross-doc boilerplate gate),
    and the percolator at a 100-registered-query load.  Each wall forces
    full evaluation via a checksum aggregation (a bare count() could let
    Catalyst prune the expensive projections)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from trinity_spark.dataops.curate import curate
    from trinity_spark.dataops.dedup import (
        remove_duplicate_spans,
        substring_dup_stats,
    )
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.percolator import percolate
    from trinity_spark.session import get_spark

    n_docs = int(os.environ.get("TRINITY_BENCH_DATAOPS_DOCS", "1000000"))
    spark = get_spark(f"bench_dataops_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    out: dict = {"enabled": True, "n_docs": n_docs, "cpus": cpus}
    try:
        pdf = gen_transcripts(n_docs)[["text"]].copy()
        # plant deterministic duplication so the dedup metrics are
        # non-trivial: 2% exact dups, 1% boilerplate-prefixed docs.
        # the boilerplate rows are OFFSET from the exact-dup rows (i%100==25
        # is never i%50==0) so prefixing doesn't destroy half the exact dups
        boiler = "subscribe to our newsletter for updates " * 3
        for i in range(0, n_docs, 50):
            pdf.iat[i, 0] = pdf.iat[(i + 1) % n_docs, 0]
        for i in range(25, n_docs, 100):
            pdf.iat[i, 0] = boiler + pdf.iat[i, 0]
        pdf["doc_id"] = range(n_docs)
        docs = spark.createDataFrame(pdf[["doc_id", "text"]]).persist()
        docs.count()

        t0 = time.monotonic()
        s = substring_dup_stats(docs, window=20, stride=10).agg(
            F.sum("n_dup_windows"), F.sum("dup_token_frac")
        ).collect()[0]
        w = time.monotonic() - t0
        out["substring_dup_stats"] = {
            "wall_sec": round(w, 2), "docs_per_sec": round(n_docs / w, 1),
            "window": 20, "stride": 10, "sum_dup_windows": int(s[0]),
        }

        t0 = time.monotonic()
        s = remove_duplicate_spans(docs, window=20, stride=10).agg(
            F.sum("n_removed_tokens")
        ).collect()[0]
        w = time.monotonic() - t0
        out["remove_duplicate_spans"] = {
            "wall_sec": round(w, 2), "docs_per_sec": round(n_docs / w, 1),
            "sum_removed_tokens": int(s[0]),
        }

        t0 = time.monotonic()
        kept = curate(
            docs, min_tokens=5, min_quality=0.0, languages=None,
            max_top_ngram_char_frac=0.6,
            max_dup_token_frac=0.8, dup_window=20, dup_stride=10,
        ).where("keep").count()
        w = time.monotonic() - t0
        out["curate"] = {
            "wall_sec": round(w, 2), "docs_per_sec": round(n_docs / w, 1),
            "kept": kept, "dropped": n_docs - kept,
            "gates": "too_short+repetitive+exact_dup+boilerplate",
        }

        queries = {}
        vocab = ["error", "timeout", "retry", "connection", "reset", "peer",
                 "the", "and", "rate", "limit"]
        for i in range(100):
            a, b = vocab[i % len(vocab)], vocab[(i * 3 + 1) % len(vocab)]
            queries[f"q{i}"] = [a, f"{a} AND {b}", f'"{a} {b}"',
                                f"{a} OR {b}"][i % 4]
        t0 = time.monotonic()
        hits = percolate(docs, queries).count()
        w = time.monotonic() - t0
        out["percolate_100q"] = {
            "wall_sec": round(w, 2),
            "doc_query_evals_per_sec": round(n_docs * len(queries) / w, 1),
            "hits": hits,
        }

        # routed percolation at an alerting-like load: many queries, all
        # anchored on SELECTIVE terms, so routing prunes most documents
        # before the compiled verify (the win is the candidate fraction)
        from trinity_spark.operators.percolator import percolate_routed

        rare_qs = {}
        for i in range(500):
            w = f"w{3500 + i:04d}"  # high-rank Zipf tail -> rare terms
            rare_qs[f"r{i}"] = [
                f"{w} AND error",
                f'"{w} gpu"',
                f"{w} OR w{4000 + i:04d}",
                f"{w} NOT test",
            ][i % 4]
        t0 = time.monotonic()
        hits_full = percolate(docs, rare_qs).count()
        w_full = time.monotonic() - t0
        t0 = time.monotonic()
        hits_routed = percolate_routed(docs, rare_qs).count()
        w_routed = time.monotonic() - t0
        out["percolate_routed_500q_rare"] = {
            "n_queries": len(rare_qs),
            "full_scan_wall_sec": round(w_full, 2),
            "routed_wall_sec": round(w_routed, 2),
            "win": round(w_full / max(w_routed, 1e-9), 2),
            "hits": hits_routed,
            # MEASURED equality, not a claim: a bare assert vanishes under
            # python -O and a hardcoded True would publish an unverified win
            "hits_match_full_scan": hits_routed == hits_full,
        }
        if hits_routed != hits_full:
            raise RuntimeError(
                f"routed percolation diverged: {hits_routed} != {hits_full}"
            )

        # 5000-query registry — real alerting scale (queries now evaluate in
        # MAX_COMPILED_QUERIES chunks over the once-tokenized frame).  The
        # registry models a production alert profile: 80% of queries watch
        # for terms that never occur (alerts that haven't fired — routing
        # discards them at zero verify cost), 20% watch the rare vocabulary
        # tail.  The full scan at 5k queries is ~10x the 500q wall, so this
        # leg runs on a deterministic 1/10 doc subset; the routing economics
        # (win = full / routed at the SAME inputs, hits asserted equal) are
        # what the artifact pins.  (Measured degenerate case, kept for the
        # record: 5k queries whose routing terms BLANKET a 5k-word
        # vocabulary make ~every doc a candidate — win 1.08x; routing wins
        # exactly to the extent the registry's terms are selective.)
        docs5 = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
        qs5k = {}
        for i in range(5000):
            if i % 5:  # 80%: never-firing alerts on absent terms
                qs5k[f"q{i}"] = f"qqalert{i:05d} AND error"
            else:  # 20%: rare-tail real terms
                w = f"w{4000 + (i % 950):04d}"
                qs5k[f"q{i}"] = [
                    f"{w} AND error",
                    f'"{w} gpu"',
                    f"{w} OR w{4000 + ((i + 7) % 950):04d}",
                    f"{w} NOT test",
                ][i % 4]
        t0 = time.monotonic()
        hits_full5 = percolate(docs5, qs5k).count()
        w_full5 = time.monotonic() - t0
        t0 = time.monotonic()
        hits_routed5 = percolate_routed(docs5, qs5k).count()
        w_routed5 = time.monotonic() - t0
        out["percolate_routed_5000q_rare"] = {
            "n_queries": len(qs5k),
            "n_docs": n_docs // 10,
            "full_scan_wall_sec": round(w_full5, 2),
            "routed_wall_sec": round(w_routed5, 2),
            "win": round(w_full5 / max(w_routed5, 1e-9), 2),
            "hits": hits_routed5,
            "hits_match_full_scan": hits_routed5 == hits_full5,
        }
        if hits_routed5 != hits_full5:
            raise RuntimeError(
                f"routed percolation diverged: {hits_routed5} != {hits_full5}"
            )
        return out
    except Exception as e:  # keep measured legs + the error in the artifact
        return {**out, "error": str(e)[:500]}
    finally:
        try:
            docs.unpersist()
        except Exception:
            pass


def run_embeddings_section(cpus: int) -> dict:
    """Optional embedding-ops throughput section (TRINITY_BENCH_EMB=1):
    1M synthetic 64-dim vectors (planted exact dup every 100th row) through
    the embedding family's SCALE kernels — Arrow matrix assignment
    (ivf_assign_arrow), per-cluster Gram-matrix semantic dedup verify
    (uncapped exact + capped), LSH-banded cosine pairs with the gram
    verify, and the whole SemDeDup pipeline.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import functions as F

    from trinity_spark.dataops import similarity as S
    from trinity_spark.session import get_spark

    n = int(os.environ.get("TRINITY_BENCH_EMB_VECS", "1000000"))
    dim, n_lists = 64, 256
    spark = get_spark(f"bench_emb_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    vecs = None
    out: dict = {"enabled": True}
    try:
        def gen(batches):
            for b in batches:
                ids = b.column("id").to_numpy()
                if len(ids) == 0:
                    continue
                rng = np.random.default_rng(int(ids[0]) + 1)
                M = rng.normal(size=(len(ids), dim))
                dup = (ids % 100 == 0) & (np.arange(len(ids)) > 0)
                M[dup] = M[np.flatnonzero(dup) - 1]
                flat = pa.array(M.reshape(-1), type=pa.float64())
                offs = pa.array(np.arange(len(ids) + 1) * dim, type=pa.int32())
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids, type=pa.int64()),
                     pa.ListArray.from_arrays(offs, flat)],
                    ["vec_id", "embedding"],
                )

        vecs = (
            spark.range(n, numPartitions=cpus)
            .mapInArrow(gen, "vec_id long, embedding array<double>")
            .persist()
        )
        vecs.count()
        cents = [list(x) for x in
                 np.random.default_rng(42).normal(size=(n_lists, dim))]
        out.update({"n_vecs": n, "dim": dim, "n_lists": n_lists,
                    "cpus": cpus})

        t0 = time.monotonic()
        assigned = S.ivf_assign_arrow(vecs, cents).persist()
        chk = assigned.agg(F.sum("list_id")).collect()[0][0]
        w = time.monotonic() - t0
        out["assign_arrow"] = {"wall_sec": round(w, 2),
                               "vecs_per_sec": round(n / w, 1),
                               "checksum": int(chk)}

        t0 = time.monotonic()
        n_pairs = S.semantic_dedup_pairs(
            assigned, threshold=0.95, kernel="gram"
        ).count()
        w = time.monotonic() - t0
        out["semantic_pairs_gram_exact"] = {
            "wall_sec": round(w, 2), "vecs_per_sec": round(n / w, 1),
            "pairs": n_pairs, "threshold": 0.95,
        }

        t0 = time.monotonic()
        n_pairs_c = S.semantic_dedup_pairs(
            assigned, threshold=0.95, max_cluster_size=256, kernel="gram"
        ).count()
        w = time.monotonic() - t0
        out["semantic_pairs_gram_capped"] = {
            "wall_sec": round(w, 2), "vecs_per_sec": round(n / w, 1),
            "pairs": n_pairs_c, "max_cluster_size": 256,
        }

        t0 = time.monotonic()
        n_lsh = S.cosine_pairs(
            vecs, dim=dim, threshold=0.95, bits=16, band_bits=8,
            max_bucket_size=512, kernel="gram",
        ).count()
        w = time.monotonic() - t0
        out["lsh_cosine_pairs_gram"] = {
            "wall_sec": round(w, 2), "vecs_per_sec": round(n / w, 1),
            "pairs": n_lsh, "bits": 16, "band_bits": 8,
            "max_bucket_size": 512,
        }

        # the WHOLE SemDeDup pipeline: distributed Lloyd training (arrow
        # assignment, in-Spark update), exact gram pairs, canonical
        # resolution — the one-call dedup a training pipeline runs
        t0 = time.monotonic()
        resolved = S.semantic_dedup(vecs, n_lists=n_lists, iters=1,
                                    threshold=0.95)
        n_canon = resolved.where("is_canonical").count()
        w = time.monotonic() - t0
        out["semantic_dedup_e2e"] = {
            "wall_sec": round(w, 2), "vecs_per_sec": round(n / w, 1),
            "canonical": n_canon, "removed": n - n_canon, "iters": 1,
        }
        return out
    except Exception as e:  # keep measured legs + the error in the artifact
        return {**out, "error": str(e)[:500]}
    finally:
        try:
            vecs.unpersist()
        except Exception:
            pass


if __name__ == "__main__":
    main()
