"""Benchmark runner.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints one JSON record describing the run
and the host (steal, process-tree CPU, Spark conf, environment), then, as
the last line, the result: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Exits non-zero without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
# A seed kept out of every run made while the benchmark was tuned; later
# claims validate on it.
HELD_OUT_SEED = 7919

END_TO_END_UNITS = {
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "work_per_s": "1/s",
    "setup_s": "s",
    "bytes_per_input_byte": "ratio",
    "write_bytes_per_input_byte": "ratio",
}


def _clear_engine_env() -> list[str]:
    """Drop every TRINITY_* knob so no setting leaks into a measurement."""
    names = sorted(k for k in os.environ if k.startswith("TRINITY_"))
    for k in names:
        del os.environ[k]
    return names


def _mount_of(path: str) -> dict:
    """Mount point, filesystem type and device holding ``path``."""
    best = {"mount": "", "fstype": "?", "device": "?"}
    try:
        with open("/proc/mounts") as f:
            mounts = [line.split()[:3] for line in f]
    except OSError:
        return best
    path = os.path.realpath(path)
    for dev, mnt, fstype in mounts:
        inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
        if inside and len(mnt) >= len(best["mount"]):
            best = {"mount": mnt, "fstype": fstype, "device": dev}
    return best


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "?"


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cleared = _clear_engine_env()
    sys.path.insert(0, REPO_ROOT)
    try:
        import pyspark
        import trinity_spark  # noqa: F401

        import numpy as np

        from measure import samples_beyond, tail_supported
        from tracing import Tracer
        from workloads import (
            DRIVER_MEMORY, LAYER_UNITS, MASTER, QUERIES_FILE, WORKLOADS,
            Context, layer_metrics,
        )
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO_ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(REPO_ROOT, QUERIES_FILE)):
        print(f"perfbench: {QUERIES_FILE} missing under {REPO_ROOT}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tracer = Tracer(args.trace == 1)
    ctx = Context(REPO_ROOT, work, args.seed, args.seconds, tracer)
    try:
        result = WORKLOADS[args.workload](ctx)
        conf = dict(ctx.spark.sparkContext.getConf().getAll())
        java = ctx.spark.sparkContext._jvm.System.getProperty("java.version")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(ctx.spark)
        fs = _mount_of(work)
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    lat = [o["ms"] for o in ops]
    failed = sum(not o["ok"] for o in ops)
    busy_s = sum(lat) / 1e3
    host = ctx.host
    record = {
        "record": "run",
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": len(ops),
        "failed": failed,
        "fail_share": failed / len(ops),
        "samples": len(lat),
        "p90_samples_beyond": samples_beyond(len(lat), 90),
        "p90_tail_supported": tail_supported(len(lat), 90),
        "rounds": result["rounds"],
        "op_ms": [round(x, 3) for x in lat],
        "setup_parts_s": result["setup_parts_s"],
        "warm_pass_s": result.get("warm_pass_s"),
        "checks": result["checks"],
        "sizes": result["sizes"],
        "host": {
            "steal_s": host["steal_s_end"] - host["steal_s_begin"],
            "cpu_s_per_op": (host["cpu_s_end"] - host["cpu_s_begin"]) / len(ops),
            "cpus": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "cpu_model": _cpu_model(),
            "kernel": platform.release(),
            "store_fs": fs,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java,
        },
        "spark": {"master": MASTER, "driver_memory": DRIVER_MEMORY, "conf": conf},
        "env": {"cleared": cleared,
                "set": {k: os.environ[k] for k in ("TMPDIR", "PYSPARK_PYTHON")}},
        "run_wall_s": time.perf_counter() - t_run,
    }
    print(json.dumps(record, sort_keys=True))

    if args.trace:
        layers = layer_metrics(tracer, result, host)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        tracer.write(
            os.path.join(WORK_ROOT, "traces", f"{args.workload}-s{args.seed}.json"),
            {"record": record, "layers": layers},
        )
    else:
        values = {
            "op_p50_ms": float(np.percentile(lat, 50)),
            "op_p90_ms": float(np.percentile(lat, 90)),
            "work_per_s": result["work_units"] / busy_s,
            "setup_s": result["setup_s"],
            "bytes_per_input_byte": result["bytes_per_input_byte"],
            "write_bytes_per_input_byte": result["write_bytes_per_input_byte"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
