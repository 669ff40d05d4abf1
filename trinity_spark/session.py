"""SparkSession factory with engine defaults.

Local-mode testing stands in for a multi-executor cluster: the configs below
(AQE, skew-join handling, shuffle partitions sized to cores) are exactly what
we would ship in spark-submit --conf for a 1000-executor run; only
``master``/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_threads(master: str, default: int) -> int:
    """Thread count from a local-mode master url: ``local[N]`` and the
    maxFailures form ``local[N,F]`` -> N; ``local[*]``/``local[*,F]``/
    non-local -> default."""
    if master.startswith("local[") and master.endswith("]") and "*" not in master:
        return int(master[len("local[") : -1].split(",")[0])
    return default


def get_spark(
    app_name: str = "trinity_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers are spawned by the JVM and must be able to import this
    # package (module-level UDFs pickle by reference).  On a cluster this is
    # spark-submit --py-files; in local mode the worker daemons inherit the
    # JVM's env, so export the repo root on PYTHONPATH BEFORE JVM launch.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")

    # Python workers churn large numpy/Arrow buffers every task; glibc's
    # default 128 KB mmap threshold makes each of those a fresh mmap that is
    # munmapped on free, so every task re-pays first-touch page faults on
    # gigabytes of memory — and on VM hosts that demand-page guest memory the
    # fault cost varies with host load (the measured cross-window 3x build
    # variance).  Routing large allocations through the arena and never
    # trimming keeps the pages resident in the long-lived reused workers:
    # each buffer is faulted once per worker, not once per task.  Same
    # mechanism a cluster deployment ships via spark.executorEnv below.
    for k, v in (
        ("MALLOC_MMAP_THRESHOLD_", "1073741824"),
        ("MALLOC_TRIM_THRESHOLD_", "1073741824"),
    ):
        os.environ.setdefault(k, v)

    master = master or os.environ.get("TRINITY_SPARK_MASTER", "local[*]")
    par = _local_threads(master, os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(par, 4)
    local_dir = os.environ.get("TRINITY_LOCAL_DIR", "/dev/shm/spark-local")

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("TRINITY_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # PySpark 4's DataFrame-debugging wrapper captures the Python call
        # site for every DataFrame/Column API call (an inspect.stack walk +
        # a conf-get RPC + two JVM calls per operation — measured ~2 ms per
        # call, ~45% of this engine's per-query plan-construction time).
        # The engine builds hundreds of Column expressions per query plan,
        # so the call-site context (a nicety in error messages) costs more
        # than the queries themselves; off (opt back in through extra_conf).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # NOTE: no global spark.sql.files.maxPartitionBytes override here —
        # the build-tuned 4 MiB fine-split (critical for scaling efficiency
        # of the CPU-bound fused build) is scoped INSIDE build_index via a
        # runtime conf set/restore; query scans plan with Spark's default
        # 128 MiB splits (fine splits turned a 10M-doc index query into
        # 312 tiny tasks of pure scheduling overhead)
        .config("spark.executorEnv.PYTHONPATH", pkg_root)
        # preload numpy/pandas/pyarrow + the engine's worker-side modules in
        # the worker DAEMON: every forked worker then inherits them via
        # copy-on-write instead of importing per worker (measured >10 s of
        # serialized cold-start in the first local[32] stage without this)
        .config("spark.python.daemon.module", "trinity_spark.daemon")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.local.dir", local_dir if os.path.isdir(local_dir) else "/tmp")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
