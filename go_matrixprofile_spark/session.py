"""SparkSession factory with the engine's standard configuration.

Tuned for local[N] testing but written for multi-executor clusters:
AQE on (runtime re-plan + skew-join splitting), Arrow transport for the
pandas-UDF kernels, UTC session timezone so timestamp arithmetic is
oracle-stable. Local sessions start their Python workers from
``worker_daemon``, which imports the driver's pyspark tree instead of
re-reading pyspark.zip on every task.
"""

from __future__ import annotations

import fcntl
import hashlib
import logging
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import weakref

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    extra_conf = extra_conf or {}
    local = extra_conf.get("spark.master", f"local[{cores}]").startswith("local")
    builder = _builder(app_name, cores, extra_conf, local)
    launch = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = conf_dir = None
    if not launch:
        log.info("no class archive: the driver JVM is already running")
    elif not local:
        log.info("no class archive: %s is not a local master", extra_conf["spark.master"])
    else:
        archive, conf_dir = _class_archive(cores, extra_conf)
    if archive:
        builder = builder.config("spark.driver.extraJavaOptions", _replay_options(archive, extra_conf))
    # the launch reads SPARK_CONF_DIR from os.environ; put it back after
    old_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    t0 = time.perf_counter()
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir:
            del os.environ["SPARK_CONF_DIR"]
            if old_conf_dir is not None:
                os.environ["SPARK_CONF_DIR"] = old_conf_dir
    if launch:
        log.info("driver JVM and SparkContext started in %.2f s", time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("WARN")
    _warm_up(spark)
    return spark


def _builder(app_name: str, cores: int | str, extra_conf: dict, local: bool) -> SparkSession.Builder:
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
    if local:
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
    return builder


def _class_archive(cores: int | str, extra_conf: dict) -> tuple[str | None, str | None]:
    """(archive, conf_dir) for the launch of a local driver JVM, or
    (None, None) with the reason logged. The archive holds the classes
    a warm-up session loads (JDK dynamic CDS, JEP 350): the JVM maps
    them instead of parsing and verifying them from jars. It is
    recorded once per host and key under
    ${XDG_CACHE_HOME:-~/.cache}/go_matrixprofile_spark, the key a hash
    of the java binary spark-submit runs and of the Spark jars, so no
    JVM is needed to compute it; the JVM validates the archive again
    and runs without it on a mismatch. CDS refuses a non-empty
    directory on the classpath, and Spark always puts the conf dir
    there, so the launch gets conf_dir, an empty directory, as
    SPARK_CONF_DIR: only when the real conf dir holds nothing but
    *.template files, which change nothing."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    real = sorted(f for f in os.listdir(conf) if not f.endswith(".template")) if os.path.isdir(conf) else []
    extra_cp = [v for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH") if os.environ.get(v)]
    if "spark.driver.extraClassPath" in extra_conf:
        extra_cp.append("spark.driver.extraClassPath")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = os.path.join(spark_home, "jars")
    if real:
        reason = f"the Spark conf dir {conf} holds {real[0]}"
    elif extra_cp:
        reason = f"{extra_cp[0]} adds to the driver classpath"
    elif not java or not os.path.isfile(java):
        reason = "no java binary"
    elif not os.path.isdir(jars):
        reason = f"no Spark jars directory {jars}"
    else:
        reason = None
    if reason:
        log.info("no class archive: %s", reason)
        return None, None

    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache_dir = os.path.join(base, "go_matrixprofile_spark")
    archive = os.path.join(cache_dir, f"spark-classes-{_archive_key(java, jars)}.jsa")
    conf_dir = os.path.join(cache_dir, "spark-conf-empty")
    if os.path.exists(archive):
        log.info("replaying %s", archive)
        return archive, conf_dir
    return _record(archive, conf_dir, cores)


def _archive_key(java: str, jars: str) -> str:
    """Hash of the resolved java binary and of every file in the jars
    directory: path or name, size and mtime."""
    java = os.path.realpath(java)
    h = hashlib.sha256(java.encode())
    for path in [java] + sorted(os.path.join(jars, f) for f in os.listdir(jars)):
        st = os.stat(path)
        h.update(f"\n{os.path.basename(path)} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _replay_options(archive: str, extra_conf: dict) -> str:
    """spark.driver.extraJavaOptions that map archive, followed by the
    caller's own. CDS warnings (an archive the JVM refuses) go to
    stderr and none to stdout, which callers parse."""
    opts = [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off", "-Xlog:cds*=warning:stderr"]
    return " ".join(opts + [extra_conf.get("spark.driver.extraJavaOptions", "")]).strip()


def _record(archive: str, conf_dir: str, cores: int | str) -> tuple[str | None, str | None]:
    """Record the class archive in a child process (see _record_classes)
    into a temp file, then rename it onto archive. A non-blocking lock
    on <key>.lock makes one process record; any other starts without an
    archive meanwhile instead of waiting. The child runs in a process
    group of its own, killed at the end, so neither it nor its JVM
    outlives the call. Any failure logs one WARNING with its first
    error line and starts without an archive."""
    t0 = time.perf_counter()
    tmp = None
    try:
        os.makedirs(conf_dir, exist_ok=True)
        with open(archive[: -len(".jsa")] + ".lock", "w") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                log.info("no class archive: another process is recording %s", archive)
                return None, None
            if os.path.exists(archive):
                log.info("replaying %s", archive)
                return archive, conf_dir
            fd, tmp = tempfile.mkstemp(dir=os.path.dirname(archive), suffix=".jsa.tmp")
            os.close(fd)
            env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_NO_WARMUP"}
            env["SPARK_CONF_DIR"] = conf_dir
            child = subprocess.Popen(
                [sys.executable, "-c", _RECORD_CHILD, _PACKAGE_PARENT, tmp, str(cores)],
                env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True, start_new_session=True,
            )
            try:
                out = child.communicate(timeout=_RECORD_TIMEOUT_S)[0]
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                child.communicate()
                raise TimeoutError(f"recording took over {_RECORD_TIMEOUT_S} s") from None
            finally:
                try:
                    os.killpg(child.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if child.returncode or not os.path.getsize(tmp):
                raise RuntimeError(_first_error_line(out) or f"exit status {child.returncode}")
            os.replace(tmp, archive)
    except (OSError, RuntimeError) as e:
        first = (str(e).strip().splitlines() or [""])[0]
        log.warning("class archive not recorded: %s: %s", type(e).__name__, first)
        log.info("no class archive: recording failed")
        return None, None
    finally:
        if tmp and os.path.exists(tmp):
            os.remove(tmp)
    log.info("recorded %s in %.1f s", archive, time.perf_counter() - t0)
    return archive, conf_dir


# the recording child: imports this package from _PACKAGE_PARENT,
# whatever the caller's cwd and PYTHONPATH
_RECORD_CHILD = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from go_matrixprofile_spark import session; session._record_classes(*sys.argv[2:])"
)
# measured ~30 s: JVM start, warm-up, and an 11-14 s dump at exit
_RECORD_TIMEOUT_S = 300


def _first_error_line(out: str) -> str | None:
    for line in out.splitlines():
        if re.match(r"(\w+\.)*\w*(Error|Exception)\b", line.strip()):
            return line.strip()
    return None


def _record_classes(path: str, cores: str) -> None:
    """Child side of _record: start a driver JVM that dumps the classes
    it loaded to path when it exits (-XX:ArchiveClassesAtExit), run the
    session warm-up, stop the session and wait for the JVM to finish
    the dump. Exits non-zero when the JVM does."""
    spark = (
        _builder("spark-classes", cores, {}, True)
        .config("spark.driver.extraJavaOptions", f"-XX:ArchiveClassesAtExit={path}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    _warm_up(spark)
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    sys.exit(gw.proc.wait())


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
