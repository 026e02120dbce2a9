"""SparkSession factory with the pipeline's standard local-mode tuning.

Designed for a multi-executor cluster (everything is partition-count
driven, nothing materializes O(corpus) on the driver); in this sandbox
it runs on local[N] which models N executor cores.
"""

from __future__ import annotations

import os
import site
import warnings

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark import SparkContext
from pyspark.sql import SparkSession

# appIds whose JVM Python-runner path has been warmed (getOrCreate can
# hand the same live session back to several get_spark calls)
_PY_RUNNER_WARMED: set[str] = set()


def _warm_python_runner(spark: SparkSession) -> None:
    """Pay the JVM's one-time Python-runner/Arrow initialization at
    session creation instead of inside the first UDF-bearing query.

    The first Arrow-UDF stage a fresh JVM executes costs ~3.5 s of
    one-time setup (measured on this sandbox: 3.56/3.67/4.08 s for a
    trivial pandas-UDF stage at 1/8/32 partitions vs 0.3-0.4 s for the
    identical second stage — constant in partition count, so it is
    class-loading/buffer init in the runner machinery, not worker
    spawn).  Each runner CLASS then pays a smaller own first-use cost
    (after the scalar warm: first applyInPandas 0.75 s vs 0.32 s
    steady, first mapInPandas 0.52 s vs 0.21 s), so all three shapes
    the pipeline uses are exercised once.  Production executors are
    long-lived and every pipeline in this repo runs Arrow UDF stages,
    so initializing the path at startup is the steady-state-honest
    shape; a 64-row range touches no input data.  Failure is
    non-fatal and warns: the first real UDF stage then pays the init
    exactly as before, and the next get_spark call tries again (the app
    is recorded as warmed only once a warm-up succeeds)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PY_RUNNER_WARMED:
        return
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.functions import pandas_udf

        @pandas_udf("long")
        def _wp(s: pd.Series) -> pd.Series:
            return s

        def _wg(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf

        def _wm(it):
            yield from it

        base = spark.range(0, 64, 1, 2).withColumn("g", F.col("id") % 4)
        base.select(F.count(_wp("id"))).collect()
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        noop(base.groupBy("g").applyInPandas(_wg, "id long, g long"))
        noop(base.mapInPandas(_wm, "id long, g long"))
    except Exception as e:
        warnings.warn(
            f"Python-runner warm-up failed ({e!r}); the first UDF stage "
            "pays its init instead",
            RuntimeWarning,
            stacklevel=3,
        )
        return
    _PY_RUNNER_WARMED.add(app_id)


# Generated classes the JVM keeps compiled.  Spark's default (100) is
# LRU, and one incremental round compiles ~138 distinct classes (a batch
# run_dedup pass ~84), so a round cycling through them in the same order
# missed on every lookup and recompiled all of them each round.
CODEGEN_CACHE_ENTRIES = 2000


def default_driver_memory() -> str:
    """Half of physical memory, so the heap never outgrows the machine."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2**21}m"


WORKER_DAEMON = "simhash_text_dedup_spark.worker_daemon"


def worker_start_path() -> list[str]:
    """Where a new Python worker imports from before a task adds py-files:
    its cwd, $PYTHONPATH and site-packages.  The worker inherits the cwd
    and environment of the JVM, which starts in this process's unless it
    is already running."""
    jvm = SparkContext._jvm
    if jvm is None:
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH")
    else:
        system = jvm.java.lang.System
        cwd, pythonpath = system.getProperty("user.dir"), system.getenv("PYTHONPATH")
    return [cwd, *(pythonpath or "").split(os.pathsep), *site.getsitepackages(),
            site.getusersitepackages()]


def importable_at_worker_start(pkg_dir: str, start_path: list[str]) -> bool:
    """True when the package at pkg_dir is a directory, not inside an
    archive, whose parent is on start_path."""
    if not os.path.isdir(pkg_dir):
        return False
    parent = os.path.realpath(os.path.dirname(pkg_dir))
    return any(p and os.path.realpath(p) == parent for p in start_path)


def get_spark(
    app: str = "simhash-text-dedup-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Local session on `cores` cores (default $SPARK_GRAFT_CPUS, else the
    CPUs this process may run on) with a driver heap of $SPARK_DRIVER_MEM,
    else half of physical memory.  `extra` overrides any setting.

    Python workers run `worker_daemon`, which spares each task a re-read
    of Spark's archives, when the package is importable at worker start;
    otherwise they run Spark's default daemon and a RuntimeWarning says so."""
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # The worker daemon starts before any py-files are on the worker path,
    # so it is used only when the package can be imported without them.
    if importable_at_worker_start(os.path.dirname(os.path.abspath(__file__)),
                                  worker_start_path()):
        b = b.config("spark.python.daemon.module", WORKER_DAEMON)
    else:
        warnings.warn(
            "simhash_text_dedup_spark is not importable from the Python "
            "workers' start path, so they run Spark's default daemon and "
            "every Python task re-reads Spark's archives",
            RuntimeWarning,
            stacklevel=2,
        )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_runner(spark)
    return spark
