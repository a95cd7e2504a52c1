"""SparkSession builder tuned for this engine.

Local mode is a single JVM; on a real cluster the same configs apply per
executor.  AQE is on so skewed shuffles re-plan at runtime; Arrow is on for
the pandas-UDF kernels (the only JVM<->Python boundary in the engine).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch per applyInPandas group is bounded by pre-bucketing (a key's
# 1m-rollup series is <= minutes-in-retention rows, not raw rows) — see
# plans/rollup.py.  10k rows/batch keeps peak python-worker memory modest.
ARROW_BATCH_ROWS = 10_000


def _host_cpus() -> int:
    """Cores this process may run on (the affinity mask where the OS has
    one, else the machine's count)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _default_jvm_mem() -> str:
    """About a third of physical RAM, in whole GiB (at least 1g)."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "4g"
    return f"{max(1, ram // 3 // 2**30)}g"


def get_spark(
    app_name: str = "pyg_timeseries_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env; unset → the
    host's usable cores).  ``shuffle_partitions`` defaults to the local
    core count — at cluster scale you would set this to ~2-3x total
    executor cores instead.  JVM memory is ``$SPARK_DRIVER_MEM`` (unset →
    about a third of physical RAM).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; for local[*] fall back to cpu count
        inner = master.split("[", 1)[-1].rstrip("]")
        shuffle_partitions = cpus if inner in ("*", "") else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_jvm_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
