"""SparkSession factory with the engine's standard configuration.

Scale posture: these settings are tuned so the same plans work on local[N]
test runs and on a large multi-executor cluster — AQE handles runtime
re-planning (skew joins, partition coalescing), and shuffle partitions are
sized by the runtime rather than hard-coded per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "prometheus-parquet-server-spark") -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    - UTC session timezone: timestamp→epoch math must be timezone-stable.
    - ``nanosAsLong``: Spark 4 rejects parquet TIMESTAMP(NANOS) columns by
      default; we read them as int64 nanoseconds and convert explicitly.
    - AQE on: runtime shuffle-partition coalescing + skew-join splitting are
      the 100TB-scale answer to skewed label/series distributions.
    """
    # default: the cores this process may run on, so a bare local run gets
    # one task slot and one shuffle partition per core
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # The reference is IEEE-754 throughout (Rust f64: 0/0=NaN, x/0=inf);
        # ANSI mode would turn those into runtime errors.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Whole-stage-codegen class cache (STATIC conf, default 100 entries).
        # A session that plans many distinct query shapes (the 63-row bench,
        # the 153-row oracle gate, a long-lived server) thrashes a 100-entry
        # LRU and recompiles generated classes it just evicted — measured on
        # the r14 bench as per-query walls ~2x their isolated-session floors.
        # Pure JVM-side cache sizing: scale-independent, no plan change.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
