"""Canonical-store sink/source (S10 in SURVEY.md §2.1).

Reference parity: ``TimeSeriesCollection`` (src/timeseries.rs:396-445) — a
name-keyed in-memory map with a global min/max-time index. Here the store IS
the long table written ``partitionBy("name")``: the reference's name-hash
probe becomes Catalyst partition pruning, and min/max come from a one-line
aggregate (parquet footer statistics make it a metadata-only scan).

Scale: partitioning by metric name bounds every selector scan to one
partition tree; within a partition, files are sorted by the series key so
per-series windows mostly avoid wide shuffles (AQE handles the rest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.model import series_key_str


def write_store(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the canonical long frame partitioned by metric name."""
    (
        df.withColumn("_sk", series_key_str())
        .sortWithinPartitions("_sk", "ts")
        .drop("_sk")
        .write.mode(mode)
        .partitionBy("name")
        .parquet(path)
    )


def read_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def time_range(df: DataFrame) -> tuple[float, float]:
    """Global MinMaxTime (src/timeseries.rs:423-445)."""
    row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    return row["lo"], row["hi"]


def shift_to_midnight_offset(df: DataFrame, now: float | None = None) -> float:
    """``--shift_to_midnight`` (reference src/main.rs:207-226 +
    src/timeseries.rs:410-417): query_time_offset = today's local midnight −
    the store's min timestamp. Queries subtract it from their grid
    (RegularTimeRange.time_offset) and serialization adds it back per point
    (json_out.matrix_result time_offset) — so recorded test data appears to
    start "today" in Grafana."""
    import time as _time

    now = _time.time() if now is None else now
    local = _time.localtime(now)
    midnight = _time.mktime(
        (local.tm_year, local.tm_mon, local.tm_mday, 0, 0, 0, -1, -1, -1)
    )
    min_ts, _ = time_range(df)
    return float(midnight) - float(min_ts)


def store_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Integrity manifest: (name, n_rows, content_hash) per partition,
    where ``content_hash`` is the mod-2^64 SUM of each row's
    ``xxhash64(series key, ts, value)`` — order-insensitive, so any
    re-layout of the same rows (a different file split, replication)
    hashes identically, while one flipped value, lost row, or duplicated
    row changes it. A sum (not XOR — the round-5 design) is multiplicity-
    sensitive: XOR cancels even-multiplicity changes, so removing two
    copies of one duplicated row while adding two of another kept both
    n_rows and the hash unchanged; with a wrapping sum every multiplicity
    change shifts the digest. The wrap goes through decimal(38,0) + pmod
    because Spark 4's ANSI mode makes a bigint SUM *error* on overflow
    rather than wrap. The scan is embarrassingly parallel (map-side
    partial sums, one tiny shuffle of per-partition partials).
    """
    df = read_store(spark, path)
    return (
        df.withColumn("_sk", series_key_str())
        .groupBy("name")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(
                "cast(pmod(sum(cast(xxhash64(_sk, ts, value) as decimal(38,0))),"
                " 18446744073709551616BD) as decimal(20,0))"
            ).alias("content_hash"),
        )
    )


def verify_store_manifest(
    spark: SparkSession, path: str, manifest: DataFrame
) -> DataFrame:
    """Diff the live store against a previously-recorded manifest:
    returns (name, status) rows for every discrepancy — ``changed``
    (hash or count differs), ``missing`` (in manifest, not on disk),
    ``unexpected`` (on disk, not in manifest). Empty result = intact.

    ``manifest`` must be MATERIALIZED data (rows read back from wherever
    the manifest was persisted), not a live/cached :func:`store_manifest`
    plan over the same path — Spark's cache-plan matching would serve the
    identical cached plan to BOTH sides of the diff and report an intact
    store no matter what changed (pinned by the tampering test).
    """
    live = store_manifest(spark, path)
    m = manifest.select(
        F.col("name"),
        F.col("n_rows").alias("_m_rows"),
        F.col("content_hash").alias("_m_hash"),
    )
    joined = live.join(m, "name", "full_outer")
    return joined.select(
        "name",
        F.when(F.col("n_rows").isNull(), F.lit("missing"))
        .when(F.col("_m_rows").isNull(), F.lit("unexpected"))
        .when(
            (F.col("n_rows") != F.col("_m_rows"))
            | ~F.col("content_hash").eqNullSafe(F.col("_m_hash")),
            F.lit("changed"),
        )
        .alias("status"),
    ).filter(F.col("status").isNotNull())
