"""histogram_quantile(φ, v) (P3 in SURVEY.md §2.4).

Reference parity: /root/reference/src/query.rs:259-356.
- series are grouped by their label set MINUS ``Le`` (series lacking ``Le``
  are skipped, query.rs:296-303);
- buckets sort ascending by the numeric ``Le`` bound; the last must be +Inf
  or the query errors (query.rs:314-317);
- per instant: ``total = inf_count``; ``cutoff = φ·total``; walk finite
  buckets ascending; the first with ``count >= cutoff`` yields
  ``q = le − (le − le_prev)·(count − cutoff)/(count − count_prev)`` with the
  implicit previous bucket (0, 0); if none qualifies the result is the
  highest finite ``le`` (and 0.0 when there are no finite buckets)
  (query.rs:325-348).

Spark strategy: entirely JVM-side — collect_list per (group, instant) into a
sorted array and run the bucket walk as a higher-order ``aggregate``
expression. No Python UDF; whole-stage codegen applies; the one shuffle keys
on (group labels, ts), which AQE sizes at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.model import canonical_labels_json

def _INF():
    return F.lit(float("inf"))


def _ieee_div(num, den):
    """IEEE-754 division (Rust f64 semantics): x/0 → ±inf, 0/0 → NaN.

    Non-ANSI Spark returns NULL for division by zero; ANSI throws — neither
    matches the reference's bucket-walk arithmetic (query.rs:339), so the
    zero-denominator cases are spelled out.
    """
    nan = F.lit(float("nan"))
    return (
        F.when(den != 0, num / den)
        .when(F.isnan(num) | (num == 0), nan)
        .when(num > 0, _INF())
        .otherwise(-_INF())
    )


def _le_bound(le_value):
    """'+Inf'/'+inf' → ∞, else numeric parse (query.rs:304-307)."""
    return (
        F.when(le_value.isin("+Inf", "+inf"), _INF())
        .otherwise(le_value.cast("double"))
    )


def histogram_quantile(
    df: DataFrame,
    phi: float,
    strict: bool = True,
) -> DataFrame:
    """Compute the φ-quantile over bucketed series.

    ``df``: canonical long frame (name, labels, ts, value) already aligned on
    a common grid (the reference resamples first, query.rs:277-281); the
    ``Le`` label holds the bucket bound.

    ``strict``: when True, a group whose top bucket is not +Inf raises at
    execution time — mirroring the reference's query-fatal
    "Inf bucket has finite value" (query.rs:314-317).
    """
    phi_lit = F.lit(float(phi))
    with_le = df.filter(F.col("labels").getItem("Le").isNotNull())
    key_labels = "map_filter(labels, (k, v) -> k != 'Le')"

    prepared = with_le.select(
        "name",
        F.expr(key_labels).alias("glabels"),
        canonical_labels_json(key_labels).alias("_gkey"),
        F.col("ts"),
        _le_bound(F.col("labels").getItem("Le")).alias("_le"),
        F.col("value").alias("_cnt"),
    )

    grouped = prepared.groupBy("name", "_gkey", "ts").agg(
        F.first("glabels").alias("labels"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_le").alias("le"), F.col("_cnt").alias("cnt")))
        ).alias("_buckets"),
    )

    buckets = F.col("_buckets")
    top = F.element_at(buckets, -1)
    total = top["cnt"]
    cutoff = phi_lit * total
    finite = F.slice(buckets, 1, F.greatest(F.size(buckets) - 1, F.lit(0)))

    # The walk (query.rs:325-348) as a fold: acc = (prev_count, prev_le,
    # result, done). A NaN count fails `cnt >= cutoff` and falls through to
    # the "advance" branch, exactly like the Rust comparison.
    init = F.struct(
        F.lit(0.0).alias("pc"),
        F.lit(0.0).alias("pv"),
        F.lit(0.0).alias("res"),
        F.lit(False).alias("done"),
    )

    def step(acc, x):
        qualify = F.struct(
            acc["pc"].alias("pc"),
            acc["pv"].alias("pv"),
            (
                x["le"]
                - (x["le"] - acc["pv"])
                * _ieee_div(x["cnt"] - cutoff, x["cnt"] - acc["pc"])
            ).alias("res"),
            F.lit(True).alias("done"),
        )
        advance = F.struct(
            x["cnt"].alias("pc"),
            x["le"].alias("pv"),
            x["le"].alias("res"),
            F.lit(False).alias("done"),
        )
        # NaN guard: Spark orders NaN greater than everything, but the Rust
        # comparison `bucket_count >= cutoff` is FALSE for NaN (query.rs:335)
        qualifies = (~F.isnan(x["cnt"])) & (x["cnt"] >= cutoff)
        return F.when(acc["done"], acc).when(qualifies, qualify).otherwise(advance)

    quantile = F.aggregate(finite, init, step, lambda acc: acc["res"])

    if strict:
        # Fuse the +Inf-top-bucket check into the value expression so column
        # pruning cannot optimize it away; assert_true returns NULL on pass.
        quantile = F.when(
            F.assert_true(
                top["le"] == _INF(), F.lit("Inf bucket has finite value")
            ).isNull(),
            quantile,
        )

    return grouped.select("name", "labels", "ts", quantile.alias("value"))
