"""Cross-series aggregation: sum by / without / bare (A1–A3, SURVEY.md §2.5).

Reference parity: ``handle_sum_function`` + ``GroupBy::construct``
(/root/reference/src/query.rs:439-546) and ``LabelValueMap::retaining``
(/root/reference/src/labels.rs:193-203):

- the operand is grid-aligned first (resample) so all series share instants;
- ``by (l₁,…)``: the group key RETAINS only the listed labels; unknown label
  names are silently dropped (query.rs:465-470); the metric name survives
  only if ``__name__`` is listed (it is just a label, NAME_CODE=0);
- groups of one series pass through unchanged — sum of one = itself;
- values add blindly, so NaN poisons the group sum (query.rs:525-541) —
  Spark's double SUM has the same NaN-propagation (NULLs are skipped but we
  never emit NULL values, NaN is the engine's sentinel).

``without (…)`` and bare ``sum(v)`` error in the reference
(query.rs:461-463, 506-507); implemented here anyway per SURVEY §2.5 A2/A3.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prometheus_parquet_server_spark.labels import NAME_LABEL
from prometheus_parquet_server_spark.model import (
    EMPTY_LABELS,
    canonical_labels_sql,
    label_subset_sql,
)
from prometheus_parquet_server_spark.sqltext import sql_ident


#: Cross-series aggregation functions. The reference implements only sum
#: (src/query.rs:506-507 errors on everything else); the rest follow the
#: same align-then-aggregate shape with Spark's native semantics (NaN
#: propagates through sum/avg and max — Spark orders NaN greatest; count
#: counts every aligned point).
AGG_FNS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "stddev": F.stddev_pop,  # PromQL stddev is the population deviation
    "stdvar": F.var_pop,
    # PromQL `group`: 1 for every group regardless of values (even NaN)
    "group": lambda _c: F.max(F.lit(1.0)),
}


def exact_sum(col: Column | str) -> Column:
    """Order-insensitive sum of a double column: exact DECIMAL(38,9)
    accumulation, cast back to double.

    Float SUM is order-dependent — Spark's partial-sum order varies with
    shuffle placement, so a sum whose true value rides a rounding boundary
    flips its rounded digit run-to-run (the round-6 ``events_sessionize``
    driver flake; the round-7 audit flagged a1/a2/a3/promql_sum_rate/
    tpch_q1/events_rollup in the same class). Decimal accumulation is exact,
    so the result is a pure function of the multiset of values.

    Groups holding a non-finite value (NaN/±Inf would cast to decimal NULL
    and be silently skipped) fall back to the float sum, whose outcome for
    non-finite inputs is itself order-insensitive (NaN poisons; same-signed
    Inf saturates; mixed Inf yields NaN) — preserving the PromQL semantics
    documented in this module's header.

    Overflow never silently drops values either (ANSI is off, so decimal
    overflow yields NULL, not an error): a finite value too large for
    DECIMAL(38,9) (|v| ≥ 1e29) flips the same float-fallback guard, and a
    NULL *accumulated* sum (overflow past 38 digits) falls back through
    the COALESCE to the float sum.
    """
    c = F.col(col) if isinstance(col, str) else col
    dec = c.cast(T.DecimalType(38, 9))
    # NaN, ±Inf AND out-of-range finite values ALL cast to decimal NULL
    # (ANSI off), so one null-flip comparison is the complete guard.
    # bool_or, not count_if: the guard only needs "any bad row", and a
    # boolean buffer merges cheaper than a count in the fused aggregate.
    bad = c.isNotNull() & dec.isNull()
    return F.when(F.bool_or(bad), F.sum(c)).otherwise(
        F.coalesce(F.sum(dec).cast("double"), F.sum(c))
    )


def exact_avg(col: Column | str) -> Column:
    """Order-insensitive mean: :func:`exact_sum` divided by the non-null
    count (one IEEE division of two deterministic operands)."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c) / F.count(c)


#: BIGINT headroom for :func:`unit_sum` per-row units (2^63−1 ≈ 9.22e18).
LONG_SAFE = 9.0e18


def unit_sum(
    col: Column | str, scale: float = 1e6, guarded: bool = True
) -> Column:
    """Order-insensitive AND cross-engine bit-stable sum of a double
    column: per-row integer units ``FLOOR(v·scale + 0.5)`` summed as
    BIGINT, then ONE exact bigint→double cast and ONE IEEE division back
    to value scale.

    This is the reproducible-results contract for outputs that are HASHED
    against an independent engine (the driver's DuckDB oracle gate).
    :func:`exact_sum`'s decimal accumulation is order-insensitive on
    Spark, but its oracle twin still rides ``ROUND(SUM(DECIMAL), k)`` +
    a decimal→double cast — constructs whose rounding mode and
    correctly-rounded-ness vary ACROSS DuckDB VERSIONS (the
    events_sessionize driver-hash mismatch of rounds 6–7: bit-identical
    to DuckDB 1.0.0 locally, red in the driver; with ~10⁴ output rows
    and P≈1/1000 of an exact half-way digit per row, a tie-break
    difference flips a handful of rows every run). ``unit_sum`` uses only
    IEEE-754 double arithmetic (multiply, add, floor — identical on every
    engine), an integral-valued cast, and exact integer addition, so the
    result is a pure function of the value multiset on ANY engine.

    Semantics: each value is quantized to 1/scale units BEFORE the sum
    (sum of per-row-rounded values, not rounded sum-of-values — a
    deliberately different, deterministic contract). The result is exact
    while |Σ units| < 2^53; one unit = 1e-6 in value space at the default
    scale.

    ``guarded=True`` (default): any NaN or |v| ≥ ``LONG_SAFE``/scale row
    poisons the group to NaN (PromQL-style), keeping DuckDB's
    CAST-errors-on-NaN semantics mirrorable via a per-row CASE. With
    ``guarded=False`` (single aggregation buffer — use for columns finite
    by construction, e.g. TPC-H prices) non-finite inputs are the
    caller's contract violation."""
    c = F.col(col) if isinstance(col, str) else col
    s = float(scale)
    unit = F.floor(c * F.lit(s) + F.lit(0.5)).cast("long")
    if not guarded:
        return F.sum(unit).cast("double") / F.lit(s)
    bad = c.isNotNull() & (F.isnan(c) | (F.abs(c) >= F.lit(LONG_SAFE / s)))
    clean = F.when(bad, F.lit(None).cast("long")).otherwise(unit)
    return F.when(F.bool_or(bad), F.lit(float("nan"))).otherwise(
        F.sum(clean).cast("double") / F.lit(s)
    )


def unit_avg(col: Column | str, scale: float = 1e6) -> Column:
    """Bit-stable mean: :func:`unit_sum` divided by the non-null count —
    one further IEEE division of two deterministic operands (NaN poison
    propagates through the division)."""
    c = F.col(col) if isinstance(col, str) else col
    return unit_sum(c, scale) / F.count(c)


def _grouped_agg(
    df: DataFrame,
    aggs: list,
    out_cols: list[str],
    by: Sequence[str] | None,
    without: Sequence[str] | None,
) -> DataFrame:
    """Shared align-then-aggregate shape: group on (retained-labels JSON,
    ts) with no MAP columns in the shuffle, then rebuild the label map."""
    if by is not None and without is not None:
        raise ValueError("pass at most one of by/without")

    null_name = "CAST(NULL AS STRING)"
    if by is not None:
        keep = [k for k in by if k != NAME_LABEL]
        retained = label_subset_sql("labels", keep=keep)
        name_out = "name" if NAME_LABEL in by else null_name
    elif without is not None:
        drop = [k for k in without if k != NAME_LABEL]
        retained = label_subset_sql("labels", drop=drop)
        name_out = null_name if NAME_LABEL in without else "name"
    else:
        retained, name_out = EMPTY_LABELS, null_name

    # Perf shape: the wide aggregation runs over (string, string, double)
    # keys only — no MAP columns in the shuffle, no first(map) buffers
    # (measured ~3× faster at sf0.1). The label map is reconstructed from
    # the canonical JSON group key afterwards, once per output row. Both
    # projections are SQL text: one gateway call each.
    prepared = df.selectExpr(
        f"{name_out} AS _name",
        f"to_json({canonical_labels_sql(retained)}) AS _gkey",
        "ts",
        "value",
    )
    summed = prepared.groupBy("_name", "_gkey", "ts").agg(*aggs)
    return summed.selectExpr(
        "_name AS name",
        "from_json(_gkey, 'map<string,string>') AS labels",
        "ts",
        *(sql_ident(c) for c in out_cols),
    )


def aggregate_over_series(
    df: DataFrame,
    fns: Sequence[str] = ("sum",),
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
    exact: bool | str = False,
) -> DataFrame:
    """Element-wise aggregation across series per instant.

    ``df``: canonical long frame (name, labels, ts, value), grid-aligned.
    Exactly one of ``by`` / ``without`` may be given; neither = bare
    aggregate (group key empty).

    One ``fns`` entry → output column ``value``; several → one column per
    function name. Output: (name, labels, ts, value...) — name NULL unless
    retained.

    ``exact=True`` routes ``sum``/``avg`` through :func:`exact_sum` /
    :func:`exact_avg` (order-insensitive decimal accumulation) — the
    reproducible-results mode for pipelines whose outputs are hashed or
    diffed run-to-run; ``exact="unit"`` routes them through
    :func:`unit_sum` / :func:`unit_avg` (integer micro-unit accumulation,
    additionally bit-stable ACROSS engines — the oracle-graded contract);
    default off to keep plain float64 PromQL semantics.
    """
    for fn in fns:
        if fn not in AGG_FNS:
            raise ValueError(f"unknown aggregation {fn!r}")
    builders = dict(AGG_FNS)
    if exact == "unit":
        builders["sum"] = unit_sum
        builders["avg"] = unit_avg
    elif exact:
        builders["sum"] = exact_sum
        builders["avg"] = exact_avg
    single = len(fns) == 1
    aggs = [builders[fn]("value").alias("value" if single else fn) for fn in fns]
    out_cols = ["value"] if single else list(fns)
    return _grouped_agg(df, aggs, out_cols, by, without)


def value_label_str(v: Column) -> Column:
    """Sample value → label string for ``count_values`` (integral floats
    render without a decimal point and infinities as +Inf/-Inf, like
    Prometheus). Known remainder: non-integral magnitudes ≥ 1e7 (or
    < 1e-3) fall back to Java's Double.toString scientific notation
    ("1.23456785E7") rather than Go's shortest-decimal form."""
    as_long = v.cast("long")
    return (
        F.when(F.isnan(v), F.lit("NaN"))
        .when(v == F.lit(float("inf")), F.lit("+Inf"))
        .when(v == F.lit(float("-inf")), F.lit("-Inf"))
        .when(
            (v == as_long.cast("double")) & (F.abs(v) < F.lit(1e15)),
            as_long.cast("string"),
        )
        .otherwise(v.cast("string"))
    )


def count_values_over_series(
    df: DataFrame,
    dst_label: str,
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
) -> DataFrame:
    """PromQL ``count_values(dst, v)``: per instant, count the series
    sharing each distinct sample value; the formatted value joins the
    output labels as ``dst``. Bare → labels are just {dst}; ``by``/
    ``without`` compose like any aggregator. Same no-MAP-in-shuffle shape
    as the other aggregations (the value string is part of the canonical
    JSON group key)."""
    injected = df.select(
        "name",
        F.map_concat(
            F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst_label)),
            F.create_map(F.lit(dst_label), value_label_str(F.col("value"))),
        ).alias("labels"),
        "ts",
        "value",
    )
    aggs = [F.count(F.lit(1)).cast("double").alias("value")]
    if without is not None:
        without = [w for w in without if w != dst_label]
        return _grouped_agg(injected, aggs, ["value"], None, without)
    by_keys = [b for b in (by or []) if b != dst_label] + [dst_label]
    return _grouped_agg(injected, aggs, ["value"], by_keys, None)


def quantile_over_series(
    df: DataFrame,
    phi: float,
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
) -> DataFrame:
    """PromQL ``quantile(φ, v)``: φ-quantile across series per instant with
    linear interpolation between order statistics (exact ``percentile`` —
    identical math to SQL ``percentile_cont``/DuckDB ``quantile_cont``)."""
    aggs = [F.percentile(F.col("value"), F.lit(float(phi))).alias("value")]
    return _grouped_agg(df, aggs, ["value"], by, without)


def sum_over_series(
    df: DataFrame,
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
    exact: bool | str = False,
) -> DataFrame:
    """A1–A3: element-wise sum across series (reference semantics — NaN
    poisons the group, groups of one pass through)."""
    return aggregate_over_series(df, ("sum",), by=by, without=without, exact=exact)


def topk_over_series(
    df: DataFrame, k: int, largest: bool = True, salt_buckets: int = 16
) -> DataFrame:
    """PromQL ``topk(k, v)`` / ``bottomk(k, v)`` (beyond the reference's
    4-function surface): keep the k series with the largest (smallest)
    value per instant, labels intact.

    Two-phase with salting: a window partitioned by ``ts`` alone would put
    EVERY series for an instant into one partition — a guaranteed skew wall
    at high cardinality. Phase 1 ranks within (ts, series-hash salt) and
    keeps k per salt; phase 2 ranks the ≤ salt_buckets·k survivors per ts.
    The per-ts top-k is always a subset of the per-salt top-k union, so the
    result is identical; no partition ever holds more than its salt's share.

    Deterministic tie-break on the canonical series key. NaN values rank
    last in both directions (Spark orders NaN greatest; descending ranks on
    a NaN→null projection with nulls last)."""
    from pyspark.sql import Window

    from prometheus_parquet_server_spark.model import series_key_str

    rank_val = F.when(F.isnan("value"), F.lit(None)).otherwise(F.col("value"))
    order = rank_val.desc_nulls_last() if largest else rank_val.asc_nulls_last()
    salt = F.pmod(F.xxhash64(series_key_str()), F.lit(salt_buckets))
    w1 = Window.partitionBy("ts", salt).orderBy(order, series_key_str())
    w2 = Window.partitionBy("ts").orderBy(order, series_key_str())
    return (
        df.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
        .withColumn("_rk", F.row_number().over(w2))
        .filter(F.col("_rk") <= k)
        .drop("_rk1", "_rk")
    )
