"""Wide-Parquet → canonical long table (S4–S8 in SURVEY.md §2.1).

Reference parity: the row-scan/builder pipeline of
/root/reference/src/metricstore.rs:263-369, 440-519, 571-645, re-expressed as
one declarative unpivot — no row-at-a-time work:

- SingleColumn (metricstore.rs:414-416, 440-444): the one value column
  becomes ``value``; metric name = legalized base name.
- MultiColumn (metricstore.rs:417-434, 446-462): one output series per value
  column, named ``<base>_<col>``; a column literally named ``value`` keeps
  the bare base name. All series from one file share timestamps (here:
  trivially, same input rows).
- Histogram (metricstore.rs:465-519): each ``Le<bound>`` column → series
  ``<base>_bucket`` with label ``Le=<bound>``; ``sum``/``max``/``count`` →
  ``<base>_sum`` etc.; if ``count`` is absent but ``Le+Inf`` exists, a
  ``<base>_count`` series is synthesized from the +Inf bucket — and
  vice-versa (``Le+Inf`` bucket synthesized from ``count``,
  metricstore.rs:488-516).
- Numeric coercion (metricstore.rs:203-233): any numeric → f64; NULL → NaN.

Scale note: the unpivot is ``inline`` of a per-row array of finished
``(name, labels, ts, value)`` structs — narrow, no shuffle, fully pipelined
with the parquet scan. Each struct builds its own label map per row; NULL
label values are treated as absent. The projection is one Spark SQL string
(``selectExpr``) rather than a tree of PySpark ``Column`` calls: building
the tree cost about 2,300 py4j round trips per zip batch, more than the
rest of ingest, while the string is parsed once on the JVM side. The
string refers to the file's columns by position only (see ``sqltext``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prometheus_parquet_server_spark.labels import (
    LE_COLUMN_RE,
    legalize_metric_name,
    suffixed_metric_name,
)
from prometheus_parquet_server_spark.sources.classify import (
    IngestError,
    MetricType,
    classify_columns,
)
from prometheus_parquet_server_spark.sqltext import sql_double, sql_str


def _series_plan(base: str, classification) -> list[tuple[str, str | None, str]]:
    """[(series_name, Le_label_or_None, source_column)] for the unpivot."""
    base = legalize_metric_name(base)
    vcols = list(classification.value_columns)
    mt = classification.metric_type
    if mt == MetricType.SINGLE:
        return [(base, None, vcols[0])]
    if mt == MetricType.MULTI:
        return [
            (base if c == "value" else suffixed_metric_name(base, c), None, c)
            for c in vcols
        ]
    # Histogram
    plan: list[tuple[str, str | None, str]] = []
    bucket_name = suffixed_metric_name(base, "bucket")
    le_cols: dict[str, str] = {}
    aux_cols: dict[str, str] = {}
    for c in vcols:
        m = LE_COLUMN_RE.match(c)
        if m:
            le_cols[m.group(1)] = c
        else:
            aux_cols[c] = c
    for bound, col in le_cols.items():
        plan.append((bucket_name, bound, col))
    for aux in ("sum", "max", "count"):
        if aux in aux_cols:
            plan.append((suffixed_metric_name(base, aux), None, aux))
    inf_col = next((c for b, c in le_cols.items() if b in ("+Inf", "+inf")), None)
    if "count" not in aux_cols and inf_col is not None:
        # synthesize _count from the +Inf bucket (metricstore.rs:508-516)
        plan.append((suffixed_metric_name(base, "count"), None, inf_col))
    if "count" in aux_cols and inf_col is None:
        # synthesize the +Inf bucket from count (metricstore.rs:488-496)
        plan.append((bucket_name, "+Inf", "count"))
    return plan


def metric_type_map(schema, base_name: str) -> dict[str, str]:
    """Prometheus metadata type per canonical metric name a wide table
    yields (the serving-side complement of S3 classification): every name
    from the HISTOGRAM arm (the ``_bucket``/``_count``/``_sum`` family)
    reports ``"histogram"``; SINGLE/MULTI names report ``"unknown"`` —
    the Le-regex classification knows bucket structure, never
    counter-vs-gauge semantics, and claiming a type the data cannot prove
    would mislead clients (Prometheus itself serves "unknown" for
    untyped series). Feeds MetricsHTTPServer(metric_types=...) so
    /api/v1/metadata reflects ingest-time typing."""
    classification = classify_columns(schema)
    t = (
        "histogram"
        if classification.metric_type == MetricType.HISTOGRAM
        else "unknown"
    )
    return {
        name: t for name, _le, _src in _series_plan(base_name, classification)
    }


def wide_to_long(
    df: DataFrame,
    base_name: str,
    fixed_labels: dict[str, str] | None = None,
) -> DataFrame:
    """Ingest one wide table into the canonical long frame.

    ``fixed_labels`` are the re-tag labels for this file's zip prefix (S9,
    src/config.rs:27-53); row-level label columns override them on collision
    (the reference sets fixed labels first, then per-row values).

    Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by get_spark()).
    """
    classification = classify_columns(df.schema)
    # the SQL text names columns by position, so no column name of the
    # file ever reaches the parser (sqltext: ${...} and escapes)
    pos = {c: f"_c{i}" for i, c in enumerate(df.columns)}

    def entry(key: str, value: str) -> str:
        return f"struct({sql_str(key)} AS key, {value} AS value)"

    entries = [
        entry(k, "CAST(NULL AS STRING)" if v is None else sql_str(str(v)))
        for k, v in (fixed_labels or {}).items()
    ] + [
        entry(c, f"CAST({pos[c]} AS STRING)") for c in classification.label_columns
    ]

    def labels(le: str | None) -> str:
        # fixed, then row, then Le entries under LAST_WIN; NULL values absent
        es = entries + ([entry("Le", sql_str(le))] if le is not None else [])
        arr = (
            f"array({', '.join(es)})" if es
            else "CAST(array() AS ARRAY<STRUCT<key: STRING, value: STRING>>)"
        )
        return f"map_from_entries(filter({arr}, e -> e.value IS NOT NULL))"

    tcol = pos[classification.time_column]
    if isinstance(
        df.schema[classification.time_column].dataType,
        (T.TimestampType, T.TimestampNTZType, T.DateType),
    ):
        # NTZ/date won't cast straight to double; go via timestamp (UTC
        # session) → epoch seconds, matching the f64-seconds model
        tcol = f"CAST({tcol} AS TIMESTAMP)"
    ts = f"CAST({tcol} AS DOUBLE)"
    series = [
        f"struct({sql_str(name)} AS name, {labels(le)} AS labels, {ts} AS ts, "
        # S8: numeric → f64, NULL → NaN (metricstore.rs:203-233)
        f"coalesce(CAST({pos[src]} AS DOUBLE), {sql_double(math.nan)}) AS value)"
        for name, le, src in _series_plan(base_name, classification)
    ]
    return df.toDF(*pos.values()).selectExpr(f"inline(array({', '.join(series)}))")


def epoch_micros(df: DataFrame, col: str = "ts") -> Column:
    """Epoch microseconds (BIGINT) for a time column of ANY supported layout.

    Parquet writers disagree on the physical time encoding; the reference
    coerces every numeric to f64 at ingest (src/metricstore.rs:138-159) and
    we do the equivalent schema-adaptive normalization here:

    - TIMESTAMP / TIMESTAMP_NTZ (parquet timestamp[us]/[ms]): ``unix_micros``
      after an NTZ→instant cast — exact under the engine's pinned UTC session
      timezone (session.py), matching DuckDB's naive-as-UTC ``epoch_us``.
    - LONG (parquet timestamp[ns] read via ``nanosAsLong``): integer
      ``div 1000`` — the same ns→µs truncation DuckDB applies on read.
    """
    dt = df.schema[col].dataType.typeName()
    if dt in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(F.col(col).cast("timestamp"))
    return F.expr(f"{col} div 1000")


def check_monotonic(df: DataFrame) -> None:
    """VecTimeRange invariant (src/timevectors.rs:71-97): strictly increasing
    timestamps per series — duplicates are an ingest error."""
    from prometheus_parquet_server_spark.model import series_key_str

    dups = (
        df.groupBy(series_key_str().alias("sk"), "ts")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dups:
        raise IngestError(
            f"duplicate timestamp {dups[0]['ts']} within series {dups[0]['sk']!r}"
        )
