"""rate() and irate() over range vectors (P1, P2 in SURVEY.md §2.4).

Reference parity:
- ``rate``  : /root/reference/src/timeseries.rs:70-85, 104-113 — per grid
  instant t (after `offset`): ``(interp(t) − interp(t−r)) / r`` using clamped
  linear interpolation; ``r == 0`` → NaN. No counter-reset logic.
- ``irate`` : /root/reference/src/timeseries.rs:87-102, 116-161 — faithfully
  replicated INCLUDING two reference quirks (readme.md:104 admits "irate
  logic needs work"); see irate_value() comments.

Spark strategy: both endpoints of every grid instant become probe rows in the
single-pass as-of window of interpolate.py (one shuffle on the series key),
then a groupBy(series, grid_ts) pairs the endpoints. Map-side partial
aggregation keeps the second exchange small; at cluster scale both exchanges
hash on the same series-dominated keys.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.operators.interpolate import (
    NAN,
    _asof_context,
    explode_slot_ranges,
    interp_value,
    keyed_series,
    resample_slots,
    slot_instant,
    slot_limits,
    slot_pairs,
    slot_time,
)
from prometheus_parquet_server_spark.model import series_key_str
from prometheus_parquet_server_spark.sqltext import sql_double, sql_ident


def _endpoint_probes(
    series: DataFrame,
    grid_df: DataFrame,
    series_cols: Sequence[str],
    over_range: float,
    offset: float,
) -> DataFrame:
    """Two probes per (series, grid instant): hi at ``t−offset`` and lo at
    ``t−offset−r`` (src/timeseries.rs:75-77)."""
    endpoints = F.array(
        F.struct(
            (F.col("gts") - F.lit(float(offset))).alias("pt"), F.lit(1).alias("hi")
        ),
        F.struct(
            (F.col("gts") - F.lit(float(offset)) - F.lit(float(over_range))).alias("pt"),
            F.lit(0).alias("hi"),
        ),
    )
    extra = [c for c in series.columns if c not in series_cols]
    return (
        series.crossJoin(F.broadcast(grid_df))
        .select(*series_cols, *extra, "gts", F.explode(endpoints).alias("_e"))
        .select(
            *series_cols,
            *extra,
            "gts",
            F.col("_e.pt").alias("_pt"),
            F.col("_e.hi").alias("_hi"),
        )
    )


def _lag_fast_path_applicable(grid, over_range: float, offset: float) -> bool:
    """The t−r endpoint coincides with an earlier grid slot when r is a
    whole number of steps AND all quantities are integral (integer doubles
    under 2^53 add/subtract exactly, so ``start + (i−k)·step`` is
    bit-identical to ``(start + i·step) − r`` — float-safe slot reuse)."""
    if grid is None or over_range <= 0.0:
        return False
    vals = (grid.start, grid.increment, over_range, offset)
    if not all(float(v).is_integer() for v in vals):
        return False
    return (over_range % grid.increment) == 0.0


def rate_to_grid(
    samples: DataFrame,
    grid_df: DataFrame,
    series_cols: Sequence[str] | None = None,
    over_range: float = 0.0,
    offset: float = 0.0,
    ts_col: str = "ts",
    out_col: str = "value",
    grid=None,
) -> DataFrame:
    """P1: ``rate(v[r])`` = (interp(t) − interp(t−r)) / r per grid instant.

    ``series_cols=None`` = canonical long-frame mode (name, labels, ts,
    value) in and out; explicit plain columns otherwise.

    Pass the :class:`RegularTimeRange` as ``grid`` to enable the lag fast
    path: one probe per extended-grid slot and a window ``lag(k)`` instead
    of two probes + a pairing shuffle (the lag window reuses the as-of
    window's partitioning/sort).
    """
    if _lag_fast_path_applicable(grid, over_range, offset):
        return _rate_lagged(
            samples, grid, series_cols, over_range, offset, ts_col, out_col
        )
    canonical = series_cols is None
    if canonical:
        # maps stay out of the wide shuffles — string key only, series
        # frame joined back at the end (AQE broadcasts it)
        samples, series = keyed_series(samples)
        key_cols = ["_skey"]
        probe_series = series.select("_skey")
    else:
        series = samples.select(*series_cols).distinct()
        key_cols = list(series_cols)
        probe_series = series
    if over_range == 0.0:
        # last_instant == first_instant → NaN everywhere (timeseries.rs:104-106)
        out = series.crossJoin(F.broadcast(grid_df))
        cols = ["name", "labels"] if canonical else key_cols
        return out.select(*cols, F.col("gts").alias(ts_col), NAN().alias(out_col))
    probes = _endpoint_probes(probe_series, grid_df, key_cols, over_range, offset)
    interp = interpolate_at_probes_raw(samples, probes, key_cols)
    hi = F.first(F.when(F.col("_hi") == 1, F.col("_iv")), ignorenulls=True)
    lo = F.first(F.when(F.col("_hi") == 0, F.col("_iv")), ignorenulls=True)
    agged = interp.groupBy(*key_cols, "gts").agg(
        ((hi - lo) / F.lit(float(over_range))).alias(out_col)
    )
    if canonical:
        agged = agged.join(series, "_skey")
    cols = ["name", "labels"] if canonical else key_cols
    return agged.select(*cols, F.col("gts").alias(ts_col), out_col)


def _rate_lagged(
    samples: DataFrame,
    grid,
    series_cols: Sequence[str] | None,
    over_range: float,
    offset: float,
    ts_col: str,
    out_col: str,
) -> DataFrame:
    """Lag fast path: sort-free slot resample onto the grid extended k slots
    backwards, then ``(v[i] − v[i−k]) / r`` per series ordered by slot."""
    k = int(over_range / grid.increment)
    out, key_cols = resample_slots(samples, grid, series_cols, offset, slot_from=-k)
    cols = ["name", "labels"] if series_cols is None else key_cols
    w = Window.partitionBy(*key_cols).orderBy("_slot")
    return (
        out.withColumn("_lo", F.lag("value", k).over(w))
        .filter(F.col("_slot") >= 0)
        .select(
            *cols,
            F.col("gts").alias(ts_col),
            ((F.col("value") - F.col("_lo")) / F.lit(float(over_range))).alias(out_col),
        )
    )


def rate_from_aligned(
    aligned_ext_sel: DataFrame,
    grid,
    over_range: float,
) -> DataFrame:
    """Serving fast path: rate over a store aligned to this grid EXTENDED
    ``pad`` steps backwards (see MetricsHTTPServer._aligned_for).

    ``interp(t)`` for every (extended-)grid instant is materialized in the
    aligned frame, and when r is a whole number of (integral) steps the
    t−r endpoint is exactly an earlier instant of the same frame (same
    float — see _lag_fast_path_applicable), so
    ``rate = (v[i] − v[i−k]) / r`` is ONE ``lag(k)`` window over the
    persisted frame — no slot explode, no raw scan, no edge case (the
    backward padding supplies the t−r endpoints of the first k instants;
    caller must check k ≤ pad).

    Bit-identical to rate_to_grid: identical interpolation feeds an
    identical (hi − lo)/r expression.

    The single window shuffle carries the labels MAP as payload,
    partitioned on the string series key — the same shape as the batch
    slot operators (interpolate.slot_pairs), so carrying the map is not a
    serving-only trade. This path is only reachable through a
    server-provided aligned store.
    """
    k = int(over_range / grid.increment)
    w = Window.partitionBy(series_key_str()).orderBy("ts")
    return (
        aligned_ext_sel.withColumn("_lo", F.lag("value", k).over(w))
        .filter(F.col("ts") >= F.lit(float(grid.start)))
        .select(
            "name",
            "labels",
            "ts",
            ((F.col("value") - F.col("_lo")) / F.lit(float(over_range))).alias(
                "value"
            ),
        )
    )


def interpolate_at_probes_raw(
    samples: DataFrame,
    probes: DataFrame,
    series_cols: Sequence[str],
    carry_cols: Sequence[str] = ("gts", "_hi"),
) -> DataFrame:
    """interp value per probe, keeping the carry columns."""
    ctx = _asof_context(samples, probes, series_cols, carry_cols=list(carry_cols))
    return ctx.withColumn(
        "_iv", interp_value(F.col("_pt"), F.col("_prev"), F.col("_next"))
    )


def irate_value(pt: str, prev: str, nxt: str) -> str:
    """SQL for the irate_over_range() expression (src/timeseries.rs:116-161)
    at probe instant ``pt``, given the SQL structs ``prev`` (t, v, tp, vp)
    and ``nxt`` (t, v).

    With locate(t) = Between(i, i+1) (``ts[i] <= t < ts[i+1]``); any other
    locate result → NaN (Below/Above/NotFound, timeseries.rs:123-128), i.e.
    here: prev or next struct missing → NaN.

    Reference quirks replicated deliberately:
    - first-interval case (i == 0, timeseries.rs:135-144): ``delta_v =
      v[i] − v[i+1]`` — note the ORDER: lower-index minus upper-index value,
      so an increasing series yields a negative delta → NaN.
    - otherwise (timeseries.rs:146-148): the "interpolated" endpoint uses
      SWAPPED weights ``((t−ts[i])·v[i] + (ts[i+1]−t)·v[i+1]) / (ts[i+1]−ts[i])``
      (reverse interpolation), then ``delta_v = that − v[i−1]``,
      ``delta_t = t − ts[i−1]``; negative delta_v → NaN.
    """
    t0, v0, tp, vp = (f"{prev}.{f}" for f in ("t", "v", "tp", "vp"))
    t1, v1 = f"{nxt}.t", f"{nxt}.v"
    nan = sql_double(math.nan)
    first_pair = (
        f"CASE WHEN ({v0} - {v1}) < 0 THEN {nan} "
        f"ELSE ({v0} - {v1}) / ({t1} - {t0}) END"
    )
    dv = f"(((({pt} - {t0}) * {v0} + ({t1} - {pt}) * {v1}) / ({t1} - {t0})) - {vp})"
    general = f"CASE WHEN {dv} < 0 THEN {nan} ELSE {dv} / ({pt} - {tp}) END"
    return (
        f"CASE WHEN {prev} IS NULL OR {nxt} IS NULL THEN {nan} "
        f"WHEN {tp} IS NULL THEN {first_pair} ELSE {general} END"
    )


def _irate_slots(
    samples: DataFrame,
    grid,
    series_cols: Sequence[str] | None,
    offset: float,
    ts_col: str,
    out_col: str,
    chunk_s: float | None = None,
) -> DataFrame:
    """Sort-free irate on a REGULAR grid (same slot-ownership trick as
    resample_slots, sharing its slot_pairs prologue): each adjacent sample
    pair (i, i+1) owns the slots with ``ts[i] <= pt < ts[i+1]`` — exactly
    locate()'s Between(i, i+1) — and carries its lagged predecessor
    (tp, vp) for the general-case formula. Slots before the first sample
    (Below) and at/after the last (Above) are NaN per
    timeseries.rs:123-128, so those ranges are never emitted; the
    consumer treats missing grid rows as NaN series points — but to keep
    the output shape identical to the window path we DO emit them with NaN.

    ``chunk_s`` is the hot-series escape hatch (the resample_slots
    pattern, with the TWO-sample carry-in irate needs): the window
    partitions on (key, floor(ts/chunk_s)); a per-chunk summary frame
    supplies each chunk BOTH its missing lead (next non-empty chunk's
    first sample) AND its missing lag pair tp/vp (previous non-empty
    chunk's LAST sample, feeding the reference's general-case formula,
    src/timeseries.rs:146-148). Identical expressions per pair →
    bit-identical output for any chunk width.
    """
    s, first, key_cols, payload = slot_pairs(
        samples, grid, series_cols, offset, 0, chunk_s, with_prev=True
    )
    lo, hi = slot_limits(grid, 0)
    null = "CAST(NULL AS BIGINT)"
    # three slot ranges per sample row: the Between range owned by pair
    # (this, next), Below (first sample only), Above (last sample only)
    ranges = (
        "array("
        "struct(_a AS f, "
        f"coalesce(CASE WHEN _nts IS NULL THEN {null} ELSE _na END, _a) AS u, "
        "0 AS oob), "
        f"struct(CASE WHEN {first} THEN {lo} ELSE {null} END AS f, _a AS u, "
        "1 AS oob), "  # Below → NaN
        f"struct(CASE WHEN _nts IS NULL THEN _a ELSE {null} END AS f, "
        f"CASE WHEN _nts IS NULL THEN {hi} ELSE {null} END AS u, "
        "1 AS oob))"  # Above (pt >= last ts) → NaN
    )
    exploded = explode_slot_ranges(
        s, key_cols, [*payload, "ts", "value", "_tp", "_vp", "_nts", "_nv"], ranges, "oob"
    )
    val = irate_value(
        slot_instant(grid, offset, "_slot"),
        "(struct(ts AS t, value AS v, _tp AS tp, _vp AS vp))",
        "(struct(_nts AS t, _nv AS v))",
    )
    return exploded.selectExpr(
        *(payload or [sql_ident(k) for k in key_cols]),
        f"{slot_time(grid, '_slot')} AS {sql_ident(ts_col)}",
        f"CASE WHEN _oob = 1 THEN {sql_double(math.nan)} ELSE {val} END "
        f"AS {sql_ident(out_col)}",
    )


def irate_to_grid(
    samples: DataFrame,
    grid_df: DataFrame,
    series_cols: Sequence[str] | None = None,
    over_range: float = 0.0,
    offset: float = 0.0,
    ts_col: str = "ts",
    out_col: str = "value",
    grid=None,
    chunk_s: float | None = None,
) -> DataFrame:
    """P2: ``irate(v[r])``. ``r`` only gates the r==0 → NaN check — its value
    is otherwise ignored by the math (src/timeseries.rs:117-121 uses only
    ``last_instant``).

    Pass the :class:`RegularTimeRange` as ``grid`` for the sort-free
    slot-explode plan (no probe union, samples-only window); ``chunk_s``
    (slot path only) is the hot-series escape hatch — see
    :func:`_irate_slots`."""
    if chunk_s is not None and grid is None:
        raise ValueError("chunk_s requires the slot path — pass grid=")
    if grid is not None and over_range != 0.0:
        return _irate_slots(
            samples, grid, series_cols, offset, ts_col, out_col, chunk_s=chunk_s
        )
    canonical = series_cols is None
    if canonical:
        samples, series = keyed_series(samples)
        key_cols = ["_skey"]
        probe_series = series.select("_skey")
    else:
        series = samples.select(*series_cols).distinct()
        key_cols = list(series_cols)
        probe_series = series
    if over_range == 0.0:
        out = series.crossJoin(F.broadcast(grid_df))
        cols = ["name", "labels"] if canonical else key_cols
        return out.select(*cols, F.col("gts").alias(ts_col), NAN().alias(out_col))
    probes = probe_series.crossJoin(F.broadcast(grid_df)).withColumn(
        "_pt", F.col("gts") - F.lit(float(offset))
    )
    ctx = _asof_context(samples, probes, key_cols, carry_cols=["gts"])
    vals = ctx.select(
        *key_cols,
        F.col("gts").alias(ts_col),
        F.expr(irate_value("_pt", "_prev", "_next")).alias(out_col),
    )
    if canonical:
        vals = vals.join(series, "_skey").select(
            "name", "labels", ts_col, out_col
        )
    return vals
