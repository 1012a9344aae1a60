"""As-of linear interpolation over labelled time series (T1–T3, T5).

Reference parity: ``interpolated_at`` + ``calculate_resampled_series``
(/root/reference/src/timeseries.rs:57-68, 164-191) and binary-search
``locate`` (/root/reference/src/timevectors.rs:111-148):

- probe before first sample  → first value (clamped extrapolation)
- probe at/after last sample → last value (``locate`` puts ``t == ts[last]``
  in ``Above``, src/timevectors.rs:130-132)
- between samples i, i+1 with ``ts[i] <= t < ts[i+1]`` →
  ``((t-t0)*v1 + (t1-t)*v0) / (t1-t0)``
- empty series → NaN

Spark strategy (scale note): the reference binary-searches per instant —
O(log n) per probe on one core. Here samples and probes are UNIONed and a
single window pass per series computes every probe's straddling samples in
one sort: one shuffle on the series key, then linear merge. This is the plan
that survives 100 TB — no per-probe lookups, no driver-side loops, and the
shuffle key (series) matches the downstream groupBy keys so AQE can coalesce.

Series identity: a MAP cannot be a window key, so every per-series window
partitions on the string key ``_skey`` (``model.series_key_str``). The
slot operators on a regular grid (:func:`resample_slots`, rate's lag path,
irate's slots) carry ``name`` and the canonical label map through the
window and the explode as payload, so one scan of the samples feeds the
whole plan. The probe paths still need the series list itself, to cross
with the grid, and take it from :func:`keyed_series`: a distinct over the
samples, joined back at the end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.model import (
    canonical_labels_sql,
    series_key_sql,
    series_key_str,
)
from prometheus_parquet_server_spark.sqltext import sql_double, sql_ident


def NAN() -> Column:
    """NaN literal (lazy: F.lit needs an active SparkContext)."""
    return F.lit(float("nan"))


def _asof_context(
    samples: DataFrame,
    probes: DataFrame,
    series_cols: Sequence[str],
    carry_cols: Sequence[str],
) -> DataFrame:
    """Attach to every probe row the straddling-sample context.

    ``samples``: series_cols + (ts, value), strictly increasing ts per series
    (the reference's VecTimeRange invariant, src/timevectors.rs:71-97 — the
    caller dedupes).
    ``probes``: series_cols + ``_pt`` (probe instant) + carry_cols.

    Output: probes + ``_prev`` struct(t, v, tp, vp) = sample at
    ``max ts <= _pt`` plus its predecessor, and ``_next`` struct(t, v) =
    sample at ``min ts > _pt``; null structs when no such sample exists.
    """
    lagw = Window.partitionBy(*series_cols).orderBy("ts")
    sample_side = samples.select(
        *series_cols,
        F.col("ts").alias("_t"),
        F.lit(0).alias("_p"),
        F.struct(
            F.col("ts").alias("t"),
            F.col("value").alias("v"),
            F.lag("ts").over(lagw).alias("tp"),
            F.lag("value").over(lagw).alias("vp"),
        ).alias("_sv"),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c) for c in carry_cols],
    )
    probe_side = probes.select(
        *series_cols,
        F.col("_pt").alias("_t"),
        F.lit(1).alias("_p"),
        F.lit(None).cast(sample_side.schema["_sv"].dataType).alias("_sv"),
        *carry_cols,
    )
    u = sample_side.unionByName(probe_side)
    # Samples sort before probes at equal _t (_p 0 < 1), so a sample at
    # exactly the probe instant lands in _prev (ts[i] <= t) and _next is
    # strictly greater — matching locate()'s Between/Above classification.
    #
    # BOTH windows are running (unboundedPreceding → currentRow) frames —
    # O(n) incremental evaluation. The naive (currentRow →
    # unboundedFollowing) frame for _next is O(n²) in Spark (the frame is
    # rescanned per row); ordering DESC and taking the running last() is the
    # same relation, measured ~6× faster end-to-end at sf0.1.
    wprev = (
        Window.partitionBy(*series_cols)
        .orderBy(F.col("_t").asc(), F.col("_p").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Reversed order: rows preceding the probe here = rows strictly after it
    # in ascending order (at equal _t the probe, _p=1, comes first DESC).
    wnext_rev = (
        Window.partitionBy(*series_cols)
        .orderBy(F.col("_t").desc(), F.col("_p").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("_prev", F.last("_sv", ignorenulls=True).over(wprev))
        .withColumn("_next", F.last("_sv", ignorenulls=True).over(wnext_rev))
        .filter(F.col("_p") == 1)
        .withColumnRenamed("_t", "_pt")
    )


def interp_value(pt: Column, prev: Column, nxt: Column) -> Column:
    """The interpolated_at() value expression (src/timeseries.rs:164-191)."""
    t0, v0 = prev["t"], prev["v"]
    t1, v1 = nxt["t"], nxt["v"]
    return (
        F.when(prev.isNull() & nxt.isNull(), NAN())  # NotFound → NaN
        .when(prev.isNull(), v1)  # Below → first value
        .when(nxt.isNull(), v0)  # Above → last value
        .otherwise(((pt - t0) * v1 + (t1 - pt) * v0) / (t1 - t0))
    )


def interpolate_at_probes(
    samples: DataFrame,
    probes: DataFrame,
    series_cols: Sequence[str],
    carry_cols: Sequence[str] = (),
    out_col: str = "value",
) -> DataFrame:
    """Evaluate interpolated_at(probe) for every probe row.

    Returns series_cols + carry_cols + ``_pt`` + ``out_col``.
    """
    ctx = _asof_context(samples, probes, series_cols, carry_cols)
    return ctx.select(
        *series_cols,
        *carry_cols,
        "_pt",
        interp_value(F.col("_pt"), F.col("_prev"), F.col("_next")).alias(out_col),
    )


def grid_probes(
    series_df: DataFrame, grid_df: DataFrame, offset: float = 0.0
) -> DataFrame:
    """Cross every distinct series with the (broadcast) grid.

    ``offset`` is the PromQL `offset` modifier (T5): the sampled instant is
    ``grid_ts - offset`` while the output keeps the grid timestamp
    (src/timeseries.rs:57-68).
    """
    return series_df.crossJoin(F.broadcast(grid_df)).withColumn(
        "_pt", F.col("gts") - F.lit(float(offset))
    )


def keyed_series(samples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Key a canonical long frame (name, labels, ts, value) by the string
    series identity (maps can't be window keys / deduped in Spark).

    Returns (keyed samples with ``_skey``, one-row-per-series frame with
    ``_skey, name, labels``).

    Only the probe paths use it, because they need the series list to
    cross with the grid or to join labels back after a groupBy: the as-of
    resample (``grid=None``), rate's two-probe path, ``rate``/``irate``
    with ``over_range == 0``, ``irate`` without a grid, and the
    ``*_over_time``/``changes``/``resets`` slot groupBys. The slot
    operators carry the labels instead (:func:`slot_pairs`).
    """
    # NULL labels key as the empty map (canonical_labels_sql coalesces),
    # so a NULL-labels series is the ordinary empty-label series on BOTH
    # the keyed and series sides. (Known degenerate limitation: a metric
    # literally named U+0000 shares an _skey with a NULL-named series of
    # the same labels — unreachable from any real ingest path, where names
    # are non-NUL strings.)
    keyed = samples.withColumn("_skey", series_key_str())
    # distinct-on-strings instead of groupBy(_skey).agg(first(labels))
    # (r14): `first` over a MAP column cannot use an UnsafeRow aggregation
    # buffer, so Spark planned a Sort + SortAggregate pair per series
    # frame — a per-row sort of the whole sample stream in every operator
    # that needs its series list. All-string distinct is one codegen'd
    # hash aggregate with map-side partials; the label map is rebuilt
    # from the SAME canonical sorted-entry JSON that _skey embeds, so one
    # _skey maps to exactly one distinct row and the rebuilt map holds
    # the identical entries (to_json/from_json is lossless for
    # map<string,string>).
    series = (
        keyed.selectExpr("_skey", "name", f"to_json({canonical_labels_sql()}) AS _lj")
        .distinct()
        .selectExpr("_skey", "name", "from_json(_lj, 'map<string,string>') AS labels")
    )
    return keyed, series


def slot_time(grid, slot: str) -> str:
    """SQL: grid instant of ``slot`` — ``start + slot·step``, the float ops
    of ``RegularTimeRange.to_df``."""
    return (
        f"({sql_double(grid.start)} + CAST({slot} AS DOUBLE) * "
        f"{sql_double(grid.increment)})"
    )


def slot_instant(grid, offset: float, slot: str) -> str:
    """SQL: probe instant of ``slot`` — ``(start + slot·step) − offset``,
    the float ops of :func:`grid_probes`."""
    return f"({slot_time(grid, slot)} - {sql_double(offset)})"


def first_slot_at(grid, offset: float, t: str) -> str:
    """SQL: the first slot whose probe instant is ``>= t`` (unbounded).

    ``ceil((t + offset − start) / step)``, then a ±1 correction comparing
    the exact probe expression against ``t`` — so slot boundaries match
    the as-of window path's comparisons ulp for ulp."""
    off, start, step = (sql_double(x) for x in (offset, grid.start, grid.increment))
    nc = f"CAST(ceil((({t} + {off}) - {start}) / {step}) AS BIGINT)"
    nc = (
        f"CASE WHEN {slot_instant(grid, offset, f'{nc} - 1')} >= {t} "
        f"THEN {nc} - 1 ELSE {nc} END"
    )
    return (
        f"CASE WHEN {slot_instant(grid, offset, nc)} < {t} "
        f"THEN {nc} + 1 ELSE {nc} END"
    )


def slot_limits(grid, slot_from: int) -> tuple[str, str]:
    """SQL: the slot range ``[slot_from, len(grid)]`` the slot operators
    clamp to, as BIGINT literals."""
    return f"CAST({int(slot_from)} AS BIGINT)", f"CAST({len(grid)} AS BIGINT)"


def _over(key_cols: Sequence[str], *order: str) -> str:
    """SQL window spec partitioned by ``key_cols``, ordered by ``order``."""
    keys = ", ".join(sql_ident(k) for k in key_cols)
    return f"OVER (PARTITION BY {keys} ORDER BY {', '.join(order)})"


def _chunked_slot_context(
    base: DataFrame,
    key_cols: Sequence[str],
    chunk_s: float,
    a_of,
    with_prev: bool,
):
    """Hot-series chunking for the slot-explode operators: window ``base``
    (key_cols + ts + value) on (key, floor(ts/chunk_s)) and carry each
    chunk's missing neighbors in from a per-chunk summary frame (one row
    per non-empty chunk, windowed by chunk — so a pair spanning any number
    of EMPTY chunks still resolves).

    The lead is carried as ONE STRUCT (never per-column coalesce): a
    mid-chunk sample with a NULL value must keep its own ts/value pair —
    per-column ``coalesce(lead(value), carry.value)`` would pair the
    in-chunk lead's ts with the NEXT CHUNK's value and silently break the
    bit-identical contract. Same for the lagged pair when ``with_prev``
    (irate's tp/vp).

    Returns the windowed frame with ``_a``, ``_rn``, ``_nts/_nv/_na``
    (+ ``_tp/_vp`` when ``with_prev``) and ``_sfirst`` (true on the
    series' very first sample).
    """
    if chunk_s <= 0:
        raise ValueError(f"chunk_s must be > 0, got {chunk_s}")
    keys = [sql_ident(k) for k in key_cols]
    base = base.withColumn("_ch", F.expr(f"floor(ts / {sql_double(chunk_s)})"))
    aggs = [F.expr("min_by(struct(ts, value), ts) AS _fst")]
    if with_prev:
        aggs.append(F.expr("max_by(struct(ts, value), ts) AS _lst"))
    sw = _over(key_cols, "_ch")
    sel = [
        *keys,
        "_ch",
        f"lead(_fst) {sw} AS _carry",
        f"row_number() {sw} AS _chrn",
    ]
    if with_prev:
        sel.append(f"lag(_lst) {sw} AS _prevlast")
    summ = base.groupBy(*key_cols, "_ch").agg(*aggs).selectExpr(*sel)
    cw = _over([*key_cols, "_ch"], "ts")
    s = base.join(summ, [*key_cols, "_ch"])
    for name, expr in (
        ("_a", a_of("ts")),
        ("_rn", f"row_number() {cw}"),
        ("_nx", f"coalesce(lead(struct(ts, value)) {cw}, _carry)"),
        ("_nts", "_nx.ts"),
        ("_nv", "_nx.value"),
        # _na via the same pure a_of the next chunk applies to its own
        # first sample — bit-identical to lead(_a) for in-chunk leads
        (
            "_na",
            f"CASE WHEN _nx IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE {a_of('_nx.ts')} END",
        ),
        ("_sfirst", "(_chrn = 1) AND (_rn = 1)"),
    ):
        s = s.withColumn(name, F.expr(expr))
    if with_prev:
        for name, expr in (
            ("_pv", f"coalesce(lag(struct(ts, value)) {cw}, _prevlast)"),
            ("_tp", "_pv.ts"),
            ("_vp", "_pv.value"),
        ):
            s = s.withColumn(name, F.expr(expr))
    return s


def slot_pairs(
    samples: DataFrame,
    grid,
    series_cols: Sequence[str] | None,
    offset: float,
    slot_from: int,
    chunk_s: float | None,
    with_prev: bool = False,
):
    """The shared prologue of the slot-explode operators (resample_slots and
    rate._irate_slots): key the series, then window each series' samples
    by ts to pair every sample with its successor.

    Each row gets ``_a`` (the first slot at or after its ts, clamped to
    ``[slot_from, len(grid)]``), ``_nts/_nv/_na`` (the next sample's ts,
    value and ``_a``; NULL on the last sample) and, with ``with_prev``,
    ``_tp/_vp`` (the previous sample). ``chunk_s`` selects the hot-series
    window (see :func:`_chunked_slot_context`).

    In canonical mode (``series_cols=None``) the window key is the string
    ``_skey`` alone, and ``name`` plus the canonical label map ride along
    as payload (built once per sample, the map ``from_json`` of the key's
    JSON would give), so no caller joins a series frame back.

    Returns (frame, SQL test for "first sample of its series", key_cols,
    payload columns).
    """
    if series_cols is None:
        key_cols, payload = ["_skey"], ["name", "labels"]
        base = samples.selectExpr(
            "name", f"{canonical_labels_sql()} AS labels", "ts", "value"
        ).selectExpr(f"{series_key_sql(canonical=True)} AS _skey", *payload, "ts", "value")
    else:
        key_cols, payload = list(series_cols), []
        base = samples.selectExpr(*(sql_ident(k) for k in key_cols), "ts", "value")
    lo, hi = slot_limits(grid, slot_from)

    def a_of(t: str) -> str:
        return f"greatest({lo}, least({hi}, {first_slot_at(grid, offset, t)}))"

    if chunk_s is not None:
        s = _chunked_slot_context(base, key_cols, chunk_s, a_of, with_prev)
        return s, "_sfirst", key_cols, payload
    w = _over(key_cols, "ts")
    cols = [f"{a_of('ts')} AS _a", f"row_number() {w} AS _rn"]
    if with_prev:
        cols += [f"lag(ts) {w} AS _tp", f"lag(value) {w} AS _vp"]
    cols += [f"lead(ts) {w} AS _nts", f"lead(value) {w} AS _nv"]
    base = base.selectExpr("*", *cols).selectExpr("*", f"lead(_a) {w} AS _na")
    return base, "_rn = 1", key_cols, payload


def explode_slot_ranges(
    s: DataFrame,
    key_cols: Sequence[str],
    carry: Sequence[str],
    ranges: str,
    tag: str,
) -> DataFrame:
    """One row per (sample, slot) from the SQL array ``ranges`` of
    ``struct(f, u, <tag>)`` half-open slot ranges ``[f, u)`` per sample:
    empty and NULL ranges are dropped, ``<tag>`` comes out as ``_<tag>``."""
    keys = [sql_ident(k) for k in key_cols]
    return (
        s.selectExpr(*keys, *carry, f"explode({ranges}) AS _r")
        .filter("_r.f IS NOT NULL AND _r.u > _r.f")
        .selectExpr(
            *keys,
            *carry,
            f"_r.{tag} AS _{tag}",
            "explode(sequence(_r.f, _r.u - 1)) AS _slot",
        )
    )


def resample_slots(
    samples: DataFrame,
    grid,
    series_cols: Sequence[str] | None = None,
    offset: float = 0.0,
    slot_from: int = 0,
    chunk_s: float | None = None,
):
    """Sort-free interpolation onto a REGULAR grid.

    The union+window as-of path sorts (samples + probes) — at G grid points
    per series that is an O(S·G) shuffle+sort. For a regular grid the slots
    each adjacent sample pair covers are computable: pair (tᵢ, tᵢ₊₁) owns
    slots with ``tᵢ <= pt(slot) < tᵢ₊₁`` where ``pt(slot) = start +
    slot·step − offset``. So the output is produced directly by
    ``explode(sequence(aᵢ, aᵢ₊₁−1))`` per pair — only the SAMPLES are
    window-sorted (lead), the S·G output rows never shuffle. Measured ~2.5×
    faster at 147k series × 84 slots; the advantage grows with G.

    Bit-exactness: slot boundaries come from ``ceil((t+offset−start)/step)``
    then a ±1 correction comparing the exact probe expression against the
    sample timestamp — reproducing the window path's comparisons ulp-for-ulp
    (:func:`first_slot_at`).

    The slot math, the window columns and the value are Spark SQL text
    (``F.expr``/``selectExpr``), not trees of PySpark ``Column`` calls:
    each ``Column`` call is several py4j round trips, and the tree for the
    slot math alone cost over a thousand per compiled query. The SQL
    parses to the same expressions, so the optimized plan is unchanged.

    ``chunk_s`` is the hot-series escape hatch (the asof_join/sessionize
    carry-in pattern): the default window partitions on the series key
    alone, so one series holding most samples funnels its whole sort
    through one task. With ``chunk_s`` set, the window partitions on
    (key, floor(ts/chunk_s)) and each chunk's missing lead — the NEXT
    chunk's first sample — is carried in via a tiny per-chunk summary
    frame (one row per non-empty chunk) window-ordered by chunk, so a
    pair spanning any number of empty chunks still resolves. Every pair
    is computed exactly once with the SAME expressions, so results are
    bit-identical for any chunk width (pinned by tests and by the shared
    t3 oracle).

    Returns (df with key_cols + payload (canonical mode: ``name``,
    ``labels``) + _slot + gts + value, key_cols). ``slot_from`` may be
    negative (rate's extended grid).
    """
    s, first, key_cols, payload = slot_pairs(
        samples, grid, series_cols, offset, slot_from, chunk_s
    )
    lo, hi = slot_limits(grid, slot_from)
    ranges = (
        f"array(struct(_a AS f, CASE WHEN _nts IS NULL THEN {hi} ELSE _na END AS u, "
        "0 AS below), "
        f"struct(CASE WHEN {first} THEN {lo} ELSE CAST(NULL AS BIGINT) END AS f, "
        "_a AS u, 1 AS below))"
    )
    exploded = explode_slot_ranges(
        s, key_cols, [*payload, "ts", "value", "_nts", "_nv"], ranges, "below"
    )
    pt = slot_instant(grid, offset, "_slot")
    val = (
        "CASE WHEN _below = 1 THEN value "  # Below → first value
        "WHEN _nts IS NULL THEN value "  # Above → last value
        f"ELSE (({pt} - ts) * _nv + (_nts - {pt}) * value) / (_nts - ts) END"
    )
    out = exploded.selectExpr(
        *(sql_ident(k) for k in key_cols),
        *payload,
        "_slot",
        f"{slot_time(grid, '_slot')} AS gts",
        f"{val} AS value",
    )
    return out, key_cols


def resample_to_grid(
    samples: DataFrame,
    grid_df: DataFrame | None,
    series_cols: Sequence[str] | None = None,
    offset: float = 0.0,
    ts_col: str = "ts",
    out_col: str = "value",
    grid=None,
    chunk_s: float | None = None,
) -> DataFrame:
    """T3: align every series onto the regular grid via interpolation
    (src/timeseries.rs:57-68 driven by src/query.rs:109-124).

    With ``series_cols=None`` (default) operates on the canonical long frame
    (name, labels, ts, value) and returns the same shape on grid instants.
    With explicit ``series_cols`` (plain, non-map columns) returns
    series_cols + ``ts_col`` + ``out_col``.

    Pass the :class:`RegularTimeRange` as ``grid`` to use the sort-free
    slot-explode plan (bit-identical results, no wide shuffle of the
    grid-sized output); it never reads ``grid_df``, which may then be
    None. ``chunk_s`` (slot path only) is the hot-series escape hatch — see
    :func:`resample_slots`.
    """
    if chunk_s is not None and grid is None:
        raise ValueError("chunk_s requires the slot path — pass grid=")
    if grid is not None:
        out, key_cols = resample_slots(
            samples, grid, series_cols, offset, chunk_s=chunk_s
        )
        cols = ["name", "labels"] if series_cols is None else key_cols
        return out.select(
            *cols, F.col("gts").alias(ts_col), F.col("value").alias(out_col)
        )
    if grid_df is None:
        raise ValueError("the as-of path needs grid_df (or pass grid=)")
    if series_cols is None:
        # Maps never enter the wide union/window/shuffle: only the string
        # series key rides along; (name, labels) come back via a join with
        # the small per-series frame (AQE turns it into a broadcast join).
        keyed, series = keyed_series(samples)
        probes = grid_probes(series.select("_skey"), grid_df, offset)
        out = interpolate_at_probes(
            keyed, probes, ["_skey"], carry_cols=["gts"], out_col=out_col
        )
        return out.join(series, "_skey").select(
            "name", "labels", F.col("gts").alias(ts_col), out_col
        )
    series = samples.select(*series_cols).distinct()
    probes = grid_probes(series, grid_df, offset)
    out = interpolate_at_probes(samples, probes, series_cols, carry_cols=["gts"], out_col=out_col)
    return out.select(*series_cols, F.col("gts").alias(ts_col), out_col)
