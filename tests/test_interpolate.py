"""Golden interpolation values (reference src/timeseries.rs:573-613)."""

import pytest
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.operators.interpolate import (
    interpolate_at_probes,
    resample_to_grid,
)
from tests.conftest import METRIC_SCHEMA, assert_close, long_frame

SERIES = [("m", {"h": "a"}, t, v) for t, v in [(100.0, 1.0), (115.0, 2.0), (120.0, 3.0)]]

GOLDEN = {
    80.0: 1.0,    # below range → clamp first
    100.0: 1.0,   # exact sample
    107.5: 1.5,
    116.0: 2.2,
    117.0: 2.4,
    119.0: 2.8,
    120.0: 3.0,   # at last sample (locate→Above) → last value
    130.0: 3.0,   # above range → clamp last
}


def test_golden_interpolation(spark):
    samples = long_frame(spark, SERIES)
    probes = spark.createDataFrame(
        [("m", t) for t in GOLDEN], "name string, _pt double"
    )
    out = interpolate_at_probes(samples, probes, series_cols=["name"])
    got = {r["_pt"]: r["value"] for r in out.collect()}
    assert len(got) == len(GOLDEN)
    for t, expect in GOLDEN.items():
        assert_close(got[t], expect)


def test_empty_series_yields_nan(spark):
    samples = long_frame(spark, SERIES).filter(F.lit(False))
    probes = spark.createDataFrame([("m", 100.0)], "name string, _pt double")
    out = interpolate_at_probes(samples, probes, series_cols=["name"]).collect()
    assert_close(out[0]["value"], float("nan"))


def test_resample_to_grid(spark):
    samples = long_frame(spark, SERIES)
    grid = RegularTimeRange(95.0, 125.0, 10.0)  # 95,105,115,125
    out = resample_to_grid(samples, grid.to_df(spark), series_cols=["name"])
    got = {r["ts"]: r["value"] for r in out.collect()}
    assert_close(got[95.0], 1.0)
    assert_close(got[105.0], 1.0 + 5.0 / 15.0)
    assert_close(got[115.0], 2.0)
    assert_close(got[125.0], 3.0)


def test_resample_with_offset(spark):
    # offset modifier: sample at t-offset, keep grid timestamps
    samples = long_frame(spark, SERIES)
    grid = RegularTimeRange(115.0, 125.0, 10.0)
    out = resample_to_grid(samples, grid.to_df(spark), series_cols=["name"], offset=10.0)
    got = {r["ts"]: r["value"] for r in out.collect()}
    assert_close(got[115.0], 1.0 + 5.0 / 15.0)  # interp(105)
    assert_close(got[125.0], 2.0)               # interp(115)


def test_multiple_series_independent(spark):
    rows = SERIES + [("m", {"h": "b"}, 100.0, 10.0), ("m", {"h": "b"}, 120.0, 30.0)]
    samples = long_frame(spark, rows).withColumn(
        "sk", F.col("labels").getItem("h")
    )
    probes = spark.createDataFrame(
        [("a", 110.0), ("b", 110.0)], "sk string, _pt double"
    )
    out = interpolate_at_probes(samples, probes, series_cols=["sk"])
    got = {r["sk"]: r["value"] for r in out.collect()}
    assert_close(got["a"], 1.0 + 10.0 / 15.0)
    assert_close(got["b"], 20.0)


def test_chunked_resample_bit_identical(spark):
    """resample_slots(chunk_s=...) — the hot-series escape hatch — must be
    bit-identical to the uniform slot path for ANY chunk width, including
    widths leaving empty chunks between samples (the carry-in pair then
    spans several empty chunks) and with a PromQL offset in play."""
    from prometheus_parquet_server_spark.operators.interpolate import (
        resample_to_grid,
    )

    # sparse series: gaps of 500s leave many empty 60s chunks; series 'b'
    # lives entirely inside one chunk; 'c' has a single sample
    rows = (
        [("a", 10.0 + 500.0 * i, float(i * i)) for i in range(8)]
        + [("b", 1000.0 + 3.0 * i, 7.0 + i) for i in range(5)]
        + [("c", 1700.0, 42.0)]
        # NULL value mid-series: the carry must stay a (ts, value) PAIR —
        # per-column coalesce would pair this row's in-chunk lead ts with
        # the next chunk's value (the round-7 review finding)
        + [("d", 100.0, 1.0), ("d", 130.0, None), ("d", 900.0, 5.0)]
    )
    df = spark.createDataFrame(rows, "sid string, ts double, value double")
    grid = RegularTimeRange(0.0, 3600.0, 90.0)
    gdf = grid.to_df(spark)

    def got(**kw):
        out = resample_to_grid(df, gdf, series_cols=["sid"], grid=grid, **kw)
        return sorted(
            (r["sid"], r["ts"], repr(r["value"])) for r in out.collect()
        )

    base = got()
    for cs in (60.0, 777.0, 5000.0):
        assert got(chunk_s=cs) == base, f"chunk_s={cs} diverged"
    base_off = got(offset=120.0)
    assert got(offset=120.0, chunk_s=60.0) == base_off

    with pytest.raises(ValueError, match="chunk_s"):
        resample_to_grid(df, gdf, series_cols=["sid"], grid=grid, chunk_s=0.0)
    with pytest.raises(ValueError, match="slot path"):
        resample_to_grid(df, gdf, series_cols=["sid"], chunk_s=60.0)


def test_chunked_resample_canonical_frame(spark):
    """The canonical (name, labels, ts, value) entry point composes with
    chunk_s too (series key derived via keyed_series)."""
    from prometheus_parquet_server_spark.operators.interpolate import (
        resample_to_grid,
    )
    from tests.conftest import long_frame

    df = long_frame(
        spark,
        [
            ("m", {"u": "1"}, 5.0, 1.0),
            ("m", {"u": "1"}, 900.0, 3.0),
            ("m", {"u": "2"}, 200.0, 9.0),
        ],
    )
    grid = RegularTimeRange(0.0, 1000.0, 100.0)
    gdf = grid.to_df(spark)

    def got(**kw):
        out = resample_to_grid(df, gdf, grid=grid, **kw)
        return sorted(
            (r["name"], str(sorted(r["labels"].items())), r["ts"], repr(r["value"]))
            for r in out.collect()
        )

    assert got(chunk_s=250.0) == got()


# The slot operators carry each series' name and canonical label map
# through the window and the explode instead of joining a series frame
# back. The probe paths (grid=None) still join keyed_series' frame, so
# they are the reference for every edge of the label map.
EDGE_LABELS = [
    ("m", None),
    ("m", {}),  # the same series as NULL labels
    ("m", {"a": None}),  # a NULL value in the map
    ("m", {"z": "1", "a": "2", "m": "3"}),
    (None, {"b": "x"}),
]


def _edge_frame(spark):
    rows = [
        (name, labels, 10.0 * i + j, float("nan") if i == 4 else float(i * i))
        for j, (name, labels) in enumerate(EDGE_LABELS)
        for i in range(9)
    ]
    df = spark.createDataFrame(rows, METRIC_SCHEMA)
    # an input map whose entries are out of key order
    return df.unionByName(
        spark.range(9).selectExpr(
            "'u' AS name",
            "map('zz', 'q', 'aa', 'r', 'mm', CAST(NULL AS STRING)) AS labels",
            "CAST(id * 7 AS DOUBLE) AS ts",
            "CAST(id AS DOUBLE) AS value",
        )
    )


def _exact_rows(df):
    """Sorted rows with the label map as its key list (entry order) and
    JSON, and the value's bits."""
    import struct

    out = df.select(
        "name", F.map_keys("labels").alias("k"), F.to_json("labels").alias("j"), "ts", "value"
    )
    return sorted(
        (str(r["name"]), tuple(r["k"]), r["j"], r["ts"], struct.pack(">d", r["value"]).hex())
        for r in out.collect()
    )


@pytest.mark.parametrize(
    "op,chunk_s",
    [("resample", None), ("resample", 25.0), ("rate", None), ("irate", None), ("irate", 25.0)],
)
def test_slot_operators_carry_canonical_labels(spark, op, chunk_s):
    from prometheus_parquet_server_spark.operators.rate import irate_to_grid, rate_to_grid

    df = _edge_frame(spark)
    grid = RegularTimeRange(0.0, 90.0, 10.0)
    gdf = grid.to_df(spark)
    if op == "resample":
        slot = resample_to_grid(df, None, grid=grid, offset=10.0, chunk_s=chunk_s)
        probe = resample_to_grid(df, gdf, offset=10.0)
    elif op == "rate":  # the lag path: whole-step range, integral grid
        slot = rate_to_grid(df, gdf, over_range=30.0, offset=10.0, grid=grid)
        probe = rate_to_grid(df, gdf, over_range=30.0, offset=10.0)
    else:
        slot = irate_to_grid(df, gdf, over_range=30.0, offset=10.0, grid=grid, chunk_s=chunk_s)
        probe = irate_to_grid(df, gdf, over_range=30.0, offset=10.0)
    got = _exact_rows(slot)
    assert got == _exact_rows(probe)
    assert len(got) == 5 * len(grid)  # NULL and empty labels: one series
    for _name, keys, *_ in got:
        assert list(keys) == sorted(keys)


def test_selector_sum_over_one_file_scans_once(spark, tmp_path):
    """``sum by (host) (m)`` over a one-file snapshot read plans one scan
    and runs three jobs. A series frame joined back from a second scan of
    the samples costs a second FileScan, a distinct aggregate and a
    broadcast: five jobs."""
    from prometheus_parquet_server_spark.plans.compiler import run_query
    from prometheus_parquet_server_spark.sources import snapshot_read, snapshot_write
    from tests.test_footer import jobs_run

    rows = [
        ("m", {"host": h, "method": m}, 15.0 * i, float(i))
        for h in ("a", "b") for m in ("GET", "PUT") for i in range(8)
    ]
    root = str(tmp_path / "store")
    snapshot_write(spark, root, long_frame(spark, rows), mode="append")
    fresh = snapshot_read(spark, root, names=["m"], ts_range=(0.0, 105.0))
    out = run_query(spark, fresh, "sum by (host) (m)", RegularTimeRange(0.0, 105.0, 15.0))
    plan = out._jdf.queryExecution().executedPlan().toString()  # not yet run
    assert plan.count("FileScan") == 1, plan
    pdf, jobs = jobs_run(spark, out.toPandas)
    assert len(pdf) == 2 * 8
    assert jobs == 3
