"""Property-based tests (hypothesis) for the numeric core."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from prometheus_parquet_server_spark.durations import parse_duration
from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.operators.interpolate import interpolate_at_probes
from prometheus_parquet_server_spark.sources.store import shift_to_midnight_offset
from tests.conftest import long_frame


@given(
    h=st.integers(0, 99),
    m=st.integers(0, 59),
    s=st.integers(0, 59),
    ms=st.integers(0, 999),
)
def test_duration_compose(h, m, s, ms):
    text = f"{h}h{m}m{s}s{ms}ms"
    assert parse_duration(text) == pytest.approx(h * 3600 + m * 60 + s + ms / 1000.0)


@given(
    start=st.floats(0, 1e9, allow_nan=False),
    steps=st.floats(0.0, 1000.0, allow_nan=False),
    step=st.floats(0.001, 1e5, allow_nan=False),
)
def test_grid_len_invariants(start, steps, step):
    span = steps * step  # bounded point count — instants() materializes
    g = RegularTimeRange(start, start + span, step)
    n = len(g)
    assert 1 <= n <= steps + 2
    inst = g.instants()
    assert len(inst) == n
    assert inst[0] == g.start
    # reference formula: never more than one step past end
    if n > 1:
        assert inst[-1] <= g.end + step


@settings(max_examples=15, deadline=None)
@given(
    # integer-separated timestamps: with ulp-adjacent samples np.interp's
    # slope form overflows to ±inf while the reference's weighted form stays
    # finite — both are "correct", so the property only holds away from
    # degenerate spacing
    data=st.lists(
        st.tuples(st.integers(0, 10000).map(float), st.floats(-100, 100)),
        min_size=2,
        max_size=12,
        unique_by=lambda tv: tv[0],
    ),
    probes=st.lists(st.floats(-100, 1.1e4), min_size=1, max_size=6),
)
def test_interpolation_matches_numpy_inside_range(spark, data, probes):
    """Inside the data range the reference's interpolation IS np.interp;
    outside it clamps to the boundary values (also np.interp behavior)."""
    data = sorted(data)
    ts = [t for t, _ in data]
    vs = [v for _, v in data]
    samples = long_frame(spark, [("m", {}, t, v) for t, v in data])
    probe_df = spark.createDataFrame([("m", float(p)) for p in probes], "name string, _pt double")
    out = interpolate_at_probes(samples, probe_df, ["name"])
    got = {r["_pt"]: r["value"] for r in out.collect()}
    for p in probes:
        expect = float(np.interp(p, ts, vs))
        assert got[float(p)] == pytest.approx(expect, rel=1e-9, abs=1e-9)


def test_midnight_offset(spark):
    df = long_frame(spark, [("m", {}, 1000.0, 1.0), ("m", {}, 2000.0, 2.0)])
    off = shift_to_midnight_offset(df, now=1704100000.0)  # 2024-01-01 UTC-ish
    # offset + min_ts lands exactly on a local midnight
    import time as _time

    shifted = _time.localtime(off + 1000.0)
    assert (shifted.tm_hour, shifted.tm_min, shifted.tm_sec) == (0, 0, 0)


# ---------------------------------------------------------------------------
# Python Data Source planning functions (sources/pyds.py) — pure, so they
# property-test without a SparkSession
# ---------------------------------------------------------------------------

_stat_names = st.one_of(st.none(), st.text("abcde", min_size=1, max_size=3))
_stat_ts = st.one_of(st.none(), st.floats(-100, 100, allow_nan=False))


@st.composite
def _file_entry(draw):
    a, b = draw(_stat_names), draw(_stat_names)
    lo, hi = draw(_stat_ts), draw(_stat_ts)
    if a is not None and b is not None and a > b:
        a, b = b, a
    if lo is not None and hi is not None and lo > hi:
        lo, hi = hi, lo
    return {
        "path": draw(st.text("xyz/", min_size=1, max_size=8)),
        "min_name": a,
        "max_name": b,
        "min_ts": lo,
        "max_ts": hi,
    }


@given(
    files=st.lists(_file_entry(), max_size=12),
    names=st.one_of(
        st.none(), st.lists(st.text("abcde", min_size=1, max_size=3), max_size=4)
    ),
    lo=st.floats(-120, 120, allow_nan=False),
    hi=st.floats(-120, 120, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_pyds_prune_is_conservative(files, names, lo, hi):
    """Pruning must NEVER drop a file that could hold a matching row:
    any file whose recorded ranges intersect the predicate (null stats =
    unknown = intersecting) survives. Spark re-applies the row filter,
    so over-keeping is always safe; under-keeping never is."""
    from prometheus_parquet_server_spark.sources.manifest import prune

    if lo > hi:
        lo, hi = hi, lo
    kept = {id(f) for f in prune(files, names, lo, hi)}
    for f in files:
        name_could_match = (
            names is None
            or f["min_name"] is None
            or f["max_name"] is None
            or any(f["min_name"] <= n <= f["max_name"] for n in names)
        )
        ts_could_match = (
            f["min_ts"] is None
            or f["max_ts"] is None
            or not (f["max_ts"] < lo or f["min_ts"] > hi)
        )
        if name_could_match and ts_could_match:
            assert id(f) in kept


@given(
    eqs=st.lists(st.sampled_from(["a", "b", "c"]), max_size=3),
    ins=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3),
        max_size=2,
    ),
    gts=st.lists(st.floats(-50, 50, allow_nan=False), max_size=2),
    lts=st.lists(st.floats(-50, 50, allow_nan=False), max_size=2),
)
@settings(max_examples=300, deadline=None)
def test_pyds_extract_bounds_conjunction(eqs, ins, gts, lts):
    """The extracted (names, ts_lo, ts_hi) must be exactly the
    conjunction of the pushed predicates: a value satisfies all filters
    iff it falls inside the extracted bounds."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

    from prometheus_parquet_server_spark.sources.pyds import _extract_bounds

    filters = (
        [EqualTo(("name",), v) for v in eqs]
        + [In(("name",), tuple(vs)) for vs in ins]
        + [GreaterThan(("ts",), v) for v in gts]
        + [LessThan(("ts",), v) for v in lts]
    )
    names, lo, hi = _extract_bounds(filters)
    for cand in ["a", "b", "c", "zz"]:
        sat = all(cand == v for v in eqs) and all(cand in vs for vs in ins)
        in_bounds = names is None or cand in names
        assert sat == in_bounds, (cand, names, eqs, ins)
    # ts bounds: conjunction of strict > and < relaxed to >= / <= —
    # conservative (a superset), never narrower than the true region
    if gts:
        assert lo == max(gts)
    if lts:
        assert hi == min(lts)


@given(
    commits=st.lists(
        st.tuples(
            st.sampled_from(["append", "compact"]),
            st.integers(0, 3),  # files added by this commit
        ),
        min_size=1,
        max_size=12,
    ),
    budget=st.integers(0, 4),
    # how many commits land between consecutive triggers (cycled)
    arrivals=st.lists(st.integers(1, 4), min_size=1, max_size=5),
)
@settings(max_examples=60, deadline=None)
def test_pyds_pacing_delivers_every_file_exactly_once(
    tmp_path_factory, commits, budget, arrivals
):
    """Model-based check of the change-feed offset protocol, driving the
    reader exactly as Spark does (latestOffset → partitions → commit)
    while the tip ADVANCES between triggers — commits are written
    incrementally, so the paced walk, the admit-at-least-one-version
    rule, and the budget boundary all actually execute (an all-upfront
    store would take the uncapped first-trigger branch once and prove
    nothing). Invariants: offsets are monotone; the union of all planned
    batches delivers every appended file EXACTLY once, under any commit
    mix, pacing budget, and arrival pattern."""
    import itertools
    import json as _json
    import os as _os

    from pyspark.sql.types import StructType

    from prometheus_parquet_server_spark.sources.pyds import (
        SnapshotStreamReader,
    )

    root = str(tmp_path_factory.mktemp("paced_store"))
    _os.makedirs(f"{root}/_snapshots")
    all_files: list[str] = []
    file_sets: list[list[dict]] = [[]]

    def write_commit(v: int, op: str, n_add: int) -> None:
        if op == "append":
            new = [
                {"path": f"{root}/data/f{v}_{k}.parquet"}
                for k in range(n_add)
            ]
            files = file_sets[-1] + new
            all_files.extend(f["path"] for f in new)
        else:  # compact: rewrites the current set into one file
            files = [{"path": f"{root}/data/c{v}.parquet"}]
        file_sets.append(files)
        with open(f"{root}/_snapshots/v{v:010d}.json", "w") as fh:
            _json.dump(
                {
                    "version": v,
                    "parent": v - 1 if v > 1 else None,
                    "operation": op,
                    "schema": None,
                    "files": files,
                    "committed_at": float(v),
                },
                fh,
            )

    rd = SnapshotStreamReader(
        StructType([]),
        {"path": root, "max_files_per_trigger": str(budget)},
    )
    delivered: list[str] = []
    last = rd.initialOffset()["version"]
    assert last == 0
    pending = list(enumerate(commits, start=1))
    arrival = itertools.cycle(arrivals)
    # drive triggers until every commit is written AND consumed; cap
    # iterations far above the worst case (budget 1 file per trigger)
    for _ in range(len(commits) * (max(c[1] for c in commits) + 2) + 8):
        for _ in range(next(arrival)):  # the tip advances mid-stream
            if pending:
                v, (op, n_add) = pending.pop(0)
                write_commit(v, op, n_add)
        end = rd.latestOffset()["version"]
        assert end >= last  # monotone, never backward
        if end != last:
            parts = rd.partitions({"version": last}, {"version": end})
            delivered.extend(p.path for p in parts if p.path)
            rd.commit({"version": end})
            last = end
        if not pending and end == len(commits):
            break
    assert last == len(commits)  # caught up
    assert sorted(delivered) == sorted(all_files)
    assert len(set(delivered)) == len(delivered)  # exactly once
