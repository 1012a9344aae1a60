"""Serving fast paths must be bit-identical to the batch engine:
instant selectors / rate() over the pre-aligned store, prefix reuse,
the per-grid plan memo, and the response cache."""

import json
import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.operators.interpolate import resample_to_grid
from prometheus_parquet_server_spark.plans.compiler import run_query
from tests.conftest import long_frame

GRID = RegularTimeRange(0.0, 6000.0, 15.0)
PAD = 64


def _collection(spark):
    rows = []
    for s, base in (("a", 10.0), ("b", 5.0)):
        for i in range(40):
            rows.append(("m", {"host": s}, 7.0 + i * 160.0, base + i * 3.0))
    return long_frame(spark, rows)


def _aligned(spark, coll):
    ext_grid = RegularTimeRange(
        GRID.start - PAD * GRID.increment, GRID.end, GRID.increment
    )
    ext = resample_to_grid(coll, ext_grid.to_df(spark), grid=ext_grid)
    exact = ext.filter(F.col("ts") >= GRID.start)
    return exact, ext


def _rows(df):
    out = {}
    for r in df.collect():
        out[(r["name"], str(sorted(dict(r["labels"]).items())), r["ts"])] = r["value"]
    return out


def _assert_bit_equal(want, got):
    assert want.keys() == got.keys()
    for k, v in want.items():
        g = got[k]
        if isinstance(v, float) and math.isnan(v):
            assert isinstance(g, float) and math.isnan(g)
        else:
            assert v == g, (k, v, g)  # bit-identical, not approx


@pytest.mark.parametrize(
    "q",
    [
        'm{host="a"}',
        "sum(m{})",
        "rate(m{}[300])",
        "sum by (host) (rate(m{}[120]))",
        "rate(m{}[2400])",  # k=160 > PAD → falls back to the raw path
        "max_over_time(m{}[600])",  # over_time always takes the raw path
    ],
)
def test_aligned_store_bit_parity(spark, q):
    coll = _collection(spark)
    exact, ext = _aligned(spark, coll)
    want = _rows(run_query(spark, coll, q, GRID))
    got = _rows(
        run_query(
            spark, coll, q, GRID,
            aligned=exact, aligned_ext=ext, aligned_ext_steps=PAD,
        )
    )
    _assert_bit_equal(want, got)


@pytest.mark.parametrize(
    "q,should_build",
    [
        ('m{host="a"}', True),            # instant selector → aligned-eligible
        ("rate(m{}[300])", True),         # range fits the pad → ext fast path
        ("rate(m{}[2400])", False),       # k=160 > PAD → raw path, no build
        ('m{host="a"} offset 60', False), # offsets read raw samples
    ],
)
def test_aligned_provider_lazy(spark, q, should_build):
    """The aligned store is built only when the plan actually reads it."""
    coll = _collection(spark)
    calls = []

    def provider():
        calls.append(1)
        exact, ext = _aligned(spark, coll)
        return exact, ext, PAD

    df = run_query(
        spark, coll, q, GRID,
        aligned_ext_steps=PAD, aligned_provider=provider,
    )
    df.collect()
    assert bool(calls) is should_build
    # and results stay bit-identical to the no-provider path
    want = _rows(run_query(spark, coll, q, GRID))
    got = _rows(
        run_query(
            spark, coll, q, GRID,
            aligned_ext_steps=PAD, aligned_provider=provider,
        )
    )
    _assert_bit_equal(want, got)


def test_null_labels_rate_batch_and_aligned_agree(spark):
    """NULL label maps key as the empty set: two names whose aligned store
    rows hold NULL labels stay two series in rate's lag window, and the
    aligned path gives the batch path's bits."""
    from prometheus_parquet_server_spark.operators.rate import (
        rate_from_aligned,
        rate_to_grid,
    )

    rows = [
        (name, None, 7.0 + i * 30.0, base + i * slope)
        for name, base, slope in (("p", 0.0, 1.0), ("q", 100.0, 5.0))
        for i in range(60)
    ]
    coll = long_frame(spark, rows)
    grid = RegularTimeRange(600.0, 1500.0, 15.0)
    ext_grid = RegularTimeRange(
        grid.start - PAD * grid.increment, grid.end, grid.increment
    )
    ext = resample_to_grid(coll, ext_grid.to_df(spark), grid=ext_grid).withColumn(
        "labels", F.lit(None).cast("map<string,string>")
    )

    def values(df):
        return {(r["name"], r["ts"]): r["value"] for r in df.collect()}

    want = values(rate_to_grid(coll, grid.to_df(spark), over_range=300.0, grid=grid))
    got = values(rate_from_aligned(ext, grid, 300.0))
    _assert_bit_equal(want, got)
    assert {k[0] for k in got} == {"p", "q"} and len(got) == 2 * len(grid)


# ---- plan memo: prefix grids reuse the plan compiled on the anchor grid ----

ANCHOR = RegularTimeRange(1200.0, 1200.0 + 15.0 * 79, 15.0)  # 80 points

#: one query per compiler family; every result has distinct (labels, ts)
#: pairs so the envelope's order is fixed and JSON equality is exact
MEMO_QUERIES = [
    'm{host=~"a|b", env!~"z"}',
    "rate(m[5m])",
    "irate(m[2m])",
    "increase(m[10m])",
    "avg_over_time(m[10m])",
    "max_over_time(m[5m])",
    "sum by (env) (m)",
    "avg without (host) (m)",
    "topk(2, m)",
    "quantile by (env) (0.5, m)",
    "histogram_quantile(0.9, sum by (Le) (rate(req_bucket[5m])))",
    'rate(m{env="x"}[5m]) + on(host) n',
    "m / on(host) group_left(role) n",
    "m * 2 - 1",
    "m > bool 40",
    "-m",
    "max_over_time(rate(m[2m])[10m:1m])",
    "m offset 5m",
    "rate(m[5m] offset 10m)",
    "time() - 1000",
    "m - scalar(sum(n))",
    "vector(1)",
    'absent(m{host="zz"})',
    "m @ start()",
    "avg(m @ end())",
    "max_over_time(m[10m:] @ end())",
]


def _memo_collection(spark):
    rows = []
    for i, t in enumerate(range(0, 3000, 30)):
        for host, env, base in (("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)):
            rows.append(("m", {"host": host, "env": env}, t + 1.0, base * i + (i % 7)))
        for host, role in (("a", "db"), ("b", "web")):
            rows.append(("n", {"host": host, "role": role}, t + 7.0, 10.0 + (i % 5)))
        for le, k in (("1", 1.0), ("5", 3.0), ("+Inf", 4.0)):
            rows.append(("req_bucket", {"Le": le}, t + 2.0, k * i))
        # strict histogram_quantile input: `bad_bucket > 10` drops the +Inf
        # bucket from t = 1800 on, so only grids past 1800 fail
        for le, v in (("1", 20.0), ("+Inf", 50.0 if t < 1800 else 5.0)):
            rows.append(("bad_bucket", {"Le": le}, float(t), v))
    return long_frame(spark, rows)


@pytest.fixture(scope="module")
def memo_server(spark):
    from prometheus_parquet_server_spark.server.app import MetricsHTTPServer

    coll = _memo_collection(spark).cache()
    srv = MetricsHTTPServer(spark, coll, response_cache_size=64)
    srv._aligned_for(ANCHOR)  # the cached entry every prefix grid reuses
    yield srv
    for entry in srv._aligned.values():
        entry.frame.unpersist()
    coll.unpersist()


def _prefix(trim: int) -> RegularTimeRange:
    return RegularTimeRange(
        ANCHOR.start, ANCHOR.start + (len(ANCHOR) - 1 - trim) * ANCHOR.increment,
        ANCHOR.increment,
    )


def _served(srv, q, grid):
    return srv.handle_query_range(
        {"query": q, "start": repr(grid.start), "end": repr(grid.end), "step": "15s"}
    )


def _fresh(srv, q, grid):
    """The server's evaluation without the memo: compiled on ``grid``."""
    from prometheus_parquet_server_spark.json_out import matrix_result

    try:
        df = run_query(
            srv.spark, srv.collection, q, grid,
            aligned_ext_steps=srv._aligned_pad_steps,
            aligned_provider=lambda: srv._aligned_for(grid),
        )
        return 200, matrix_result(df)
    except Exception as e:  # noqa: BLE001 — the status is what is compared
        return 400, {"error": str(e)}


@pytest.mark.parametrize("q", MEMO_QUERIES)
@settings(
    max_examples=2, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(trim=st.integers(0, len(ANCHOR) - 1))
@example(trim=0)
@example(trim=len(ANCHOR) - 1)  # a one-point grid
def test_plan_memo_parity(memo_server, q, trim):
    grid = _prefix(trim)
    (entry,) = memo_server._aligned.values()
    status, payload = _served(memo_server, q, grid)
    assert status == 200, payload
    assert json.dumps(payload) == json.dumps(_fresh(memo_server, q, grid)[1])
    # `@ end()` reads the grid's end, so it never enters the memo
    assert ((q, False) in entry._plans) is ("@ end()" not in q)


@pytest.mark.parametrize(
    "q",
    [
        "histogram_quantile(0.5, bad_bucket > 10)",
        # the subquery keeps the outer ts filter above the bucket check, so
        # the memoized plan itself fails and the server recompiles the grid
        "max_over_time(histogram_quantile(0.5, bad_bucket > 10)[5m:1m])",
    ],
)
def test_plan_memo_strict_histogram_beyond_prefix(memo_server, q, monkeypatch):
    """The anchor holds instants from 1800 on, where the +Inf bucket is
    gone: a prefix ending before them succeeds exactly as a fresh compile
    does, and one reaching them fails like it. Only a failing plan served
    under a ts filter is compiled a second time."""
    from prometheus_parquet_server_spark.server import app

    calls = []

    def counted(*args, **kwargs):
        calls.append(args[2])
        return run_query(*args, **kwargs)

    monkeypatch.setattr(app, "run_query", counted)
    outcomes = set()
    for trim in (len(ANCHOR) - 1, 40, 39, 0):
        grid = _prefix(trim)
        calls.clear()
        status, payload = _served(memo_server, q, grid)
        n_calls = len(calls)
        want_status, want = _fresh(memo_server, q, grid)
        assert status == want_status, (trim, payload, want)
        if status == 200:
            assert json.dumps(payload) == json.dumps(want)
        else:
            assert "Inf bucket has finite value" in payload["error"]
        # the memoized plan fails wherever the prefix fails and, inside the
        # subquery, on every prefix; on the anchor grid itself (trim 0) it
        # runs unfiltered, so its failure is a fresh compile's: no retry
        memo_ok = status == 200 and "[" not in q
        assert n_calls == (1 if trim == 0 or memo_ok else 2), (trim, n_calls)
        outcomes.add(status)
    assert outcomes == {200, 400}
    # `@ end()` bypasses the memo, so its failure is not retried either
    calls.clear()
    status, payload = _served(
        memo_server, "histogram_quantile(0.5, bad_bucket @ end() > 10)", _prefix(5)
    )
    assert status == 400 and "Inf bucket has finite value" in payload["error"]
    assert len(calls) == 1


def test_plan_memo_dropped_with_evicted_entry(spark):
    from prometheus_parquet_server_spark.server.app import MetricsHTTPServer

    coll = _memo_collection(spark)
    srv = MetricsHTTPServer(spark, coll, aligned_store_grids=1)
    q = "sum by (env) (rate(m[5m]))"
    srv._aligned_for(ANCHOR)
    (old,) = srv._aligned.values()
    assert _served(srv, q, _prefix(3))[0] == 200
    assert (q, False) in old._plans
    other = RegularTimeRange(ANCHOR.start + 15.0, ANCHOR.end, ANCHOR.increment)
    srv._aligned_for(other)  # evicts the anchor entry and its plans
    assert old not in srv._aligned.values()
    grid = _prefix(5)
    status, payload = _served(srv, q, grid)
    assert status == 200
    assert json.dumps(payload) == json.dumps(_fresh(srv, q, grid)[1])
    (new,) = srv._aligned.values()  # built for this grid, compiled fresh
    assert new is not old and (q, False) not in new._plans
    new.frame.unpersist()


def test_plan_memo_idle_without_prefix_grids(spark):
    """Grids that are no prefix of a cached one — a later start (a relative
    range refreshed) or a later end (a view that grows) — compile per
    request and leave every entry's memo empty."""
    from prometheus_parquet_server_spark.server.app import MetricsHTTPServer

    srv = MetricsHTTPServer(spark, _memo_collection(spark))
    srv._aligned_for(ANCHOR)
    q = "sum by (env) (rate(m[5m]))"
    for shift_start, shift_end in ((3, 3), (0, 3), (20, 20)):
        grid = RegularTimeRange(
            ANCHOR.start + shift_start * ANCHOR.increment,
            ANCHOR.end + shift_end * ANCHOR.increment,
            ANCHOR.increment,
        )
        status, payload = _served(srv, q, grid)
        assert status == 200
        assert json.dumps(payload) == json.dumps(_fresh(srv, q, grid)[1])
    assert len(srv._aligned) == 4
    assert all(not entry._plans for entry in srv._aligned.values())
    for entry in srv._aligned.values():
        entry.frame.unpersist()


def test_plan_memo_threads_keep_capacity_and_keys():
    """Concurrent lookups never hand one query another query's plan and
    leave at most ``capacity`` plans (anchor-grid requests return the
    memoized object itself, so identity is checkable without Spark)."""
    import random
    import sys
    import threading
    from collections import defaultdict

    from prometheus_parquet_server_spark.plans.compiler import PlanMemo

    memo = PlanMemo(ANCHOR, (None, None, 0), capacity=4)
    compiled = defaultdict(list)  # key → every plan compiled for it
    errors = []

    def compile_for(key):
        def compile_anchor():
            plan = object()
            compiled[key].append(plan)
            return plan

        return compile_anchor

    def worker(seed):
        rnd = random.Random(seed)
        for _ in range(300):
            key = (f"q{rnd.randrange(8)}", False)
            plan = memo.plan(key, ANCHOR, compile_for(key))
            if not any(plan is p for p in compiled[key]):
                errors.append(key)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(memo._plans) == 4


def test_query_range_refuses_oversized_grid_before_compiling(spark, monkeypatch):
    """Prometheus's resolution limit: more than 11,000 steps per series is
    400 bad_data, refused before any compile, so no Spark job starts. At
    the limit (11,001 points) the request goes on to compile."""
    import uuid

    from prometheus_parquet_server_spark.server import app

    srv = app.MetricsHTTPServer(spark, _collection(spark))
    sc = spark.sparkContext
    group = f"grid-guard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        # a 1 ms step over a week: 604.8 M points
        status, payload = srv.handle_query_range(
            {"query": "sum(m)", "start": "0", "end": "604800", "step": "1ms"}
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert status == 400
    assert payload == {
        "status": "error",
        "errorType": "bad_data",
        "error": "exceeded maximum resolution of 11,000 points per timeseries. "
        "Try decreasing the query resolution (?step=XX)",
    }

    def compiled(*_args, **_kwargs):
        raise RuntimeError("compiled")

    monkeypatch.setattr(app, "run_query", compiled)
    for steps, error in ((11_001, payload["error"]), (11_000, "compiled")):
        status, out = srv.handle_query_range(
            {"query": "sum(m)", "start": "0", "end": str(15 * steps), "step": "15s"}
        )
        assert (status, out["error"]) == (400, error)
