#!/usr/bin/env python
"""Serving-latency benchmark: sequential /api/v1/query_range handler calls
over a cached sf0.01 store on the BASELINE.md grid (7000 s range, 15 s step,
467 points). Reports cold p50/p95 (first evaluation per query, aligned store
pre-built), prefix p50/p95 (first evaluation on grids 1, 5 and 20 steps
shorter: aligned store and compiled plans reused), warm p50 (response-cache
hits), the aligned-store build cost, and two kinds of grid that are no
prefix of a cached one: slide (start and end 1, 5 and 20 steps later, a
relative range refreshed) and grow (same start, end 1, 5 and 20 steps later,
a "so far" view). Each slide or grow grid is new, so its first panel pays
an aligned-store build.

Usage: python scripts/bench_serving.py [sf_dir]
"""

from __future__ import annotations

import statistics
import sys
import time

sys.path.insert(0, ".")

from prometheus_parquet_server_spark import get_spark
from prometheus_parquet_server_spark.driver_contract import _metrics_canonical
from prometheus_parquet_server_spark.server.app import (
    MetricsHTTPServer,
    prepare_collection_for_serving,
)

PANEL_QUERIES = [
    'click{user_id="13"}',
    "sum(rate(click{}[5m]))",
    "sum by (user_id) (click{})",
    "avg(view{})",
    "topk(5, sum by (user_id) (click{}))",
    "view{} + click{}",
    "max_over_time(click{}[10m])",
    'quantile(0.9, click{})',
]

START, END, STEP = 1704067200.0, 1704074200.0, 15.0  # 467 points
PREFIX_TRIMS = (1, 5, 20)  # steps a prefix grid ends before END
SHIFTS = (1, 5, 20)  # steps a slide or grow grid ends after END


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("bench-serving")
    coll = prepare_collection_for_serving(_metrics_canonical(spark, sf_dir))
    coll.count()  # materialize the cache before measuring
    srv = MetricsHTTPServer(spark, coll)

    from prometheus_parquet_server_spark.operators.grid import RegularTimeRange

    t0 = time.time()
    srv._aligned_for(RegularTimeRange(START, END, STEP))
    align_s = time.time() - t0

    def run_at(q: str, end: float, start: float = START) -> float:
        params = {
            "query": q,
            "start": str(start),
            "end": str(end),
            "step": f"{int(STEP)}s",
        }
        t = time.time()
        status, payload = srv.handle_query_range(params)
        dt = time.time() - t
        assert status == 200, payload
        return dt

    cold = [run_at(q, END) for q in PANEL_QUERIES]
    # prefix grids (same start and step, earlier end): first evaluations,
    # served from the aligned store and from the plans compiled in the cold
    # pass; one list per trim, in PANEL_QUERIES order
    prefix = {
        trim: [run_at(q, END - trim * STEP) for q in PANEL_QUERIES]
        for trim in PREFIX_TRIMS
    }
    warm = [run_at(q, END) for q in PANEL_QUERIES]
    # grids that are no prefix of a cached one: each builds its own aligned
    # store (evicting older ones) and compiles every panel
    slide = [
        run_at(q, END + k * STEP, START + k * STEP)
        for k in SHIFTS
        for q in PANEL_QUERIES
    ]
    grow = [run_at(q, END + k * STEP) for k in SHIFTS for q in PANEL_QUERIES]

    print(f"aligned-store build: {align_s:.2f}s (once per grid anchor)")
    for i, q in enumerate(PANEL_QUERIES):
        per_trim = "  ".join(
            f"-{trim:<2d} {prefix[trim][i] * 1000:6.1f}" for trim in PREFIX_TRIMS
        )
        print(f"  cold {cold[i] * 1000:7.1f} ms   prefix {per_trim} ms  {q}")
    all_prefix = [dt for xs in prefix.values() for dt in xs]
    for label, xs in (
        ("cold", cold), ("prefix", all_prefix), ("slide", slide), ("grow", grow)
    ):
        xs_sorted = sorted(xs)
        print(
            f"{label} p50 = {statistics.median(xs) * 1000:.0f} ms, "
            f"p95 = {xs_sorted[int(0.95 * (len(xs_sorted) - 1))] * 1000:.0f} ms"
        )
    print(f"hit p50 = {statistics.median(warm) * 1000:.2f} ms (response cache)")


if __name__ == "__main__":
    main()
