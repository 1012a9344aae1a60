"""``dashboard`` server process: a ``MetricsHTTPServer`` over a loaded zip.

Loads the zip with ``ingest_zip`` and ``prepare_collection_for_serving``,
starts the server on the configured port and prints ``ready``. Then it
reads commands on stdin, one a line:

- ``mark``   — the timed phase starts now; answers ``{}``;
- ``report`` — stops the server, writes the result JSON to the config's
  ``out`` path, stops Spark and answers ``done``.

Run by ``run.py`` as ``python3 perfbench/serve.py <config.json>``.
"""

from __future__ import annotations

import json
import sys
import time

from common import host_info, peak_rss_mb, write_json
from spans import Tracer, layer_totals


def install(tracer: Tracer) -> None:
    """Spans around the public functions a query_range request runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    from prometheus_parquet_server_spark.plans import compiler
    from prometheus_parquet_server_spark.server import app

    if not tracer.enabled:
        # counts only: the warm-up guards need them in every run
        tracer.wrap(app, "run_query", "plans.run_query")
        tracer.wrap(app, "resample_to_grid", "operators.aligned_build")
        return
    tracer.wrap(app.MetricsHTTPServer, "handle_query_range", "server.handler")
    tracer.wrap(app, "run_query", "plans.run_query")
    tracer.wrap(compiler, "parse_promql", "plans.parse")
    tracer.wrap(app, "matrix_result", "json_out.matrix_result")
    tracer.wrap(DataFrame, "toPandas", "operators.execute")

    # An aligned-store build is the resample plus the count that
    # materialises it: the span opens in resample_to_grid and closes when
    # that same frame (persist returns self) is counted.
    resample, count = app.resample_to_grid, DataFrame.count
    building: dict[int, dict] = {}

    def traced_resample(*args, **kwargs):
        span = tracer.begin("operators.aligned_build")
        df = resample(*args, **kwargs)
        building[id(df)] = span
        return df

    def traced_count(self):
        span = building.pop(id(self), None)
        try:
            return count(self)
        finally:
            tracer.end(span)

    app.resample_to_grid = traced_resample
    DataFrame.count = traced_count


def main(cfg: dict) -> None:
    from prometheus_parquet_server_spark import get_spark
    from prometheus_parquet_server_spark.server.app import (
        MetricsHTTPServer,
        prepare_collection_for_serving,
    )
    from prometheus_parquet_server_spark.sources import ingest_zip

    spark = get_spark("perfbench-dashboard")
    tracer = Tracer(spark, enabled=bool(cfg["trace"]))
    install(tracer)

    t0 = time.perf_counter()
    metric_types: dict[str, str] = {}
    coll = ingest_zip(
        spark, cfg["zip"], scratch_dir=cfg["unzip"], types_out=metric_types
    )
    ingest_zip_s = time.perf_counter() - t0
    coll = prepare_collection_for_serving(coll)
    rows = coll.count()
    srv = MetricsHTTPServer(spark, coll, port=cfg["port"], metric_types=metric_types)
    srv.start()
    print(json.dumps({"ready": True, "rows": rows}), flush=True)

    mark_spans, mark_calls = 0, {}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            mark_spans, mark_calls = len(tracer.spans), dict(tracer.calls)
            print("{}", flush=True)
        elif cmd == "report":
            break
    srv.stop()

    out = {
        "rows": rows,
        "ingest_zip_s": ingest_zip_s,
        "warm_calls": mark_calls,
        "timed_calls": {
            k: v - mark_calls.get(k, 0) for k, v in tracer.calls.items()
        },
        "peak_rss_mb": peak_rss_mb(spark),
        "host": host_info(spark),
    }
    if tracer.enabled:
        tracer.resolve()
        warm, timed = tracer.spans[:mark_spans], tracer.spans[mark_spans:]
        out["warm_builds_s"] = [
            s["end"] - s["start"] for s in warm if s["name"] == "operators.aligned_build"
        ]
        out["layers"] = layer_totals(timed)
        out["handler_s"] = [
            s["end"] - s["start"] for s in timed if s["name"] == "server.handler"
        ]
        out["spans"] = timed
    spark.stop()
    write_json(cfg["out"], out)
    print("done", flush=True)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        main(json.load(f))
