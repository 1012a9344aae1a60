"""``ingest`` worker: one writer in a closed loop over a local snapshot store.

Each cycle ingests the next batch zip with ``ingest_zip``, commits it with
``snapshot_write(mode="append")``, then runs one freshness query over the
newest slice: ``snapshot_read`` → ``run_query`` → ``matrix_result``. The
warm-up runs the same cycle against a throwaway store.

Run by ``run.py`` as ``python3 perfbench/ingest.py <config.json>``; writes
its result JSON to the config's ``out`` path.
"""

from __future__ import annotations

import json
import os
import sys
import time
import types

from common import host_info, peak_rss_mb, write_json
from spans import Tracer, layer_totals

QUERY = "sum by (host) (http_requests)"


def main(cfg: dict) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    from prometheus_parquet_server_spark import get_spark, json_out, sources
    from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
    from prometheus_parquet_server_spark.plans import compiler

    spark = get_spark("perfbench-ingest")
    tracer = Tracer(spark, enabled=bool(cfg["trace"]))
    api = types.SimpleNamespace(
        ingest_zip=sources.ingest_zip,
        snapshot_write=sources.snapshot_write,
        snapshot_read=sources.snapshot_read,
        run_query=compiler.run_query,
        matrix_result=json_out.matrix_result,
    )
    if tracer.enabled:
        for attr, name in (
            ("ingest_zip", "sources.ingest_zip"),
            ("snapshot_write", "sources.snapshot_write"),
            ("snapshot_read", "sources.snapshot_read"),
            ("run_query", "plans.run_query"),
            ("matrix_result", "json_out.matrix_result"),
        ):
            tracer.wrap(api, attr, name)
        tracer.wrap(compiler, "parse_promql", "plans.parse")
        tracer.wrap(DataFrame, "toPandas", "operators.execute")

    work = cfg["work"]

    def cycle(store: str, i: int, batch: dict) -> tuple[float, float, dict]:
        root = tracer.begin("cycle")
        t0 = time.perf_counter()
        df = api.ingest_zip(spark, batch["zip"], scratch_dir=f"{work}/unzip/{i}")
        api.snapshot_write(spark, store, df, mode="append")
        t1 = time.perf_counter()
        fresh = api.snapshot_read(
            spark, store, names=["http_requests"],
            ts_range=(batch["t_lo"], batch["t_hi"]),
        )
        grid = RegularTimeRange(batch["t_lo"], batch["t_hi"], batch["step"])
        payload = api.matrix_result(api.run_query(spark, fresh, QUERY, grid))
        t2 = time.perf_counter()
        tracer.end(root)
        return t1 - t0, t2 - t1, payload

    batches = cfg["batches"]
    n_warm = cfg["warm"]
    warm = []
    for i in range(n_warm):
        c, r, _ = cycle(f"{work}/warm_store", i, batches[i])
        warm.append(c + r)
    setup_end = time.time()

    store = f"{work}/store"
    mark = len(tracer.spans)
    commits, reads, payloads = [], [], []
    t_start = time.perf_counter()
    deadline = t_start + cfg["seconds"]
    i = n_warm
    while i < len(batches) and time.perf_counter() < deadline:
        c, r, payload = cycle(store, i, batches[i])
        commits.append(c)
        reads.append(r)
        payloads.append(payload)
        i += 1
    wall = time.perf_counter() - t_start

    # untimed checks and sizes
    stored_rows = sources.snapshot_read(spark, store).count()
    store_bytes = data_files = 0
    for dirpath, _dirs, files in os.walk(store):
        for f in files:
            store_bytes += os.path.getsize(os.path.join(dirpath, f))
            data_files += f.endswith(".parquet")

    out = {
        "setup_end": setup_end,
        "warm_s": warm,
        "commit_s": commits,
        "fresh_s": reads,
        "wall_s": wall,
        "payloads": payloads,
        "stored_rows": stored_rows,
        "store_bytes": store_bytes,
        "data_files": data_files,
        "peak_rss_mb": peak_rss_mb(spark),
        "host": host_info(spark),
    }
    if tracer.enabled:
        tracer.resolve()
        timed = tracer.spans[mark:]
        out["layers"] = layer_totals(timed)
        out["spans"] = timed
    spark.stop()
    write_json(cfg["out"], out)


# ---- runner side ------------------------------------------------------------


def write_batches(rec, out_dir, slice_points: int) -> list[dict]:
    """One zip per consecutive ``slice_points`` scrapes of the recording."""
    from common import cached
    from gen import SCRAPE_S, write_zip

    batches = []
    for i, lo in enumerate(range(0, rec.n_points - slice_points + 1, slice_points)):
        hi = lo + slice_points
        path = cached(
            out_dir / f"batch-{i:04d}.zip",
            lambda p, lo=lo, hi=hi: write_zip(rec, p, lo, hi),
        )
        batches.append({
            "zip": str(path), "lo": lo, "hi": hi, "samples": rec.samples(lo, hi),
            "t_lo": float(rec.times[lo]), "t_hi": float(rec.times[hi - 1]),
            "step": SCRAPE_S,
        })
    return batches


def verify(rec, batches: list[dict], result: dict) -> int:
    """Failed cycles: a freshness query that misses the newest slice, plus
    one failure if the store's row count differs from the samples sent."""
    import numpy as np

    from gen import METHODS

    hosts = {h: i for i, h in enumerate(rec.hosts)}
    per_host = rec.requests.reshape(len(hosts), len(METHODS), -1).sum(axis=1)
    failed = 0
    for batch, payload in zip(batches, result["payloads"]):
        want = per_host[:, batch["lo"]:batch["hi"]]
        series = payload["data"]["result"]
        ok = payload.get("status") == "success" and len(series) == len(hosts)
        for s in series if ok else ():
            got = [float(v) for _t, v in s["values"]]
            ok = ok and np.array_equal(got, want[hosts[s["metric"]["host"]]])
        failed += not ok
    committed = sum(b["samples"] for b in batches[: len(result["payloads"])])
    failed += result["stored_rows"] != committed
    return failed


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        main(json.load(f))
