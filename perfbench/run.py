#!/usr/bin/env python3
"""Benchmark of the serving and ingest paths, one workload per run.

    python3 perfbench/run.py --workload dashboard|ingest --seed N \
        --seconds S --trace 0|1

Generates the seeded inputs (cached per seed under ``.perfbench/inputs``,
outside the timed set-up), starts the workload's Spark process from the
package sources in this checkout, measures for ``--seconds`` seconds,
checks every output and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones from spans that
wrappers in ``spans.py`` record around the package's public functions.
Both write their full output to ``.perfbench/results``; a traced run also
reports its overhead against the untraced run of the same workload and
seed. ``spread.py`` runs seeds in a row and reports spreads and overhead.

See ``README.md`` in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import dashboard  # noqa: E402
import ingest  # noqa: E402
from common import cached, cpu_ticks  # noqa: E402
from gen import recording, write_zip  # noqa: E402

HOSTS = 8
DASHBOARD_POINTS = 1440  # 6 h of 15 s scrapes
INGEST_SLICE = 40  # scrapes per batch: 10 min
# Cycles keep getting faster over the first dozen or so in a fresh JVM; the
# timed cycles start after the curve has flattened, so that a fast and a
# slow host take their medians over the same, flat, part of it.
INGEST_WARM = 12
INGEST_BATCHES = 60
JVM_HEAP_MB = 1024
PROCESS_TIMEOUT_S = 150


class Worker:
    """A workload process in its own session, with line-based stdout."""

    def __init__(self, script: str, cfg: dict, run_dir: Path):
        cfg_path = run_dir / f"{script}.json"
        cfg_path.write_text(json.dumps(cfg))
        tmp = run_dir / "tmp"
        tmp.mkdir(exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
            SPARK_DRIVER_MEMORY=f"{JVM_HEAP_MB}m",
            PYTHONPATH=os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
            TMPDIR=str(tmp),
            # a fixed heap: peak RSS then does not depend on when G1 grows it
            PYSPARK_SUBMIT_ARGS=(
                f'--driver-java-options "-Xms{JVM_HEAP_MB}m -Djava.io.tmpdir={tmp}'
                # no hsperfdata file in /tmp
                ' -XX:-UsePerfData"'
                " pyspark-shell"
            ),
        )
        self.log = open(run_dir / f"{script}.log", "w")
        self.started = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / script), str(cfg_path)],
            cwd=str(run_dir), env=env, text=True, start_new_session=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
        )
        self.lines: queue.Queue[str | None] = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def expect(self, timeout: float = PROCESS_TIMEOUT_S) -> str:
        line = self.lines.get(timeout=timeout)
        if line is None:
            raise RuntimeError(f"worker exited with {self.proc.wait()}")
        return line

    def send(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.expect()

    def wait(self) -> None:
        if self.proc.wait(timeout=PROCESS_TIMEOUT_S) != 0:
            raise RuntimeError(f"worker exited with {self.proc.returncode}")

    def close(self) -> None:
        """Wait until the worker's session (its JVM and Python workers too)
        is gone, killing what is left after a grace period."""
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        deadline = time.monotonic() + 20
        try:
            while True:
                sig = signal.SIGKILL if time.monotonic() > deadline else 0
                os.killpg(self.proc.pid, sig)
                time.sleep(0.1)
        except ProcessLookupError:
            pass
        self.log.close()


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def pct(xs: list[float], p: int) -> float:
    """The ``p``-th percentile by ``statistics.quantiles``' exclusive method."""
    return statistics.quantiles(xs, n=100)[p - 1] if len(xs) > 1 else xs[0]


def layer_metrics(L: dict, n: int, **measured) -> dict:
    """Per-layer metrics per timed operation from span totals ``L``; a layer
    the workload does not reach reads 0."""
    self_ms = lambda name: 1000.0 * L.get(name, {}).get("self_s", 0.0) / n  # noqa: E731
    spark = lambda k: sum(v[k] for v in L.values()) / n  # noqa: E731
    out = {
        "plans.parse_ms": self_ms("plans.parse"),
        "plans.compile_ms": self_ms("plans.run_query"),
        "operators.execute_ms": self_ms("operators.execute"),
        "operators.aligned_builds": 0,
        "operators.aligned_build_ms": 0.0,
        "json_out.assemble_ms": self_ms("json_out.matrix_result"),
        "server.handler_ms": self_ms("server.handler"),
        "server.http_ms": 0.0,
        "server.response_cache_hit_ratio": 0.0,
        "server.response_bytes": 0.0,
        "sources.ingest_zip_ms": self_ms("sources.ingest_zip"),
        "sources.snapshot_write_ms": self_ms("sources.snapshot_write"),
        "sources.snapshot_read_ms": self_ms("sources.snapshot_read"),
        "sources.files_per_commit": 0.0,
        "sources.jobs_per_commit": 0.0,
        "sources.store_bytes_per_sample": 0.0,
        "spark.jobs": spark("jobs"),
        "spark.stages": spark("stages"),
        "spark.tasks": spark("tasks"),
        "spark.failed_tasks": spark("failed_tasks"),
    }
    out.update(measured)
    return out


# ---- workloads --------------------------------------------------------------


def run_dashboard(args, run_dir: Path) -> dict:
    rec = recording(args.seed, HOSTS, DASHBOARD_POINTS)
    zip_path = cached(
        WORK / "inputs" / f"dashboard-{args.seed}" / "recording.zip",
        lambda p: write_zip(rec, p),
    )
    port = free_port()
    out = run_dir / "server.out.json"
    server = Worker("serve.py", {
        "zip": str(zip_path), "unzip": str(run_dir / "unzip"), "port": port,
        "trace": args.trace, "out": str(out),
    }, run_dir)
    try:
        server.expect()  # ready
        ready = time.time()
        client = dashboard.run(
            port, args.seed, args.seconds, mark=lambda: server.send("mark"),
        )
        server.send("report")
        server.wait()
    finally:
        server.close()
    srv = json.loads(out.read_text())

    lat_ms = [1000.0 * x for x in client["latency_s"]]
    n = len(lat_ms)
    failed, samples = dashboard.verify(rec, client["responses"])
    timed = srv["timed_calls"]
    builds = timed.get("operators.aligned_build", 0)
    computed = timed.get("plans.run_query", 0)
    guards = {
        "no_aligned_builds_in_timed_phase": builds == 0,
        "no_cache_hits_on_first_visits": computed == client["first_visits"],
    }
    wall = client["wall_s"]
    e2e = {
        "setup_s": client["setup_end"] - server.started,
        "peak_rss_mb": sum(srv["peak_rss_mb"].values()),
        "latency_p50_ms": statistics.median(lat_ms),
        "ops_per_s": n / wall,
    }
    detail = {
        "load_s": ready - server.started,
        "requests": n,
        "query_p50_ms": e2e["latency_p50_ms"],
        "query_p90_ms": pct(lat_ms, 90),
        "queries_per_s": e2e["ops_per_s"],
        "samples_per_s": samples / wall,
    }
    layers = {}
    if args.trace:
        handler_ms = [1000.0 * x for x in srv["handler_s"]]
        layers = layer_metrics(
            srv["layers"], n,
            **{
                "operators.aligned_builds": builds,
                "operators.aligned_build_ms": 1000.0 * statistics.median(srv["warm_builds_s"]),
                "server.http_ms": statistics.fmean(c - h for c, h in zip(lat_ms, handler_ms)),
                "server.response_cache_hit_ratio": 1.0 - computed / n,
                "server.response_bytes": statistics.fmean(client["bytes"]),
                "sources.ingest_zip_ms": 1000.0 * srv["ingest_zip_s"],
                "trace.layer_coverage": sum(handler_ms) / sum(lat_ms),
            },
        )
    return {
        "attempted": n, "failed": failed, "guards": guards, "e2e": e2e,
        "detail": detail, "layers": layers, "host": srv["host"],
        "rss": srv["peak_rss_mb"], "latency_ms": lat_ms, "spans": srv.get("spans"),
    }


def run_ingest(args, run_dir: Path) -> dict:
    rec = recording(args.seed, HOSTS, INGEST_SLICE * INGEST_BATCHES)
    inputs = WORK / "inputs" / f"ingest-{args.seed}"
    batches = ingest.write_batches(rec, inputs, INGEST_SLICE)
    out = run_dir / "ingest.out.json"
    worker = Worker("ingest.py", {
        "work": str(run_dir), "batches": batches, "warm": INGEST_WARM,
        "seconds": args.seconds, "trace": args.trace, "out": str(out),
    }, run_dir)
    try:
        worker.wait()
    finally:
        worker.close()
    res = json.loads(out.read_text())

    timed_batches = batches[INGEST_WARM:]
    failed = ingest.verify(rec, timed_batches, res)
    commit_ms = [1000.0 * x for x in res["commit_s"]]
    fresh_ms = [1000.0 * x for x in res["fresh_s"]]
    lat_ms = [c + r for c, r in zip(commit_ms, fresh_ms)]
    n = len(lat_ms)
    committed = sum(b["samples"] for b in timed_batches[:n])
    wall = res["wall_s"]
    e2e = {
        "setup_s": res["setup_end"] - worker.started,
        "peak_rss_mb": sum(res["peak_rss_mb"].values()),
        "latency_p50_ms": statistics.median(lat_ms),
        "ops_per_s": n / wall,
    }
    detail = {
        "commits": n,
        "commit_p50_ms": statistics.median(commit_ms),
        "commit_p75_ms": pct(commit_ms, 75),
        "fresh_query_p50_ms": statistics.median(fresh_ms),
        "samples_per_s": committed / wall,
        "store_bytes_per_sample": res["store_bytes"] / committed,
        "warm_cycle_ms": [1000.0 * x for x in res["warm_s"]],
    }
    layers = {}
    if args.trace:
        L = res["layers"]
        layers = layer_metrics(
            L, n,
            **{
                "sources.files_per_commit": res["data_files"] / n,
                "sources.jobs_per_commit": sum(
                    L.get(k, {}).get("jobs", 0)
                    for k in ("sources.ingest_zip", "sources.snapshot_write")
                ) / n,
                "sources.store_bytes_per_sample": detail["store_bytes_per_sample"],
                "trace.layer_coverage": sum(
                    v["self_s"] for k, v in L.items() if k != "cycle"
                ) / (sum(lat_ms) / 1000.0),
            },
        )
    return {
        "attempted": n, "failed": failed, "guards": {}, "e2e": e2e,
        "detail": detail, "layers": layers, "host": res["host"],
        "rss": res["peak_rss_mb"], "latency_ms": lat_ms, "spans": res.get("spans"),
    }


WORKLOADS = {"dashboard": run_dashboard, "ingest": run_ingest}


def overhead(results: Path, stem: str, traced_e2e: dict) -> dict:
    """Traced end-to-end numbers minus those of the untraced run of the same
    workload and seed, if there is one."""
    base = results / f"{stem}-e2e.json"
    if not base.exists():
        return {}
    e2e = json.loads(base.read_text())["e2e"]
    return {k: traced_e2e[k] - e2e[k] for k in traced_e2e}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "prometheus_parquet_server_spark" / "__init__.py").is_file():
        print(f"no package sources under {ROOT}", file=sys.stderr)
        return 2

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    steal0, total0 = cpu_ticks()
    try:
        res = WORKLOADS[args.workload](args, run_dir)
    except BaseException:
        for log in run_dir.glob("*.log"):
            print(f"---- {log.name}", log.read_text()[-4000:], sep="\n", file=sys.stderr)
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["layers"] if args.trace else res["e2e"]
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from {sorted(declared)}")
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while this run waited
    res["host"]["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    correct = res["failed"] == 0 and all(res["guards"].values())
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"], "guards": res["guards"], "host": res["host"],
        "peak_rss_parts_mb": res["rss"],
        "latency_ms": res["latency_ms"], "e2e": res["e2e"], "detail": res["detail"],
        "layers": res["layers"],
    }
    stem = f"{args.workload}-{args.seed}"
    if args.trace:
        full["tracing_overhead"] = overhead(results, stem, res["e2e"])
        (results / f"{stem}-spans.json").write_text(json.dumps(res["spans"]))
        (results / f"{stem}-trace.json").write_text(json.dumps(full, indent=1))
    else:
        (results / f"{stem}-e2e.json").write_text(json.dumps(full, indent=1))
    print(json.dumps({k: full[k] for k in ("host", "guards", "e2e", "detail")}))
    if args.trace:
        print(json.dumps({"tracing_overhead": full["tracing_overhead"]}))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
