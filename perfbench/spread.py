#!/usr/bin/env python3
"""Run the benchmark on several seeds and report its run-to-run spread.

    python3 perfbench/spread.py --seeds 1-10 [--workloads dashboard,ingest]
        [--seconds S] [--traced]

Runs ``run.py`` once per seed and workload, the workloads in turn for each
seed, and prints every run's metrics, then per workload and end-to-end
metric the median and the spread: the distance between the first and the
third quartile (``statistics.quantiles(n=4)``) as a share of the median.

With ``--traced`` every untraced run is followed by a traced run of the same
seed. The tracing overhead of a metric is then the median, over these
back-to-back pairs, of traced minus untraced; it is reported as unresolved
when it is smaller than the untraced runs' interquartile range.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    info = json.loads(lines[-2] if not trace else lines[-3])
    out["wall_s"] = time.time() - t0
    out["steal_share"] = info["host"]["steal_share"]
    return out


def spread(xs: list[float]) -> tuple[float, float]:
    """(median, IQR / median)."""
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return m, (q[2] - q[0]) / m


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument(
        "--workloads", default=",".join(w["name"] for w in spec["workloads"])
    )
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    workloads = args.workloads.split(",")

    e2e = {w: {} for w in workloads}
    diff = {w: {} for w in workloads}
    t_all = time.time()
    for seed in seeds(args.seeds):
        for w in workloads:
            r = run(w, seed, args.seconds, 0)
            vals = {k: v["value"] for k, v in r["metrics"].items()}
            print(w, seed, f"wall={r['wall_s']:.1f}s", f"steal={r['steal_share']:.4f}",
                  r["correct"], r["attempted"], r["failed"],
                  {k: round(v, 3) for k, v in vals.items()}, flush=True)
            if not r["correct"]:
                sys.exit(f"{w} seed {seed}: incorrect output")
            for k, v in vals.items():
                e2e[w].setdefault(k, []).append(v)
            if args.traced:
                t = run(w, seed, args.seconds, 1)
                with open(ROOT / ".perfbench" / "results" / f"{w}-{seed}-trace.json") as f:
                    oh = json.load(f)["tracing_overhead"]
                print(w, seed, "traced", f"wall={t['wall_s']:.1f}s",
                      {k: round(v, 3) for k, v in oh.items()}, flush=True)
                for k, v in oh.items():
                    diff[w].setdefault(k, []).append(v)
    print(f"total wall {time.time() - t_all:.0f} s")
    for w in workloads:
        for k, xs in e2e[w].items():
            m, s = spread(xs)
            line = f"{w:10s} {k:16s} n={len(xs)} median={m:10.3f} iqr/median={s:.3f}"
            if diff[w]:
                oh = statistics.median(diff[w][k])
                verdict = "unresolved" if abs(oh) < s * m else "resolved"
                line += f" overhead={oh:+.3f} ({oh / m:+.1%}, {verdict})"
            print(line)


if __name__ == "__main__":
    main()
