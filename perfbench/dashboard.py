"""``dashboard`` workload, client side: one client in a closed loop sends
``query_range`` panels over HTTP to the server process (``serve.py``).

A view is one dashboard refresh: the eight ``PANELS`` on one grid. Every
grid is a prefix of one of three anchor grids (same start and step,
earlier end), so the server's aligned store, built once per anchor during
warm-up, serves every timed request. One timed view in four revisits one
of the last few views and is answered from the response cache; every other
timed view is a grid no earlier request used.
"""

from __future__ import annotations

import http.client
import json
import math
import random
import time
from urllib.parse import urlencode

import numpy as np

from gen import SCRAPE_S, T0, Recording

PANELS = (
    "cpu_usage",
    "sum by (host) (rate(http_requests[5m]))",
    "rate(http_requests[5m])",
    "histogram_quantile(0.9, sum by (Le) (rate(request_duration_bucket[5m])))",
    "avg by (env) (cpu_usage)",
    "topk(3, cpu_usage)",
    "rate(http_requests_errors[5m]) / rate(http_requests[5m])",
    "max_over_time(cpu_usage[10m])",
)
RATE_RANGE_S = 300.0

# (start offset from T0 in s, step in s, points of the longest grid)
ANCHORS = ((3600.0, 60.0, 240), (7200.0, 30.0, 240), (14400.0, 15.0, 240))
TRIMS = range(1, 41)  # a timed grid ends this many steps before its anchor's
WARM_TRIM = 41  # the warm-up's prefix grids; no timed grid uses it
REVISIT_WINDOW = 8  # views; 8 x 8 panels stay inside the 128-entry LRU


def grid(anchor: int, trim: int) -> tuple[float, float, float]:
    off, step, points = ANCHORS[anchor]
    start = T0 + off
    return start, start + (points - 1 - trim) * step, step


def timed_rounds(rng: random.Random) -> list[list[tuple[int, int, bool]]]:
    """Rounds of (anchor, trim, is_revisit) views, as many as a run may reach.

    A round is one new view on each anchor, in a seeded order, then a
    revisit of one of the last few views. The anchors differ in cost, so
    the timed loop stops only between rounds: every run then has the same
    mix of anchors and revisits, whatever the seed or the host speed. The
    seed picks the trims, the anchor order and the revisited view."""
    trims = [rng.sample(TRIMS, len(TRIMS)) for _ in ANCHORS]
    views: list[tuple[int, int, bool]] = []
    rounds = []
    for r in range(len(TRIMS)):
        order = rng.sample(range(len(ANCHORS)), len(ANCHORS))
        views += [(a, trims[a][r], False) for a in order]
        a, t, _ = rng.choice(views[-REVISIT_WINDOW:])
        views.append((a, t, True))
        rounds.append(views[-len(ANCHORS) - 1:])
    return rounds


def query(port: int, q: str, g: tuple[float, float, float]) -> tuple[float, bytes, int]:
    body = urlencode(
        {"query": q, "start": repr(g[0]), "end": repr(g[1]), "step": f"{int(g[2])}s"}
    )
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request(
            "POST", "/api/v1/query_range", body,
            {"Content-Type": "application/x-www-form-urlencoded"},
        )
        resp = conn.getresponse()
        data = resp.read()
    finally:
        conn.close()
    return time.perf_counter() - t0, data, resp.status


# ---- output checks --------------------------------------------------------


def _index(g: tuple[float, float, float]) -> np.ndarray:
    start, end, step = g
    n = max(1, math.floor((end - start + step) / step))
    return ((start + step * np.arange(n) - T0) / SCRAPE_S).astype(int)


def _values(series: dict) -> list[float]:
    return [float(v) for _t, v in series["values"]]


def check(rec: Recording, panel: int, g, payload: dict) -> bool:
    """Selector and sum panels against numpy; the rest by series and points."""
    if payload.get("status") != "success":
        return False
    result = payload["data"]["result"]
    idx = _index(g)
    n = len(idx)
    hosts = {h: i for i, h in enumerate(rec.hosts)}
    if panel == 0:  # cpu_usage: grid instants land on samples
        if len(result) != len(hosts):
            return False
        for s in result:
            h = hosts[s["metric"]["host"]]
            if s["metric"]["env"] != rec.env_of(h) or _values(s) != rec.cpu[h, idx].tolist():
                return False
        return True
    if panel == 1:  # sum by (host) (rate(...)): rate is (v(t) - v(t-r)) / r
        lag = int(RATE_RANGE_S / SCRAPE_S)
        req = rec.requests.reshape(len(hosts), -1, rec.n_points)
        want = ((req[:, :, idx] - req[:, :, idx - lag]) / RATE_RANGE_S).sum(axis=1)
        if len(result) != len(hosts):
            return False
        return all(
            np.allclose(_values(s), want[hosts[s["metric"]["host"]]], rtol=1e-12, atol=0)
            for s in result
        )
    expect_series = {2: 3 * len(hosts), 3: 1, 4: 2, 6: 3 * len(hosts), 7: len(hosts)}
    if panel == 5:  # topk(3, ...): three points per instant over any hosts
        return sum(len(s["values"]) for s in result) == 3 * n
    return len(result) == expect_series[panel] and all(
        len(s["values"]) == n for s in result
    )


# ---- the run ----------------------------------------------------------------


def run(port: int, seed: int, seconds: float, mark) -> dict:
    """Warm up, call ``mark()``, then run the timed closed loop; returns the
    raw per-request data.

    The warm-up first sends every panel on each anchor's longest grid, so
    the aligned store every shorter grid of the anchor reuses is built
    before the timed phase. Then it sends one view per anchor on a prefix
    grid that no timed view uses: the first prefix views of a fresh server
    are slower than later ones, and without this the first timed round
    would pay for that. No timed grid was seen before."""
    for trim in (0, WARM_TRIM):
        for a in range(len(ANCHORS)):
            for q in PANELS:
                dt, data, status = query(port, q, grid(a, trim))
                if status != 200:
                    raise RuntimeError(f"warm-up {q!r} failed: {data[:300]!r}")
    setup_end = time.time()
    mark()

    lat, sizes, fresh_flags, responses = [], [], [], []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    for views in timed_rounds(random.Random(seed)):
        if time.perf_counter() >= deadline:
            break
        for a, t, revisit in views:
            g = grid(a, t)
            for p, q in enumerate(PANELS):
                dt, data, status = query(port, q, g)
                lat.append(dt)
                sizes.append(len(data))
                fresh_flags.append(not revisit)
                responses.append((p, g, status, data))
    return {
        "setup_end": setup_end,
        "wall_s": time.perf_counter() - t_start,
        "latency_s": lat,
        "bytes": sizes,
        "first_visits": sum(fresh_flags),
        "responses": responses,
    }


def verify(rec: Recording, responses) -> tuple[int, int]:
    """(failed requests, samples returned) over the timed responses."""
    failed = samples = 0
    for p, g, status, data in responses:
        payload = json.loads(data) if status == 200 else {}
        ok = status == 200 and check(rec, p, g, payload)
        failed += not ok
        if ok:
            samples += sum(len(s["values"]) for s in payload["data"]["result"])
    return failed, samples
