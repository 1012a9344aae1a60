"""Seeded recordings in the reference's zip-of-Parquet layout.

A recording is three wide tables that share one time axis (``time``,
seconds since the epoch, one row per scrape and label tuple):

- ``node/cpu_usage``        SingleColumn: ``host``, ``env`` labels, one gauge;
- ``node/http_requests``    MultiColumn: ``host``, ``method`` labels,
  ``value`` and ``errors`` counters (series ``http_requests`` and
  ``http_requests_errors``);
- ``node/request_duration`` Histogram: ``host`` label, cumulative ``Le…``
  bucket counters ending in ``Le+Inf``, plus ``count`` and ``sum``.

Every value is a small integer or a multiple of 1/64, so sums, differences
and interpolation at a sample instant are exact in float64 and a numpy
reference can be compared without tolerance where the engine's arithmetic
order does not matter.
"""

from __future__ import annotations

import io
import zipfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1_704_067_200.0  # 2024-01-01T00:00:00Z
SCRAPE_S = 15.0
METHODS = ("GET", "POST", "PUT")
ENVS = ("prod", "staging")
LE_BOUNDS = ("0.05", "0.25", "1.0", "+Inf")


@dataclass
class Recording:
    """The generated samples, indexed ``[tuple, scrape]``."""

    times: np.ndarray  # (n_points,)
    hosts: list[str]
    cpu: np.ndarray  # (n_hosts, n_points)
    requests: np.ndarray  # (n_hosts * len(METHODS), n_points), host-major
    errors: np.ndarray  # same shape as requests
    buckets: np.ndarray  # (n_hosts, len(LE_BOUNDS), n_points), cumulative
    dur_sum: np.ndarray  # (n_hosts, n_points)

    @property
    def n_points(self) -> int:
        return len(self.times)

    def samples(self, lo: int = 0, hi: int | None = None) -> int:
        """Canonical samples that scrapes ``[lo, hi)`` ingest into."""
        n = len(self.times[lo:hi])
        series = (
            len(self.hosts)  # cpu_usage
            + 2 * len(self.hosts) * len(METHODS)  # requests + errors
            + len(self.hosts) * (len(LE_BOUNDS) + 2)  # buckets, count, sum
        )
        return n * series

    def env_of(self, host_index: int) -> str:
        return ENVS[host_index % len(ENVS)]


def recording(seed: int, n_hosts: int, n_points: int) -> Recording:
    rng = np.random.default_rng(seed)
    times = T0 + SCRAPE_S * np.arange(n_points, dtype=np.float64)
    hosts = [f"host-{i:02d}" for i in range(n_hosts)]
    cpu = rng.integers(0, 64 * 100, size=(n_hosts, n_points)) / 64.0
    n_req = n_hosts * len(METHODS)
    requests = np.cumsum(rng.integers(0, 400, size=(n_req, n_points)), axis=1)
    errors = np.cumsum(rng.integers(0, 8, size=(n_req, n_points)), axis=1)
    # per-scrape observations split over the buckets, then made cumulative
    # in the bound (columns) and in time (rows)
    per_bucket = rng.integers(0, 50, size=(n_hosts, len(LE_BOUNDS), n_points))
    buckets = np.cumsum(np.cumsum(per_bucket, axis=1), axis=2)
    dur_sum = np.cumsum(rng.integers(0, 64 * 20, size=(n_hosts, n_points)), axis=1) / 64.0
    return Recording(
        times, hosts, cpu, requests.astype(np.float64), errors.astype(np.float64),
        buckets.astype(np.float64), dur_sum,
    )


def _tables(rec: Recording, lo: int, hi: int) -> dict[str, pa.Table]:
    t = rec.times[lo:hi]
    n = len(t)
    hosts = rec.hosts
    cpu = pa.table({
        "time": np.tile(t, len(hosts)),
        "host": np.repeat(hosts, n),
        "env": np.repeat([rec.env_of(i) for i in range(len(hosts))], n),
        "cpu": rec.cpu[:, lo:hi].ravel(),
    })
    req_hosts = [h for h in hosts for _ in METHODS]
    req_methods = [m for _ in hosts for m in METHODS]
    http = pa.table({
        "time": np.tile(t, len(req_hosts)),
        "host": np.repeat(req_hosts, n),
        "method": np.repeat(req_methods, n),
        "value": rec.requests[:, lo:hi].ravel(),
        "errors": rec.errors[:, lo:hi].ravel(),
    })
    hist = {"time": np.tile(t, len(hosts)), "host": np.repeat(hosts, n)}
    for j, bound in enumerate(LE_BOUNDS):
        hist[f"Le{bound}"] = rec.buckets[:, j, lo:hi].ravel()
    hist["count"] = rec.buckets[:, -1, lo:hi].ravel()
    hist["sum"] = rec.dur_sum[:, lo:hi].ravel()
    return {
        "cpu_usage": cpu,
        "http_requests": http,
        "request_duration": pa.table(hist),
    }


def write_zip(rec: Recording, path: str, lo: int = 0, hi: int | None = None) -> None:
    """Write scrapes ``[lo, hi)`` as a zip of ``node/<member>.parquet``."""
    hi = rec.n_points if hi is None else hi
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_STORED) as zf:
        for name, table in _tables(rec, lo, hi).items():
            buf = io.BytesIO()
            pq.write_table(table, buf)
            zf.writestr(f"node/{name}.parquet", buf.getvalue())
