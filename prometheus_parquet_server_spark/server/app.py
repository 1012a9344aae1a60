"""HTTP API surface (S12 in SURVEY.md §2.1) — stdlib http.server, no extra
dependencies.

Reference parity (/root/reference/src/main.rs:229-246, 343-425; readme.md:95-111):
- ``GET /``                          → series count text
- ``GET|POST /api/v1/labels``        → all label names
- ``GET|POST /api/v1/query_range``   → PromQL over a regular grid
- ``POST /api/v1/query``             → dummy: accepts literally ``1+1`` → "2"
- ``GET /api/v1/label/<name>/values``→ label values (reference: __name__ only;
  we generalize, SURVEY §2.6 M2)
- port 3003 by default

The reference runs its whole store in one process; here the handler holds a
SparkSession + the canonical long frame and compiles each request to a
DataFrame plan. Thread-per-request is fine: Spark sessions are thread-safe
and the heavy lifting happens on executors.
"""

from __future__ import annotations

import json
import logging
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.operators.interpolate import resample_to_grid

from prometheus_parquet_server_spark.durations import parse_duration, parse_timestamp
from prometheus_parquet_server_spark.json_out import (
    error_response,
    matrix_result,
    scalar_result,
    vector_result,
)
from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.operators.select import (
    all_label_names,
    label_values,
    series_count,
    series_sets,
)
from prometheus_parquet_server_spark.plans.compiler import (
    AlignedStore,
    PlanMemo,
    run_instant_query,
    run_query,
)

#: Prometheus's per-series resolution limit (web/api/v1/api.go): a range
#: query whose ``(end − start) / step`` exceeds it is refused as bad_data.
MAX_RESOLUTION_STEPS = 11_000


def prepare_collection_for_serving(
    collection: DataFrame,
    partitions: int = 4,
    shuffle_partitions: int = 4,
    tune_session: bool = True,
) -> DataFrame:
    """Latency-tune a store for interactive serving: coalesce to a few
    partitions and cache; with ``tune_session`` also reconfigure the
    SparkSession for low-latency small queries — few shuffle partitions
    (dashboard frames are tiny) and AQE OFF (its per-stage re-planning
    costs more than it saves at panel scale; keep it ON for batch/analytic
    sessions). NOTE: session-level settings affect every query on this
    session — dedicate a session to serving.

    Round-1 p50 was 1.75 s per query_range on a cached sf0.01 store; with
    this + the per-grid aligned store + the caches in MetricsHTTPServer,
    scripts/bench_serving.py measures cold (first-evaluation) p50 around
    ~0.5 s and cache-hit p50 under a millisecond."""
    if tune_session:
        conf = collection.sparkSession.conf
        conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        conf.set("spark.sql.adaptive.enabled", "false")
    return collection.coalesce(partitions).cache()


_log = logging.getLogger(__name__)


class _BadRequest(ValueError):
    """A request body that cannot be read (answered 400 ``bad_data``)."""


class _AlignedEntry(PlanMemo):
    """One cached aligned-store grid: the persisted frame, built on the grid
    extended ``pad`` steps backwards, and, as a ``PlanMemo`` over its own
    view, the plans compiled on the grid (at most ``plan_capacity``,
    evicted LRU)."""

    def __init__(
        self, grid: RegularTimeRange, pad: int, frame: DataFrame, plan_capacity: int
    ):
        self.grid, self.pad, self.frame = grid, pad, frame
        super().__init__(grid, self.view(grid), plan_capacity)

    def view(self, grid: RegularTimeRange) -> AlignedStore:
        """(exact, backward-extended | None, pad) frames for a prefix grid."""
        ext = self.frame
        if len(grid) < len(self.grid):
            ext = ext.filter(F.col("ts") <= grid.instants()[-1])
        if not self.pad:
            return ext, None, 0
        return ext.filter(F.col("ts") >= F.lit(float(grid.start))), ext, self.pad


class MetricsHTTPServer:
    """Serve the Prometheus-compatible API over a canonical long frame."""

    def __init__(
        self,
        spark: SparkSession,
        collection: DataFrame,
        port: int = 3003,
        time_offset: float = 0.0,
        response_cache_size: int = 128,
        aligned_store_grids: int = 4,
        aligned_pad_steps: int = 256,
        metric_types: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.collection = collection
        self.port = port
        #: ingest-time Prometheus metadata types (ingest.metric_type_map
        #: via ingest_zip(types_out=...)); names absent here serve
        #: "unknown" — never a guessed type
        self.metric_types = dict(metric_types or {})
        self.time_offset = time_offset  # --shift_to_midnight equivalent
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # The store is immutable once loaded (the reference batch-loads at
        # startup, src/main.rs:47-72), so responses and per-grid aligned
        # frames can be cached without invalidation concerns.
        self._response_cache: "OrderedDict[tuple, tuple[int, dict]]" = OrderedDict()
        self._response_cache_size = response_cache_size
        self._aligned: "OrderedDict[tuple, _AlignedEntry]" = OrderedDict()
        self._aligned_grids = aligned_store_grids
        self._aligned_pad_steps = aligned_pad_steps
        self._lock = threading.Lock()

    # ---- serving caches ----------------------------------------------------

    def _entry_for(self, grid: RegularTimeRange) -> _AlignedEntry | None:
        """The cached aligned entry ``grid`` is a prefix of (same start and
        step, no later end; ``RegularTimeRange.is_prefix_of``), marked most
        recently used, or None. Both the aligned frames and the plan memo
        of a request come from this one lookup."""
        with self._lock:
            for key, entry in self._aligned.items():
                if grid.is_prefix_of(entry.grid):
                    self._aligned.move_to_end(key)
                    return entry
        return None

    def _aligned_for(self, grid: RegularTimeRange) -> AlignedStore:
        """Per-grid aligned store: every series interpolated onto the grid
        ONCE, persisted; all instant selectors on that grid then skip the
        resample stage, and rate() lags over it (the dominant per-query
        costs). Dashboards reuse a handful of grids, so a small LRU
        suffices. Returns (exact frame, backward-extended frame | None,
        pad steps).

        When start/step are integral (every real dashboard), the frame is
        built on the grid extended ``_aligned_pad_steps`` backwards — the
        padding supplies rate's t−r endpoints (bit-exact: integer doubles
        add/subtract exactly) — and the exact view is a ts ≥ start filter.

        A request whose grid is a PREFIX of a cached one (same start, same
        step, shorter range; found by ``_entry_for``) is served by a ts
        filter on the cached frame: both grids enumerate ``start + n*inc``
        with the identical floats, so the subset is bit-exact. The entry
        is also the ``PlanMemo`` of the plans each query text compiled to
        on the entry's own grid, which ``handle_query_range`` passes to
        ``run_query``; evicting the entry drops its plans together with
        its persisted frame. (General sliding reuse is deliberately NOT
        attempted — ``start' + m*inc`` need not equal
        ``start + (k+m)*inc`` in f64, and the engine's grid arithmetic is
        bit-for-bit reference parity.)"""
        entry = self._entry_for(grid)
        if entry is None:
            entry = self._build_aligned(grid)
        return entry.view(grid)

    def _build_aligned(self, grid: RegularTimeRange) -> _AlignedEntry:
        pad = self._aligned_pad_steps
        if not (
            float(grid.start).is_integer() and float(grid.increment).is_integer()
        ):
            pad = 0  # fractional grids: no bit-exact backward extension
        build_grid = grid
        if pad:
            build_grid = RegularTimeRange(
                grid.start - pad * grid.increment, grid.end, grid.increment
            )
        frame = resample_to_grid(self.collection, None, grid=build_grid).persist()
        frame.count()  # materialize outside the request's critical path
        entry = _AlignedEntry(grid, pad, frame, self._response_cache_size)
        key = (grid.start, grid.end, grid.increment)
        with self._lock:
            if key in self._aligned:
                # a concurrent request built the same grid while we were
                # outside the lock — keep theirs, drop our duplicate (an
                # overwrite would orphan a persisted frame)
                frame.unpersist()
                entry = self._aligned[key]
                self._aligned.move_to_end(key)
            else:
                self._aligned[key] = entry
                while len(self._aligned) > self._aligned_grids:
                    _, old = self._aligned.popitem(last=False)
                    old.frame.unpersist()
        return entry

    def _cached_response(self, key: tuple, compute) -> tuple[int, dict]:
        with self._lock:
            if key in self._response_cache:
                self._response_cache.move_to_end(key)
                return self._response_cache[key]
        status, payload = compute()
        if status == 200:  # never cache errors — transient failures would
            with self._lock:  # otherwise replay as permanent 400s
                self._response_cache[key] = (status, payload)
                while len(self._response_cache) > self._response_cache_size:
                    self._response_cache.popitem(last=False)
        return status, payload

    # ---- request handlers -------------------------------------------------

    def handle_query_range(self, params: dict[str, str]) -> tuple[int, dict]:
        try:
            query = params["query"]
            start = parse_timestamp(params["start"])
            end = parse_timestamp(params["end"])
            step = parse_duration(params["step"])
        except (KeyError, ValueError) as e:
            return 400, error_response(f"bad request: {e}")
        # refused before compiling: a 1 ms step over a week would hand Spark
        # a 604.8 M-row grid (batch run_query stays unbounded)
        if step > 0 and (end - start) // step > MAX_RESOLUTION_STEPS:
            return 400, error_response(
                "exceeded maximum resolution of 11,000 points per timeseries. "
                "Try decreasing the query resolution (?step=XX)",
                "bad_data",
            )

        def compute() -> tuple[int, dict]:
            try:
                grid = RegularTimeRange(
                    start, end, step, time_offset=self.time_offset
                )
                # lazy: the aligned store is built (and persisted) only when
                # the compiled plan actually reads it — pure range-vector
                # queries with oversized ranges and offset queries skip the
                # first-request build tax entirely. The pad hint mirrors
                # _aligned_for's integral-grid rule so range eligibility is
                # decidable up front.
                pad_hint = (
                    self._aligned_pad_steps
                    if float(grid.start).is_integer()
                    and float(grid.increment).is_integer()
                    else 0
                )
                # a grid that is a prefix of a cached aligned entry reuses
                # the plan its query compiled to on the entry's own grid
                entry = self._entry_for(grid)

                def plan(plan_memo: PlanMemo | None) -> DataFrame:
                    return run_query(
                        self.spark, self.collection, query, grid,
                        aligned_ext_steps=pad_hint,
                        aligned_provider=lambda: self._aligned_for(grid),
                        plan_memo=plan_memo,
                    )

                df = plan(entry)
                try:
                    payload = matrix_result(df, time_offset=self.time_offset)
                except Exception:
                    if entry is None or not entry.serves_filtered(query, grid):
                        raise
                    # a memoized plan also evaluates the entry's instants
                    # past this grid's end before its ts filter: an error
                    # raised only there (a strict histogram_quantile bucket
                    # check, a duplicate match group) must not fail this
                    # grid, so it is compiled for this grid alone
                    payload = matrix_result(plan(None), time_offset=self.time_offset)
                return 200, payload
            except Exception as e:  # query errors → 400 (src/main.rs:386-393)
                return 400, error_response(str(e))

        return self._cached_response(("range", query, start, end, step), compute)

    def handle_labels(self) -> tuple[int, dict]:
        # cached for the same reason as /metadata: the store is immutable
        # post-ingest and Grafana's variable editor polls these endpoints
        def compute() -> tuple[int, dict]:
            names = [
                r["label"] for r in all_label_names(self.collection).collect()
            ]
            return 200, {"status": "success", "data": names}

        return self._cached_response(("labels",), compute)

    def handle_label_values(self, label: str) -> tuple[int, dict]:
        def compute() -> tuple[int, dict]:
            vals = [
                r["value"]
                for r in label_values(self.collection, label).collect()
            ]
            return 200, {"status": "success", "data": sorted(vals)}

        return self._cached_response(("label_values", label), compute)

    def handle_instant_query(self, params: dict[str, str]) -> tuple[int, dict]:
        """Real instant evaluation (the reference's endpoint is a dummy that
        only accepts ``1+1`` → 2, src/main.rs:406-413 — scalar arithmetic
        makes that a special case of the full engine)."""
        try:
            query = params["query"]
            at = parse_timestamp(params["time"]) if "time" in params else 0.0
        except (KeyError, ValueError) as e:
            return 400, error_response(f"bad request: {e}")

        def compute() -> tuple[int, dict]:
            try:
                kind, result = run_instant_query(
                    self.spark, self.collection, query, at,
                    time_offset=self.time_offset,
                )
                if kind == "scalar":
                    return 200, scalar_result(result, at)
                return 200, vector_result(result, time_offset=self.time_offset)
            except Exception as e:
                return 400, error_response(str(e))

        return self._cached_response(("instant", query, at), compute)

    def handle_series(self, selectors: list[str]) -> tuple[int, dict]:
        """``/api/v1/series?match[]=<selector>...`` (beyond-reference):
        union of the distinct label sets matched by each selector."""
        import json as _json

        from prometheus_parquet_server_spark.labels import NAME_LABEL
        from prometheus_parquet_server_spark.plans.ast import SelectorNode
        from prometheus_parquet_server_spark.plans.parser import parse_promql

        if not selectors:
            return 400, error_response("no match[] parameter provided")
        seen: set[str] = set()
        out = []
        try:
            for sel in selectors:
                node = parse_promql(sel)
                if not isinstance(node, SelectorNode) or node.range_s is not None:
                    return 400, error_response(
                        f"match[] must be an instant vector selector: {sel!r}"
                    )
                rows = series_sets(self.collection, list(node.matchers)).collect()
                for r in rows:
                    metric = dict(r["labels"])
                    if r["name"] is not None:
                        metric[NAME_LABEL] = r["name"]
                    key = _json.dumps(metric, sort_keys=True)
                    if key not in seen:
                        seen.add(key)
                        out.append(metric)
        except Exception as e:
            return 400, error_response(str(e))
        out.sort(key=lambda m: sorted(m.items()))
        return 200, {"status": "success", "data": out}

    def handle_buildinfo(self) -> tuple[int, dict]:
        """/api/v1/status/buildinfo — the first call Grafana makes when a
        Prometheus data source is configured (beyond the reference's
        route table; without it some clients refuse the connection)."""
        return 200, {
            "status": "success",
            "data": {
                "version": "2.45.0",
                "revision": "prometheus-parquet-server-spark",
                "branch": "main",
                "buildUser": "",
                "buildDate": "",
                "goVersion": "",
            },
        }

    def handle_metadata(self) -> tuple[int, dict]:
        """/api/v1/metadata — metric metadata per name. The canonical
        canonical frame does not carry typing, so types come from the
        ``metric_types`` map the caller captured at ingest
        (ingest_zip(types_out=...) → histogram families report
        "histogram"); anything unmapped serves "unknown" — valid per the
        API contract, and never a guessed type.

        Rides the response cache: the name list only changes at ingest
        (the store is immutable once built, SURVEY §1.1), and Grafana
        polls this endpoint on every dashboard refresh — without the
        cache each poll was a distributed label_values job."""

        def compute() -> tuple[int, dict]:
            names = [
                r["value"]
                for r in label_values(self.collection, "__name__").collect()
            ]
            return 200, {
                "status": "success",
                "data": {
                    n: [
                        {
                            "type": self.metric_types.get(n, "unknown"),
                            "help": "",
                            "unit": "",
                        }
                    ]
                    for n in sorted(names)
                },
            }

        return self._cached_response(("metadata",), compute)

    def handle_root(self) -> tuple[int, dict]:
        return 200, {"series": series_count(self.collection)}

    # ---- plumbing ----------------------------------------------------------

    def _handler_class(self):
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _send(self, status: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _params(self) -> dict[str, str]:
                parsed = urlparse(self.path)
                params = {k: v[0] for k, v in parse_qs(parsed.query).items()}
                try:
                    length = int(self.headers.get("Content-Length") or 0)
                    body = self.rfile.read(length).decode() if length else ""
                    if body and "json" in self.headers.get("Content-Type", ""):
                        fields = json.loads(body)
                        if not isinstance(fields, dict):
                            raise ValueError("a JSON body must be an object")
                        # numeric JSON values must not crash the str-typed
                        # parsers — coerce everything to str like form data
                        params.update({k: str(v) for k, v in fields.items()})
                    elif body:
                        params.update({k: v[0] for k, v in parse_qs(body).items()})
                except ValueError as e:  # JSON, UTF-8 and length errors
                    raise _BadRequest(f"bad request body: {e}") from None
                return params

            def _route(self) -> None:
                # the one top-level guard: every request gets an answer in
                # the API's error shape, never a dropped connection
                try:
                    self._dispatch()
                except _BadRequest as e:
                    self._send(400, error_response(str(e), "bad_data"))
                except Exception as e:
                    _log.exception("internal error serving %s", self.path)
                    self._send(500, error_response(f"internal error: {e}", "internal"))

            def _dispatch(self) -> None:
                path = urlparse(self.path).path
                if path == "/":
                    self._send(*outer.handle_root())
                elif path == "/api/v1/labels":
                    self._send(*outer.handle_labels())
                elif path == "/api/v1/query_range":
                    self._send(*outer.handle_query_range(self._params()))
                elif path == "/api/v1/query":
                    self._send(*outer.handle_instant_query(self._params()))
                elif path == "/api/v1/series":
                    parsed = urlparse(self.path)
                    multi = parse_qs(parsed.query).get("match[]", [])
                    length = int(self.headers.get("Content-Length") or 0)
                    if length:
                        body = self.rfile.read(length).decode()
                        multi += parse_qs(body).get("match[]", [])
                    self._send(*outer.handle_series(multi))
                elif path.startswith("/api/v1/label/") and path.endswith("/values"):
                    label = unquote(path[len("/api/v1/label/") : -len("/values")])
                    self._send(*outer.handle_label_values(label))
                elif path == "/api/v1/status/buildinfo":
                    self._send(*outer.handle_buildinfo())
                elif path == "/api/v1/metadata":
                    self._send(*outer.handle_metadata())
                elif path in ("/-/healthy", "/-/ready"):
                    # Prometheus serves these as text/plain
                    body = b"OK"
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                elif path == "/favicon.ico":
                    self.send_response(204)
                    self.end_headers()
                else:
                    self._send(404, error_response("not found"))

            do_GET = _route
            do_POST = _route

        return Handler

    def start(self) -> None:
        self._httpd = ThreadingHTTPServer(("0.0.0.0", self.port), self._handler_class())
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
