"""AST → DataFrame compiler: the QueryResult state machine on Spark.

Reference parity: /root/reference/src/query.rs:41-124, 243-596. The 6-variant
enum becomes typed Python wrappers over lazy DataFrames; ``process_ast``'s
recursion becomes :func:`_eval`; Catalyst then optimizes the composed plan —
the reference has no optimizer (SURVEY.md §4), we get pushdown/pruning free.

State transitions (src/query.rs:64-124):

    OriginalCollection ──selector──▶ Unprocessed           (instant vector)
                       ──selector[r]──▶ UnprocessedVector  (range vector)
    Unprocessed ──resampled()──▶ Processed                 (grid-aligned)
    UnprocessedVector ──rate/irate──▶ Processed
    Processed ──selector──▶ Processed (re-filter; adding [r] is an error)
    re-filtering an Unprocessed/ProcessedVector → error
    Scalar for literals

Functions (src/query.rs:243-256): only rate, irate, histogram_quantile, sum;
anything else errors "Unknown function".
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass
from dataclasses import replace as dc_replace

from pyspark.sql import DataFrame, SparkSession

from prometheus_parquet_server_spark.labels import matchers_predicate
from prometheus_parquet_server_spark.operators.aggregate import (
    AGG_FNS,
    aggregate_over_series,
    count_values_over_series,
    quantile_over_series,
    topk_over_series,
)
from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
from prometheus_parquet_server_spark.operators.histogram import histogram_quantile
from prometheus_parquet_server_spark.operators.interpolate import resample_to_grid
from prometheus_parquet_server_spark.operators.mathfn import (
    DATE_FNS,
    MATH_FNS,
    apply_clamp,
    apply_math_fn,
    apply_round,
    clamp_expr,
    round_expr,
)
from prometheus_parquet_server_spark.operators.over_time import (
    OVER_TIME_FNS,
    changes_to_grid,
    deriv_to_grid,
    holt_winters_to_grid,
    idelta_to_grid,
    mad_over_time_to_grid,
    over_time_to_grid,
)
from prometheus_parquet_server_spark.operators.rate import (
    _lag_fast_path_applicable,
    irate_to_grid,
    rate_from_aligned,
    rate_to_grid,
)
from prometheus_parquet_server_spark.operators.select import QueryError, select_series
from prometheus_parquet_server_spark.operators.binop import (
    COMP_OPS,
    SET_OPS,
    gridscalar_const_op,
    gridscalar_gridscalar_op,
    scalar_scalar_op,
    vector_gridscalar_op,
    vector_scalar_op,
    vector_vector_op,
)
from prometheus_parquet_server_spark.operators.labelfn import (
    absent_over_grid,
    label_join,
    label_replace,
    timestamp_of,
)
from prometheus_parquet_server_spark.plans.ast import (
    BinaryNode,
    FuncNode,
    Node,
    ScalarNode,
    SelectorNode,
    StringNode,
    SubqueryNode,
    UnaryNode,
)
from prometheus_parquet_server_spark.plans.parser import parse_promql

from pyspark.sql import functions as F


@dataclass
class _Ctx:
    spark: SparkSession
    collection: DataFrame  # canonical long frame
    grid: RegularTimeRange
    #: optional pre-aligned store for EXACTLY this grid (one interpolated row
    #: per series per grid instant, offset 0). Instant selectors read it and
    #: skip the resample stage entirely — per-series interpolation commutes
    #: with label filtering, so results are identical. Range-vector selectors
    #: ([r]) and offsets still read raw samples (rate over interpolated
    #: points would be wrong).
    aligned: DataFrame | None = None
    #: optional store aligned to the grid extended ``aligned_ext_steps``
    #: steps BACKWARDS (instants start − pad·inc … end). rate() uses it for
    #: the pure-lag fast path when r ≤ pad·inc (rate.rate_from_aligned).
    aligned_ext: DataFrame | None = None
    aligned_ext_steps: int = 0
    #: lazy builder for (aligned, aligned_ext, aligned_ext_steps) — invoked
    #: at most once, and only when the plan actually reaches an
    #: aligned-eligible read (instant selector, or a rate whose range fits
    #: the backward pad). Queries that never touch the aligned store
    #: (offsets, oversized ranges) skip the build entirely.
    aligned_provider: "Callable[[], tuple[DataFrame, DataFrame | None, int]] | None" = None
    #: route sum/avg aggregations through order-insensitive accumulation:
    #: True = decimal (operators.aggregate.exact_sum), "unit" = integer
    #: micro-units (aggregate.unit_sum, additionally bit-stable across
    #: engines — the oracle-graded contract); float64 PromQL semantics
    #: when off (default)
    exact_agg: bool | str = False

    def resolve_aligned(self) -> None:
        if self.aligned_provider is not None:
            provider, self.aligned_provider = self.aligned_provider, None
            self.aligned, self.aligned_ext, self.aligned_ext_steps = provider()

    def grid_df(self) -> DataFrame:
        return self.grid.to_df(self.spark)


@dataclass
class Unprocessed:
    df: DataFrame
    offset: int | None = None


@dataclass
class UnprocessedVector:
    df: DataFrame
    over_range: int = 0
    offset: int | None = None
    #: the same selection over the ctx.aligned store, when one exists —
    #: lets rate() take the aligned lag fast path (rate.rate_from_aligned)
    aligned_df: DataFrame | None = None


@dataclass
class Processed:
    df: DataFrame


@dataclass
class ScalarResult:
    value: float


@dataclass
class StringResult:
    value: str


@dataclass
class GridScalar:
    """Per-step scalar (PromQL scalar type under a range query): one value
    per grid instant, no labels. Produced by ``time()`` and ``scalar(v)``;
    binary ops against vectors join on ts alone (no label matching)."""

    df: DataFrame  # columns: ts, value


State = (
    Unprocessed
    | UnprocessedVector
    | Processed
    | ScalarResult
    | StringResult
    | GridScalar
)


def _resampled(state: State, ctx: _Ctx) -> State:
    """``QueryResult::resampled`` (src/query.rs:109-124)."""
    if isinstance(state, (Processed, ScalarResult, StringResult, GridScalar)):
        return state
    if isinstance(state, Unprocessed):
        offset = float(state.offset or 0)
        # the slot path reads ctx.grid only: no grid frame is built
        return Processed(resample_to_grid(state.df, None, offset=offset, grid=ctx.grid))
    raise QueryError("Cannot resample a vectorized time series")


def _eval_selector(node: SelectorNode, ctx: _Ctx, state: State) -> State:
    """``filter_by_labels`` dispatch (src/query.rs:64-107)."""
    matchers = list(node.matchers)
    if isinstance(state, ScalarResult):
        raise QueryError("A scalar cannot be filtered")
    if isinstance(state, UnprocessedVector):
        raise QueryError("Cannot re-filter a vectorized raw series")
    if isinstance(state, Processed):
        if node.range_s is not None:
            raise QueryError("Cannot vectorize a re-sampled series")
        df = state.df.filter(
            matchers_predicate(matchers, F.col("labels"), F.col("name"))
        )
        return Processed(df)
    if isinstance(state, Unprocessed):
        if node.offset_s is not None and state.offset is not None:
            raise QueryError("Trying to apply multiple offsets to series")
        df = state.df.filter(
            matchers_predicate(matchers, F.col("labels"), F.col("name"))
        )
        offset = node.offset_s if node.offset_s is not None else state.offset
        if node.range_s is not None:
            return UnprocessedVector(df, node.range_s, offset)
        return Unprocessed(df, offset)
    # fresh selection from the collection: name-equality rule enforced (F3)
    if node.at_s is not None:
        # @ modifier: the selection is evaluated at ONE fixed instant and
        # replicated across the grid (Prometheus query_range semantics for
        # `m @ t` — a constant series). start()/end() resolve against the
        # query grid. One single-instant resample + a broadcast cross join.
        if node.range_s is not None:
            # range-vector anchors are honored by the consuming function
            # (_eval_func single-instant interception); reaching here means
            # no consumer can apply them — error, never ignore
            raise QueryError(
                "@ modifier on a range vector is only supported as a function argument"
            )
        at = _resolve_at_instant(node.at_s, ctx)
        off = float(node.offset_s or 0)
        at_grid = RegularTimeRange(at, at, 1.0)
        fixed = resample_to_grid(
            select_series(ctx.collection, matchers),
            at_grid.to_df(ctx.spark),
            offset=off,
            grid=at_grid,
        )
        rep = (
            fixed.drop("ts")
            .crossJoin(F.broadcast(ctx.grid_df()))
            .select("name", "labels", F.col("gts").alias("ts"), "value")
        )
        return Processed(rep)
    if node.range_s is None and node.offset_s is None:
        ctx.resolve_aligned()
    if ctx.aligned is not None and node.range_s is None and node.offset_s is None:
        # serving fast path: the store is already aligned to this grid
        return Processed(select_series(ctx.aligned, matchers))
    df = select_series(ctx.collection, matchers)
    if node.range_s is not None:
        aligned_sel = None
        if (
            node.offset_s is None
            and ctx.aligned_ext_steps
            and node.range_s / ctx.grid.increment <= ctx.aligned_ext_steps
        ):
            # only ranges the backward pad can cover trigger the build
            ctx.resolve_aligned()
        if ctx.aligned_ext is not None and node.offset_s is None:
            aligned_sel = select_series(ctx.aligned_ext, matchers)
        return UnprocessedVector(df, node.range_s, node.offset_s, aligned_sel)
    return Unprocessed(df, node.offset_s)


def _absent_eq_labels(node: Node) -> dict[str, str]:
    """Result labels for absent()/absent_over_time() — Prometheus derives
    them from the selector's '=' matchers (absent(up{job="api"}) →
    {job="api"}); __name__ and regex/negative matchers contribute nothing,
    conflicting duplicates drop the label entirely."""
    eq_labels: dict[str, str] = {}
    if isinstance(node, SelectorNode):
        conflicts = set()
        for m in node.matchers:
            if m.op != "=" or m.label == "__name__":
                continue
            if m.label in eq_labels and eq_labels[m.label] != m.value:
                conflicts.add(m.label)
            eq_labels[m.label] = m.value
        for k in conflicts:
            eq_labels.pop(k, None)
    return eq_labels


_RATE_FUNCS = {"rate": rate_to_grid, "irate": irate_to_grid}


def _resolve_at_instant(at_s: float | str, ctx: _Ctx) -> float:
    """``@`` instant on the grid's internal axis. start()/end() resolve
    against the query grid; literal timestamps are user-clock values, and
    the grid's axis is already shifted by time_offset (shift-to-midnight),
    so the pin is shifted the same way start/end were at construction."""
    if at_s == "start":
        return ctx.grid.start
    if at_s == "end":
        return ctx.grid.end
    return float(at_s) - ctx.grid.time_offset


def _is_anchored_range(a: Node) -> bool:
    """An argument whose @ anchor the consuming function must honor: an
    @-anchored subquery, or an @-anchored range-vector selector (instant
    selectors handle their own @ in _eval_selector)."""
    if isinstance(a, SubqueryNode):
        return a.at_s is not None
    return isinstance(a, SelectorNode) and a.at_s is not None and a.range_s is not None


def _eval_func(node: FuncNode, ctx: _Ctx, state: State) -> State:
    # ``f(..., e[r:s] @ t, ...)`` / ``f(..., m[r] @ t, ...)``: an @-anchored
    # range argument fixes the window every step reads, so the consuming
    # function is CONSTANT across the grid. Evaluate the whole function ONCE
    # on a single-instant grid at t, then replicate the row per series
    # across the outer grid — the same broadcast-cross-join shape the
    # instant-selector @ uses, and the only shape that works with
    # window-probing consumers (a constant `offset` cannot express a
    # per-step anchor).
    anchored = next(
        ((i, a) for i, a in enumerate(node.args) if _is_anchored_range(a)),
        None,
    )
    if anchored is not None:
        idx, sq = anchored
        at = _resolve_at_instant(sq.at_s, ctx)
        # the single-instant grid KEEPS the outer step: a subquery with an
        # omitted step resolves its default from the evaluation grid's
        # increment, and inheriting a synthetic 1.0 s step would evaluate
        # the inner expression on a range_s-sized 1-second grid (wrong
        # values AND a blowup for m[1h:] @ t)
        at_grid = RegularTimeRange(at, at, ctx.grid.increment)
        sub_ctx = _Ctx(ctx.spark, ctx.collection, at_grid, exact_agg=ctx.exact_agg)
        plain = dc_replace(sq, at_s=None)
        args = tuple(plain if i == idx else a for i, a in enumerate(node.args))
        one = _eval(FuncNode(node.name, args, node.agg), sub_ctx, state)
        if not isinstance(one, Processed):
            raise QueryError("@ modifier on a subquery requires a vector result")
        rep = (
            one.df.drop("ts")
            .crossJoin(F.broadcast(ctx.grid_df()))
            .select("name", "labels", F.col("gts").alias("ts"), "value")
        )
        return Processed(rep)
    if node.name in _RATE_FUNCS:
        # src/query.rs:358-436
        if node.agg is not None:
            raise QueryError(f"'{node.name}' expects no aggregation, got {node.agg}")
        if len(node.args) != 1:
            raise QueryError(f"'{node.name}' expects a single argument, got {len(node.args)}")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError(f"'{node.name}' needs a range vector")
        if (
            node.name == "rate"
            and arg.aligned_df is not None
            and not arg.offset
            and _lag_fast_path_applicable(ctx.grid, float(arg.over_range), 0.0)
            and float(arg.over_range) / ctx.grid.increment <= ctx.aligned_ext_steps
        ):
            return Processed(
                rate_from_aligned(
                    arg.aligned_df, ctx.grid, float(arg.over_range)
                )
            )
        fn = _RATE_FUNCS[node.name]
        kwargs = {"grid": ctx.grid}
        df = fn(
            arg.df,
            ctx.grid_df(),
            over_range=float(arg.over_range),
            offset=float(arg.offset or 0),
            **kwargs,
        )
        return Processed(df)

    if node.name.endswith("_over_time") and node.name[: -len("_over_time")] in OVER_TIME_FNS:
        # beyond-reference: aggregate raw samples inside each grid window
        if node.agg is not None:
            raise QueryError(f"'{node.name}' expects no aggregation")
        if len(node.args) != 1:
            raise QueryError(f"'{node.name}' expects a single argument")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError(f"'{node.name}' needs a range vector")
        return Processed(
            over_time_to_grid(
                arg.df,
                ctx.grid,
                node.name[: -len("_over_time")],
                over_range=float(arg.over_range),
                offset=float(arg.offset or 0),
                # sum_over_time inherits the session's reproducibility
                # contract: "unit" rides integer micro-units (bit-stable
                # across engines), like the cross-series aggregates
                unit_scale=1e6 if ctx.exact_agg == "unit" else None,
            )
        )

    if node.name in ("deriv", "changes", "resets", "predict_linear"):
        # beyond-reference: regression / change-counting over window samples
        want = 2 if node.name == "predict_linear" else 1
        if len(node.args) != want:
            raise QueryError(f"'{node.name}' expects {want} argument(s)")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError(f"'{node.name}' needs a range vector")
        common = dict(
            over_range=float(arg.over_range), offset=float(arg.offset or 0)
        )
        if node.name == "deriv":
            return Processed(deriv_to_grid(arg.df, ctx.grid, **common))
        if node.name == "predict_linear":
            t = _eval(node.args[1], ctx, state)
            if not isinstance(t, ScalarResult):
                raise QueryError("Expected a scalar")
            return Processed(
                deriv_to_grid(arg.df, ctx.grid, predict_t=t.value, **common)
            )
        return Processed(
            changes_to_grid(
                arg.df, ctx.grid, resets=node.name == "resets", **common
            )
        )

    if node.name in ("increase", "delta"):
        # beyond-reference: interp(t) − interp(t−r) — the reference's rate
        # has no counter-reset logic, so increase ≡ delta ≡ rate·r
        if len(node.args) != 1:
            raise QueryError(f"'{node.name}' expects a single argument")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError(f"'{node.name}' needs a range vector")
        df = rate_to_grid(
            arg.df,
            ctx.grid_df(),
            over_range=float(arg.over_range),
            offset=float(arg.offset or 0),
            grid=ctx.grid,
        )
        return Processed(
            df.withColumn("value", F.col("value") * F.lit(float(arg.over_range)))
        )

    if node.name == "time":
        # per-step scalar: the grid instant itself (seconds since epoch)
        if node.args:
            raise QueryError("'time' takes no arguments")
        return GridScalar(
            ctx.grid_df().select(
                F.col("gts").alias("ts"), F.col("gts").alias("value")
            )
        )

    if node.name == "scalar":
        # exactly-one-series vector → per-step scalar; else NaN per step
        if len(node.args) != 1:
            raise QueryError("'scalar' expects a single argument")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if isinstance(arg, GridScalar):
            return arg
        if not isinstance(arg, Processed):
            raise QueryError("'scalar' needs a vector argument")
        per_ts = arg.df.groupBy("ts").agg(
            F.count("*").alias("_n"), F.first("value").alias("_v")
        )
        nan = F.lit(float("nan"))
        gs = (
            ctx.grid_df()
            .join(per_ts, F.col("gts") == F.col("ts"), "left")
            .select(
                F.col("gts").alias("ts"),
                F.when(F.col("_n") == 1, F.col("_v")).otherwise(nan).alias("value"),
            )
        )
        return GridScalar(gs)

    if node.name == "vector":
        # scalar → single all-labels-empty series over the grid
        if len(node.args) != 1:
            raise QueryError("'vector' expects a single argument")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        empty_labels = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
        no_name = F.lit(None).cast("string")
        if isinstance(arg, ScalarResult):
            df = ctx.grid_df().select(
                no_name.alias("name"), empty_labels.alias("labels"),
                F.col("gts").alias("ts"), F.lit(float(arg.value)).alias("value"),
            )
            return Processed(df)
        if isinstance(arg, GridScalar):
            return Processed(
                arg.df.select(
                    no_name.alias("name"), empty_labels.alias("labels"),
                    "ts", "value",
                )
            )
        if isinstance(arg, Processed):
            return arg
        raise QueryError("'vector' needs a scalar argument")

    if node.name in MATH_FNS:
        if len(node.args) != 1:
            raise QueryError(f"'{node.name}' expects a single argument")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if isinstance(arg, ScalarResult):
            import math as _math

            def _dom(f):  # IEEE domain errors → NaN (Go math semantics)
                def g(x):
                    try:
                        return f(x)
                    except ValueError:
                        return float("nan")
                return g

            fns = {
                "abs": abs, "ceil": _math.ceil, "floor": _math.floor,
                "exp": _math.exp, "sqrt": lambda x: _math.sqrt(x) if x >= 0 else float("nan"),
                "sgn": lambda x: float((x > 0) - (x < 0)),
                "ln": lambda x: _math.log(x) if x > 0 else (float("-inf") if x == 0 else float("nan")),
                "log2": lambda x: _math.log2(x) if x > 0 else (float("-inf") if x == 0 else float("nan")),
                "log10": lambda x: _math.log10(x) if x > 0 else (float("-inf") if x == 0 else float("nan")),
                "sin": _math.sin, "cos": _math.cos, "tan": _math.tan,
                "asin": _dom(_math.asin), "acos": _dom(_math.acos),
                "atan": _math.atan, "sinh": _math.sinh, "cosh": _math.cosh,
                "tanh": _math.tanh, "rad": _math.radians, "deg": _math.degrees,
                # inverse hyperbolics: IEEE edges (math.atanh raises on
                # |x|>=1, but atanh(±1) is ±Inf in Go/IEEE, NaN beyond)
                "asinh": _math.asinh, "acosh": _dom(_math.acosh),
                "atanh": lambda x: (
                    float("inf") if x == 1.0
                    else float("-inf") if x == -1.0
                    else _dom(_math.atanh)(x)
                ),
            }
            return ScalarResult(float(fns[node.name](arg.value)))
        if isinstance(arg, GridScalar):
            # per-step scalar (time()/scalar(v)): apply the same value
            # expression to the (ts, value) frame — floor(time()/3600) etc.
            return GridScalar(
                arg.df.select(
                    "ts", MATH_FNS[node.name](F.col("value")).alias("value")
                )
            )
        if not isinstance(arg, Processed):
            raise QueryError(
                f"'{node.name}' needs a scalar or instant-vector argument"
            )
        return Processed(apply_math_fn(arg.df, node.name))

    if node.name in ("round", "clamp", "clamp_min", "clamp_max"):
        if not node.args:
            raise QueryError(f"'{node.name}' needs arguments")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if not isinstance(arg, (Processed, GridScalar)):
            raise QueryError(
                f"'{node.name}' needs a scalar or instant-vector first argument"
            )
        extras = []
        for a in node.args[1:]:
            s = _eval(a, ctx, state)
            if not isinstance(s, ScalarResult):
                raise QueryError(f"'{node.name}' extra arguments must be scalars")
            extras.append(s.value)
        if node.name == "round":
            if len(extras) > 1:
                raise QueryError("'round' takes (v[, to_nearest])")
            to_nearest = extras[0] if extras else 1.0
            if isinstance(arg, GridScalar):
                return GridScalar(
                    arg.df.select(
                        "ts", round_expr(F.col("value"), to_nearest).alias("value")
                    )
                )
            return Processed(apply_round(arg.df, to_nearest))
        if node.name == "clamp":
            if len(extras) != 2:
                raise QueryError("'clamp' needs (v, min, max)")
            lo, hi = extras[0], extras[1]
        elif node.name == "clamp_min":
            if len(extras) != 1:
                raise QueryError(f"'{node.name}' needs (v, bound)")
            lo, hi = extras[0], None
        else:
            if len(extras) != 1:
                raise QueryError(f"'{node.name}' needs (v, bound)")
            lo, hi = None, extras[0]
        if isinstance(arg, GridScalar):
            expr = clamp_expr(F.col("value"), lo, hi)
            if expr is None:  # min > max → empty
                return GridScalar(arg.df.filter(F.lit(False)))
            return GridScalar(arg.df.select("ts", expr.alias("value")))
        return Processed(apply_clamp(arg.df, lo=lo, hi=hi))

    if node.name in ("label_replace", "label_join"):
        # beyond-reference label manipulation; string args via StringNode
        if len(node.args) < (5 if node.name == "label_replace" else 3):
            raise QueryError(f"'{node.name}' is missing arguments")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError(f"'{node.name}' needs a vector first argument")
        strs = []
        for a in node.args[1:]:
            s = _eval(a, ctx, state)
            if not isinstance(s, StringResult):
                raise QueryError(f"'{node.name}' arguments must be strings")
            strs.append(s.value)
        if node.name == "label_replace":
            if len(strs) != 4:
                raise QueryError("'label_replace' needs (v, dst, repl, src, regex)")
            return Processed(label_replace(arg.df, *strs))
        return Processed(label_join(arg.df, strs[0], strs[1], strs[2:]))

    if node.name == "absent":
        if len(node.args) != 1:
            raise QueryError("'absent' expects a single argument")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError("'absent' needs a vector argument")
        return Processed(
            absent_over_grid(arg.df, ctx.grid_df(), _absent_eq_labels(node.args[0]))
        )

    if node.name == "timestamp":
        if len(node.args) != 1:
            raise QueryError("'timestamp' expects a single argument")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError("'timestamp' needs a vector argument")
        return Processed(timestamp_of(arg.df))

    if node.name == "histogram_quantile":
        # src/query.rs:259-356
        if len(node.args) != 2:
            raise QueryError(
                f"'histogram_quantile' needs exactly 2 arguments, got {len(node.args)}"
            )
        if node.agg is not None:
            raise QueryError("'histogram_quantile' expects no aggregation")
        phi = _eval(node.args[0], ctx, state)
        if not isinstance(phi, ScalarResult):
            raise QueryError("Expected a scalar")
        series = _resampled(_eval(node.args[1], ctx, state), ctx)
        if not isinstance(series, Processed):
            raise QueryError("resampling failed")
        return Processed(histogram_quantile(series.df, phi.value))

    if node.name in ("topk", "bottomk"):
        # beyond the reference surface: rank series per instant
        if len(node.args) != 2:
            raise QueryError(f"'{node.name}' needs exactly 2 arguments")
        if node.agg is not None:
            raise QueryError(f"'{node.name}' expects no aggregation")
        kval = _eval(node.args[0], ctx, state)
        if not isinstance(kval, ScalarResult):
            raise QueryError("Expected a scalar")
        arg = _resampled(_eval(node.args[1], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError("resampling failed")
        return Processed(
            topk_over_series(arg.df, int(kval.value), largest=node.name == "topk")
        )

    if node.name == "quantile":
        # beyond-reference: φ-quantile across series, with by/without
        if len(node.args) != 2:
            raise QueryError("'quantile' needs exactly 2 arguments")
        phi = _eval(node.args[0], ctx, state)
        if not isinstance(phi, ScalarResult):
            raise QueryError("Expected a scalar")
        arg = _resampled(_eval(node.args[1], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError("resampling failed")
        by = list(node.agg.labels) if node.agg and node.agg.action == "by" else None
        without = (
            list(node.agg.labels) if node.agg and node.agg.action == "without" else None
        )
        return Processed(quantile_over_series(arg.df, phi.value, by=by, without=without))

    if node.name in ("idelta", "mad_over_time"):
        if len(node.args) != 1:
            raise QueryError(f"'{node.name}' expects a single argument")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError(f"'{node.name}' needs a range vector")
        fn = idelta_to_grid if node.name == "idelta" else mad_over_time_to_grid
        return Processed(
            fn(
                arg.df,
                ctx.grid,
                over_range=float(arg.over_range),
                offset=float(arg.offset or 0),
            )
        )

    if node.name == "quantile_over_time":
        # beyond-reference: φ-quantile of the raw samples in each window
        if len(node.args) != 2:
            raise QueryError("'quantile_over_time' needs exactly 2 arguments")
        phi = _eval(node.args[0], ctx, state)
        if not isinstance(phi, ScalarResult):
            raise QueryError("Expected a scalar")
        arg = _eval(node.args[1], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError("'quantile_over_time' needs a range vector")
        if not (0.0 <= phi.value <= 1.0):
            # Prometheus: φ > 1 → +Inf, φ < 0 → −Inf for every window
            # (rather than Spark's percentage-out-of-range analysis error)
            bound = float("inf") if phi.value > 1 else float("-inf")
            present = over_time_to_grid(
                arg.df,
                ctx.grid,
                "present",
                over_range=float(arg.over_range),
                offset=float(arg.offset or 0),
            )
            return Processed(
                present.select(
                    "name", "labels", "ts", F.lit(bound).alias("value")
                )
            )
        return Processed(
            over_time_to_grid(
                arg.df,
                ctx.grid,
                "quantile",
                over_range=float(arg.over_range),
                offset=float(arg.offset or 0),
                phi=phi.value,
            )
        )

    if node.name in ("holt_winters", "double_exponential_smoothing"):
        if len(node.args) != 3:
            raise QueryError(f"'{node.name}' needs (v[r], sf, tf)")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError(f"'{node.name}' needs a range vector")
        params = []
        for a in node.args[1:]:
            s = _eval(a, ctx, state)
            if not isinstance(s, ScalarResult):
                raise QueryError("Expected a scalar")
            params.append(s.value)
        sf, tf = params
        if not (0 < sf < 1) or not (0 < tf < 1):
            raise QueryError("smoothing factors must be in (0, 1)")
        return Processed(
            holt_winters_to_grid(
                arg.df,
                ctx.grid,
                over_range=float(arg.over_range),
                sf=sf,
                tf=tf,
                offset=float(arg.offset or 0),
            )
        )

    if node.name == "count_values":
        # count_values("dst", v): counts per distinct sample value; the
        # formatted value becomes label `dst` on the output groups
        if len(node.args) != 2:
            raise QueryError("'count_values' needs exactly 2 arguments")
        dst = _eval(node.args[0], ctx, state)
        if not isinstance(dst, StringResult):
            raise QueryError("'count_values' first argument must be a string")
        arg = _resampled(_eval(node.args[1], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError("'count_values' needs a vector argument")
        by = list(node.agg.labels) if node.agg and node.agg.action == "by" else None
        without = (
            list(node.agg.labels) if node.agg and node.agg.action == "without" else None
        )
        return Processed(
            count_values_over_series(arg.df, dst.value, by=by, without=without)
        )

    if node.name in DATE_FNS:
        # date parts of epoch-second VALUES, default vector(time()) —
        # hour(), day_of_week(timestamp(v)), ... (UTC, like Prometheus)
        if len(node.args) > 1:
            raise QueryError(f"'{node.name}' takes at most one argument")
        if not node.args:
            empty_labels = F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            )
            df = ctx.grid_df().select(
                F.lit(None).cast("string").alias("name"),
                empty_labels.alias("labels"),
                F.col("gts").alias("ts"),
                DATE_FNS[node.name](F.col("gts")).alias("value"),
            )
            return Processed(df)
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if isinstance(arg, GridScalar):
            return GridScalar(
                arg.df.select(
                    "ts", DATE_FNS[node.name](F.col("value")).alias("value")
                )
            )
        if not isinstance(arg, Processed):
            raise QueryError(f"'{node.name}' needs a scalar or vector argument")
        return Processed(
            arg.df.select(
                F.lit(None).cast("string").alias("name"),
                "labels",
                "ts",
                DATE_FNS[node.name](F.col("value")).alias("value"),
            )
        )

    if node.name == "pi":
        if node.args:
            raise QueryError("'pi' takes no arguments")
        import math as _math

        return ScalarResult(_math.pi)

    if node.name == "absent_over_time":
        # 1 at grid instants whose window [t−r, t] holds no raw sample for
        # ANY matched series; labels from the selector's '=' matchers —
        # the windowed sibling of absent() (same anti-join shape)
        if len(node.args) != 1:
            raise QueryError("'absent_over_time' expects a single argument")
        arg = _eval(node.args[0], ctx, state)
        if not isinstance(arg, UnprocessedVector):
            raise QueryError("'absent_over_time' needs a range vector")
        present = over_time_to_grid(
            arg.df,
            ctx.grid,
            "present",
            over_range=float(arg.over_range),
            offset=float(arg.offset or 0),
        )
        return Processed(
            absent_over_grid(
                present.select("ts"), ctx.grid_df(), _absent_eq_labels(node.args[0])
            )
        )

    if node.name in ("sort", "sort_desc"):
        # presentation-only: Prometheus ignores sort in range queries and
        # orders instant results at serialization; the engine's envelope
        # already orders deterministically, so this is the identity on the
        # series set (documented in COVERAGE.md)
        if len(node.args) != 1:
            raise QueryError(f"'{node.name}' expects a single argument")
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError(f"'{node.name}' needs a vector argument")
        return arg

    if node.name in AGG_FNS:
        # src/query.rs:498-546; the reference implements only `sum by` (A1)
        # — 'without', bare, and avg/min/max/count error there but follow
        # the identical align-then-aggregate shape (SURVEY §2.5 A2/A3)
        if len(node.args) != 1:
            raise QueryError(
                f"'{node.name}' expects a single argument, got {len(node.args)}"
            )
        arg = _resampled(_eval(node.args[0], ctx, state), ctx)
        if not isinstance(arg, Processed):
            raise QueryError("resampling failed")
        fns = (node.name,)
        if node.agg is None:
            return Processed(aggregate_over_series(arg.df, fns, exact=ctx.exact_agg))
        if node.agg.action == "by":
            return Processed(
                aggregate_over_series(
                    arg.df, fns, by=list(node.agg.labels), exact=ctx.exact_agg
                )
            )
        return Processed(
            aggregate_over_series(
                arg.df, fns, without=list(node.agg.labels), exact=ctx.exact_agg
            )
        )

    raise QueryError(f"Unknown function: {node.name}")


def _eval_binary(node: BinaryNode, ctx: _Ctx, state: State) -> State:
    """Binary expressions (beyond-reference; the reference's interpreter
    rejects Node::Operator, src/query.rs:550-552). Both operands are
    grid-aligned before combining, so the join key is (labels, grid ts)."""
    lhs = _resampled(_eval(node.lhs, ctx, state), ctx)
    rhs = _resampled(_eval(node.rhs, ctx, state), ctx)

    if isinstance(lhs, ScalarResult) and isinstance(rhs, ScalarResult):
        if node.matching is not None:
            raise QueryError("vector matching is not valid between scalars")
        if node.op in ("==", "!=", ">", "<", ">=", "<=") and not node.bool_mode:
            raise QueryError("comparisons between scalars must use BOOL modifier")
        return ScalarResult(
            scalar_scalar_op(node.op, lhs.value, rhs.value, node.bool_mode)
        )

    if node.op in SET_OPS:
        if not (isinstance(lhs, Processed) and isinstance(rhs, Processed)):
            raise QueryError(f"set operator {node.op!r} requires vector operands")
    elif isinstance(lhs, GridScalar) or isinstance(rhs, GridScalar):
        if node.matching is not None:
            raise QueryError("vector matching is not valid with a scalar operand")
        # scalar ⊕ scalar comparisons (time() > 100, scalar(a) > scalar(b))
        # require the bool modifier, same as literal⊕literal above
        if (
            node.op in COMP_OPS
            and not node.bool_mode
            and isinstance(lhs, (GridScalar, ScalarResult))
            and isinstance(rhs, (GridScalar, ScalarResult))
        ):
            raise QueryError("comparisons between scalars must use BOOL modifier")
        if isinstance(lhs, GridScalar) and isinstance(rhs, GridScalar):
            return GridScalar(gridscalar_gridscalar_op(lhs.df, rhs.df, node.op))
        if isinstance(lhs, GridScalar) and isinstance(rhs, ScalarResult):
            return GridScalar(gridscalar_const_op(lhs.df, node.op, rhs.value))
        if isinstance(rhs, GridScalar) and isinstance(lhs, ScalarResult):
            return GridScalar(
                gridscalar_const_op(rhs.df, node.op, lhs.value, scalar_on_left=True)
            )
        if isinstance(lhs, GridScalar):  # vector on the right
            return Processed(
                vector_gridscalar_op(
                    rhs.df, lhs.df, node.op, scalar_on_left=True,
                    bool_mode=node.bool_mode,
                )
            )
        return Processed(
            vector_gridscalar_op(
                lhs.df, rhs.df, node.op, scalar_on_left=False,
                bool_mode=node.bool_mode,
            )
        )
    elif isinstance(lhs, ScalarResult) or isinstance(rhs, ScalarResult):
        scalar_on_left = isinstance(lhs, ScalarResult)
        scalar = lhs.value if scalar_on_left else rhs.value
        vec = rhs if scalar_on_left else lhs
        if node.matching is not None:
            raise QueryError("vector matching is not valid with a scalar operand")
        return Processed(
            vector_scalar_op(vec.df, node.op, scalar, scalar_on_left, node.bool_mode)
        )

    m = node.matching
    return Processed(
        vector_vector_op(
            lhs.df,
            rhs.df,
            node.op,
            on=list(m.on) if m and m.on is not None else None,
            ignoring=list(m.ignoring) if m else None,
            group=m.group if m else None,
            include=list(m.include) if m else None,
            bool_mode=node.bool_mode,
        )
    )


def _eval_unary(node: UnaryNode, ctx: _Ctx, state: State) -> State:
    """Unary minus (Node::Negation errors in the reference,
    src/query.rs:577-579): negate every sample; metric name dropped."""
    operand = _resampled(_eval(node.operand, ctx, state), ctx)
    if isinstance(operand, ScalarResult):
        return ScalarResult(-operand.value)
    if isinstance(operand, GridScalar):
        return GridScalar(gridscalar_const_op(operand.df, "*", -1.0))
    return Processed(vector_scalar_op(operand.df, "*", -1.0, scalar_on_left=True))


def _eval_subquery(node: SubqueryNode, ctx: _Ctx, state: State) -> State:
    """``expr[range:step]`` (beyond-reference): evaluate the inner expression
    on a finer grid covering [outer_start − range, outer_end], then expose
    the aligned rows as a range vector — the outer rate/irate/*_over_time
    consume them exactly like raw samples (grid instants are strictly
    increasing per series, the VecTimeRange invariant)."""
    if node.at_s is not None:
        # @-anchored subqueries are intercepted by their consuming function
        # (_eval_func) and evaluated on a single-instant grid; reaching here
        # means the consumer cannot honor the anchor — error, never ignore
        raise QueryError(
            "@ modifier on a subquery is only supported as a function argument"
        )
    step = float(node.step_s) if node.step_s else ctx.grid.increment
    rng = float(node.range_s)
    # consumers probe at [gts − offset − r, gts − offset], so the inner grid
    # must reach offset seconds further back (and the trailing offset of the
    # outer end is harmless to keep)
    off = float(node.offset_s or 0)
    inner_grid = RegularTimeRange(ctx.grid.start - rng - off, ctx.grid.end, step)
    inner_ctx = _Ctx(ctx.spark, ctx.collection, inner_grid, exact_agg=ctx.exact_agg)
    inner = _resampled(_eval(node.expr, inner_ctx, state), inner_ctx)
    if not isinstance(inner, Processed):
        raise QueryError("subquery inner expression must produce a vector")
    return UnprocessedVector(inner.df, node.range_s, node.offset_s)


def _eval(node: Node, ctx: _Ctx, state: State) -> State:
    if isinstance(node, ScalarNode):
        return ScalarResult(node.value)
    if isinstance(node, StringNode):
        return StringResult(node.value)
    if isinstance(node, SubqueryNode):
        return _eval_subquery(node, ctx, state)
    if isinstance(node, SelectorNode):
        return _eval_selector(node, ctx, state)
    if isinstance(node, FuncNode):
        return _eval_func(node, ctx, state)
    if isinstance(node, BinaryNode):
        return _eval_binary(node, ctx, state)
    if isinstance(node, UnaryNode):
        return _eval_unary(node, ctx, state)
    raise QueryError(f"unsupported node {node!r}")


class _Collection:
    """Seed state marker (OriginalCollection)."""


AlignedStore = tuple[DataFrame, DataFrame | None, int]


class PlanMemo:
    """Plans compiled on one anchor grid, reused on its prefix grids.

    Range evaluation is per instant: the value at ``t`` depends on ``t``,
    the start and the step (its window, its offset, the samples around
    ``t``, a subquery's inner grid), never on the grid's end. A prefix grid
    (``RegularTimeRange.is_prefix_of``) enumerates the anchor's first
    instants as the identical floats, so the anchor's plan filtered to
    ``ts <=`` the prefix's last instant yields the prefix grid's rows and
    values bit for bit. Queries that read the grid's end (``@ end()``)
    never come here (see :func:`run_query`).

    ``grid`` is the anchor grid and ``aligned`` its aligned store,
    ``(exact, backward-extended | None, pad steps)``. At most ``capacity``
    plans are kept, least recently used evicted."""

    def __init__(self, grid: RegularTimeRange, aligned: AlignedStore, capacity: int):
        self.grid = grid
        self.aligned = aligned
        self._capacity = capacity
        self._plans: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._lock = threading.Lock()

    def plan(
        self, key: tuple, grid: RegularTimeRange, compile_anchor: Callable[[], DataFrame]
    ) -> DataFrame:
        """``key``'s plan on ``grid``, a prefix of the anchor grid: the
        memoized anchor plan (compiled by ``compile_anchor`` on a miss)
        with one ``ts`` filter."""
        with self._lock:
            df = self._plans.get(key)
            if df is not None:
                self._plans.move_to_end(key)
        if df is None:
            df = compile_anchor()
            with self._lock:
                self._plans[key] = df
                while len(self._plans) > self._capacity:
                    self._plans.popitem(last=False)
        if len(grid) < len(self.grid):
            df = df.filter(F.col("ts") <= F.lit(grid.instants()[-1]))
        return df

    def serves_filtered(self, query: str, grid: RegularTimeRange) -> bool:
        """Whether ``run_query(..., grid, plan_memo=self)`` answers ``query``
        with the anchor plan under a ``ts`` filter — the only case whose
        execution also evaluates instants past ``grid``'s end."""
        return len(grid) < len(self.grid) and not _reads_grid_end(parse_promql(query))


def _reads_grid_end(node: Node) -> bool:
    """Whether the plan depends on the grid's end beyond per-instant
    evaluation: an ``@ end()`` anchor anywhere in the tree."""
    if getattr(node, "at_s", None) == "end":
        return True
    if isinstance(node, FuncNode):
        kids = node.args
    elif isinstance(node, BinaryNode):
        kids = (node.lhs, node.rhs)
    elif isinstance(node, UnaryNode):
        kids = (node.operand,)
    elif isinstance(node, SubqueryNode):
        kids = (node.expr,)
    else:
        kids = ()
    return any(_reads_grid_end(k) for k in kids)


def run_query(
    spark: SparkSession,
    collection: DataFrame,
    query: str,
    grid: RegularTimeRange,
    aligned: DataFrame | None = None,
    aligned_ext: DataFrame | None = None,
    aligned_ext_steps: int = 0,
    aligned_provider: Callable[[], AlignedStore] | None = None,
    exact_agg: bool | str = False,
    plan_memo: PlanMemo | None = None,
) -> DataFrame:
    """``run_query`` (src/query.rs:583-596): parse → interpret → resample.

    Returns the grid-aligned long frame (name, labels, ts, value); raises
    QueryError/PromQLError like the reference's 400s (src/main.rs:386-393).
    ``aligned``: optional pre-aligned (cached) store for this exact grid —
    instant selectors then skip interpolation; ``aligned_ext`` extends it
    ``aligned_ext_steps`` steps backwards for the rate lag fast path (see
    _Ctx). ``aligned_provider`` supplies all three lazily — the build cost
    is paid only by queries whose plan actually reads the aligned store
    (pass ``aligned_ext_steps`` as the expected pad so range eligibility
    can be decided without building).
    ``exact_agg``: order-insensitive accumulation for sum/avg
    aggregations — True = decimal (aggregate.exact_sum), "unit" = integer
    micro-units (aggregate.unit_sum; bit-stable across engines).
    ``plan_memo``: plans compiled on an anchor grid ``grid`` is a prefix
    of (see :class:`PlanMemo`); the query is compiled on the anchor, with
    the memo's aligned store, once per memo. ``@ end()`` queries ignore
    it and compile on ``grid`` with the arguments above.
    """
    ast = parse_promql(query)
    if plan_memo is not None and not _reads_grid_end(ast):
        return plan_memo.plan(
            (query, exact_agg),
            grid,
            lambda: _compile(
                ast,
                _Ctx(
                    spark, collection, plan_memo.grid,
                    aligned_ext_steps=plan_memo.aligned[2],
                    aligned_provider=lambda: plan_memo.aligned,
                    exact_agg=exact_agg,
                ),
            ),
        )
    ctx = _Ctx(
        spark, collection, grid, aligned, aligned_ext, aligned_ext_steps,
        aligned_provider, exact_agg=exact_agg,
    )
    return _compile(ast, ctx)


def _compile(ast: Node, ctx: _Ctx) -> DataFrame:
    """The range query's result frame for ``ast`` on ``ctx.grid``."""
    result = _eval(ast, ctx, _Collection())
    result = _resampled(result, ctx)
    if isinstance(result, GridScalar):
        # per-step scalar under a range query → one all-labels-empty series
        # (Prometheus's query_range does the same conversion)
        empty_labels = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        )
        return result.df.select(
            F.lit(None).cast("string").alias("name"),
            empty_labels.alias("labels"),
            "ts",
            "value",
        )
    if isinstance(result, (ScalarResult, StringResult)):
        raise QueryError("scalar result is not a matrix")
    if not isinstance(result, Processed):
        raise QueryError("query did not produce a processed series")
    return result.df


def run_instant_query(
    spark: SparkSession,
    collection: DataFrame,
    query: str,
    at: float,
    time_offset: float = 0.0,
) -> tuple[str, float | DataFrame]:
    """Instant query (``/api/v1/query``): evaluate on a single-point grid.

    The reference's endpoint is a dummy that only accepts ``1+1``
    (src/main.rs:406-413); with real scalar arithmetic and a degenerate
    one-point ``RegularTimeRange`` (start == end → len formula yields 1,
    src/timevectors.rs:181-182) the full engine serves it. Returns
    ``("scalar", float)`` or ``("vector", DataFrame)`` with one row per
    series.
    """
    ast = parse_promql(query)
    grid = RegularTimeRange(at, at, 1.0, time_offset=time_offset)
    ctx = _Ctx(spark, collection, grid)
    result = _resampled(_eval(ast, ctx, _Collection()), ctx)
    if isinstance(result, ScalarResult):
        return "scalar", result.value
    if isinstance(result, GridScalar):
        rows = result.df.collect()  # single-point grid → one row
        return "scalar", rows[0]["value"] if rows else float("nan")
    if isinstance(result, StringResult):
        return "string", result.value
    if isinstance(result, Processed):
        return "vector", result.df
    raise QueryError("query did not produce a result")
