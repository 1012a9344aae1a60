"""PromQL binary operators over grid-aligned vectors (beyond-reference).

The reference parses binary expressions (promql crate grammar) but its
interpreter rejects them: ``Node::Operator`` → "Not implemented yet"
(/root/reference/src/query.rs:550-552; readme.md:105 "arithmetic
unimplemented"). Like ``sum without`` / bare ``sum`` (SURVEY §2.5 A2/A3) we
implement the full surface anyway, with real-Prometheus semantics adapted to
this engine's data model:

- operands are **grid-aligned** frames (name, labels, ts, value) — every
  series has a row at every grid instant (NaN where the reference would show
  an interpolation miss), so set-op "existence" means row presence;
- arithmetic: ``+ - * / % ^`` — IEEE-754 throughout (x/0 → ±inf, 0/0 → NaN,
  ``%`` = Rust/Go fmod with the dividend's sign, ``^`` = powf);
- comparisons: ``== != > < >= <=`` — filter semantics by default (keep the
  left sample where the comparison holds), ``bool`` mode yields 1.0/0.0.
  IEEE NaN rules (any comparison with NaN is false, except ``!=`` which is
  true) are enforced explicitly because Spark orders NaN greatest and equal
  to itself;
- vector matching: ``on(...)`` / ``ignoring(...)`` with one-to-one default
  and ``group_left(...)`` / ``group_right(...)`` many-to-one;
- set ops: ``and`` (semi join), ``unless`` (anti join), ``or`` (left union
  unmatched right).

Scale shape: one equi-join on (match-key, ts) per operator. The match key is
a plain string so the shuffle carries no MAP columns (see model.py
series_key_str rationale); both sides are grid-aligned outputs of the same
plan family, so AQE can pick broadcast for small selector results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.labels import NAME_LABEL
from prometheus_parquet_server_spark.model import canonical_labels_json, label_subset_sql

ARITH_OPS = ("+", "-", "*", "/", "%", "^")
COMP_OPS = ("==", "!=", ">", "<", ">=", "<=")
SET_OPS = ("and", "or", "unless")


def _inf() -> Column:
    return F.lit(float("inf"))


def _nan() -> Column:
    return F.lit(float("nan"))


def _ieee_div(num: Column, den: Column) -> Column:
    """x/0 → ±inf, 0/0 → NaN (Spark's non-ANSI double division NULLs out)."""
    return (
        F.when(den != 0, num / den)
        .when(F.isnan(num) | (num == 0), _nan())
        .when(num > 0, _inf())
        .otherwise(-_inf())
    )


def _ieee_mod(num: Column, den: Column) -> Column:
    """fmod semantics (sign of the dividend), NaN for den == 0 like Rust
    ``%`` / Go ``math.Mod``. Spark's ``%`` already truncates toward zero for
    doubles but NULLs on zero divisors."""
    return F.when(den != 0, num % den).otherwise(_nan())


def arith_expr(op: str, left: Column, right: Column) -> Column:
    if op == "+":
        return left + right
    if op == "-":
        return left - right
    if op == "*":
        return left * right
    if op == "/":
        return _ieee_div(left, right)
    if op == "%":
        return _ieee_mod(left, right)
    if op == "^":
        return F.pow(left, right)
    raise ValueError(f"unknown arithmetic operator {op!r}")


def comp_expr(op: str, left: Column, right: Column) -> Column:
    """Boolean column with IEEE NaN rules (Spark's NaN ordering differs:
    there NaN == NaN and NaN > everything — neither holds in PromQL)."""
    has_nan = F.isnan(left) | F.isnan(right)
    if op == "!=":
        return has_nan | (left != right)
    raw = {
        "==": left == right,
        ">": left > right,
        "<": left < right,
        ">=": left >= right,
        "<=": left <= right,
    }[op]
    return ~has_nan & raw


def scalar_scalar_op(op: str, left: float, right: float, bool_mode: bool) -> float:
    """Driver-side fold for literal⊕literal (covers the reference's dummy
    instant endpoint: ``1+1`` → 2, src/main.rs:406-413)."""
    import math

    if op in COMP_OPS:
        res = {
            "==": left == right,
            "!=": left != right,
            ">": left > right,
            "<": left < right,
            ">=": left >= right,
            "<=": left <= right,
        }[op]
        return 1.0 if res else 0.0
    if op == "+":
        return left + right
    if op == "-":
        return left - right
    if op == "*":
        return left * right
    if op == "/":
        if right == 0:
            if math.isnan(left) or left == 0:
                return float("nan")
            return math.copysign(float("inf"), left)
        return left / right
    if op == "%":
        return math.fmod(left, right) if right != 0 else float("nan")
    if op == "^":
        return math.pow(left, right)
    raise ValueError(f"unknown operator {op!r}")


def vector_scalar_op(
    df: DataFrame, op: str, scalar: float, scalar_on_left: bool = False,
    bool_mode: bool = False,
) -> DataFrame:
    """vector ⊕ scalar (or scalar ⊕ vector): elementwise over every sample.

    Arithmetic and ``bool`` comparisons drop the metric name (PromQL: the
    result is no longer that metric); filter comparisons keep samples
    unchanged.
    """
    lit = F.lit(float(scalar))
    left, right = (lit, F.col("value")) if scalar_on_left else (F.col("value"), lit)
    no_name = F.lit(None).cast("string")
    if op in COMP_OPS:
        cond = comp_expr(op, left, right)
        if bool_mode:
            out_val = F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
            return df.select(
                no_name.alias("name"), "labels", "ts", out_val.alias("value")
            )
        return df.filter(cond)
    return df.select(
        no_name.alias("name"), "labels", "ts",
        arith_expr(op, left, right).alias("value"),
    )


def vector_gridscalar_op(
    vec: DataFrame, gs: DataFrame, op: str, scalar_on_left: bool = False,
    bool_mode: bool = False,
) -> DataFrame:
    """vector ⊕ per-step scalar (``time()`` / ``scalar(v)``): the scalar
    side joins on ts alone (broadcast — it is grid-length) and applies
    elementwise like a literal scalar."""
    j = vec.join(F.broadcast(gs.select("ts", F.col("value").alias("_gs"))), "ts")
    other = F.col("_gs")
    left, right = (other, F.col("value")) if scalar_on_left else (F.col("value"), other)
    no_name = F.lit(None).cast("string")
    if op in COMP_OPS:
        cond = comp_expr(op, left, right)
        if bool_mode:
            val = F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
            return j.select(no_name.alias("name"), "labels", "ts", val.alias("value"))
        return j.filter(cond).select("name", "labels", "ts", "value")
    return j.select(
        no_name.alias("name"), "labels", "ts",
        arith_expr(op, left, right).alias("value"),
    )


def gridscalar_gridscalar_op(lhs: DataFrame, rhs: DataFrame, op: str) -> DataFrame:
    """per-step scalar ⊕ per-step scalar → per-step scalar (comparisons
    yield 1.0/0.0, like scalar-scalar in PromQL)."""
    j = lhs.select("ts", F.col("value").alias("_l")).join(
        rhs.select("ts", F.col("value").alias("_r")), "ts"
    )
    l, r = F.col("_l"), F.col("_r")
    if op in COMP_OPS:
        val = F.when(comp_expr(op, l, r), F.lit(1.0)).otherwise(F.lit(0.0))
    else:
        val = arith_expr(op, l, r)
    return j.select("ts", val.alias("value"))


def gridscalar_const_op(
    gs: DataFrame, op: str, scalar: float, scalar_on_left: bool = False
) -> DataFrame:
    lit = F.lit(float(scalar))
    left, right = (lit, F.col("value")) if scalar_on_left else (F.col("value"), lit)
    if op in COMP_OPS:
        val = F.when(comp_expr(op, left, right), F.lit(1.0)).otherwise(F.lit(0.0))
    else:
        val = arith_expr(op, left, right)
    return gs.select("ts", val.alias("value"))


def _subset(labels: str, on: list[str] | None, ignoring: list[str] | None) -> str:
    """SQL: ``labels`` restricted to the matching labels (on) or minus the
    ignored ones. ``__name__`` never participates in matching (Prometheus
    drops it before matching)."""
    if on is not None:
        return label_subset_sql(labels, keep=[k for k in on if k != NAME_LABEL])
    return label_subset_sql(labels, drop=[k for k in ignoring or () if k != NAME_LABEL])


def _match_key(on: list[str] | None, ignoring: list[str] | None) -> Column:
    """Canonical string key of the matching label subset."""
    return canonical_labels_json(_subset("labels", on, ignoring))


def _result_labels(labels: str, on: list[str] | None, ignoring: list[str] | None) -> Column:
    """One-to-one result label set: the side's labels restricted to the
    matching labels (on) or minus the ignored ones."""
    return F.expr(_subset(labels, on, ignoring))


#: Prometheus error parity (promql/engine.go matching errors). One-to-one
#: cannot attribute the side from a joined-group count, so the text stays
#: side-neutral; the group_left/group_right message mirrors Prometheus's
#: "multiple matches for labels" wording.
DUPLICATE_ONE_TO_ONE_MSG = (
    "found duplicate series for the match group in a one-to-one matching:"
    " many-to-one matching must be explicit (group_left/group_right)"
)
DUPLICATE_GROUP_MSG = (
    "found duplicate series for the match group: multiple matches for labels —"
    " grouping labels must ensure unique matches on the \"one\" side"
)


def _guarded(value: Column, n_matches: Column, msg: str) -> Column:
    """Fold a duplicate-match-group assertion into the value expression so
    Catalyst cannot prune it: assert_true yields NULL when the group is
    unique (coalesce falls through to the real value) and raises at
    execution when a duplicate match group is hit."""
    return F.coalesce(
        F.assert_true(n_matches <= 1, F.lit(msg)).cast("double"), value
    )


def vector_vector_op(
    lhs: DataFrame,
    rhs: DataFrame,
    op: str,
    on: list[str] | None = None,
    ignoring: list[str] | None = None,
    group: str | None = None,  # None | 'left' | 'right'
    include: list[str] | None = None,  # group_left(...extra rhs labels...)
    bool_mode: bool = False,
    check_matching: bool = True,
) -> DataFrame:
    """vector ⊕ vector with label matching.

    One-to-one (``group=None``): inner join on (match key, ts); output labels
    are the lhs labels restricted by the matching clause; name dropped for
    arithmetic / bool, kept from the retained side for filter comparisons.

    Duplicate match groups raise like Prometheus ("found duplicate series
    for the match group…") instead of silently cross-producting. The check
    is folded into the plan, not a separate job: a count window partitioned
    by (match key, ts) — the exact partitioning the sort-merge join already
    produces, so under the hinted merge plan it adds no exchange; the guard
    lives inside the value expression (assert_true ∘ coalesce) so column
    pruning can't drop it, and it raises only when a group with >1 match is
    actually evaluated. ``check_matching=False`` opts out (e.g. operands
    already known unique by construction).

    group_left / group_right: the "many" side keeps its full label set (plus
    ``include`` labels copied from the "one" side); each many-row joins its
    single one-row per (key, ts).

    Set ops (`and`/`or`/`unless`) ignore group/bool and preserve the lhs rows
    (plus, for ``or``, the unmatched rhs rows).
    """
    key_l = _match_key(on, ignoring)
    key_r = _match_key(on, ignoring)
    left = lhs.select(
        key_l.alias("_mk"), "ts", F.col("name").alias("_ln"),
        F.col("labels").alias("_ll"), F.col("value").alias("_lv"),
    )
    right = rhs.select(
        key_r.alias("_mk"), "ts", F.col("name").alias("_rn"),
        F.col("labels").alias("_rl"), F.col("value").alias("_rv"),
    )

    # Both operands are grid-aligned outputs of explode-based plans, whose
    # static size Catalyst underestimates (Generate output is costed at the
    # child's size) — left alone it BROADCASTS a grid-sized side (measured
    # 22 s vs 6 s at 12.4 M rows/side). Plan sort-merge; AQE still demotes
    # to broadcast at runtime when a side is genuinely small.
    left = left.hint("merge")

    if op in SET_OPS:
        if op == "and":
            kept = left.join(right.select("_mk", "ts").distinct(), ["_mk", "ts"], "semi")
        elif op == "unless":
            kept = left.join(right.select("_mk", "ts").distinct(), ["_mk", "ts"], "anti")
        else:  # or: all of lhs plus rhs rows with no lhs match at that instant
            extra = right.hint("merge").join(
                left.select("_mk", "ts").distinct(), ["_mk", "ts"], "anti"
            ).select(
                "_mk", "ts", F.col("_rn").alias("_ln"),
                F.col("_rl").alias("_ll"), F.col("_rv").alias("_lv"),
            )
            kept = left.unionByName(extra)
        return kept.select(
            F.col("_ln").alias("name"), F.col("_ll").alias("labels"),
            "ts", F.col("_lv").alias("value"),
        )

    if check_matching and op not in SET_OPS and group in ("left", "right"):
        # the "one" side must be unique per (match key, instant); the window
        # keys on the join keys, so its exchange is the join's exchange. The
        # guard folds into the one-side value column. Deliberate relaxation
        # vs Prometheus: promql errors on duplicate one-side signatures at
        # hash-build time even when the many side never matches them; here
        # the guard fires lazily, so an unmatched duplicate group passes.
        # Guarding unmatched groups would force an extra aggregation over
        # the whole one side per query for an error path — not worth it.
        w_one = Window.partitionBy("_mk", "ts")
        n_one = F.count(F.lit(1)).over(w_one)
        if group == "left":
            right = right.withColumn(
                "_rv", _guarded(F.col("_rv"), n_one, DUPLICATE_GROUP_MSG)
            )
        else:
            left = left.withColumn(
                "_lv", _guarded(F.col("_lv"), n_one, DUPLICATE_GROUP_MSG)
            )

    joined = left.join(right, ["_mk", "ts"], "inner")

    if check_matching and op not in SET_OPS and group is None:
        # one-to-one: any (match key, ts) group joining >1 row means a
        # duplicate series on some side. Count over the joined frame — it is
        # already hash-partitioned AND sorted on (_mk, ts) by the sort-merge
        # join, so this window adds no exchange and no sort. Deliberate
        # relaxation vs Prometheus, which rejects duplicate signatures
        # during hash build even when the other side never matches that
        # group; a post-join guard only sees groups that matched.
        w11 = Window.partitionBy("_mk", "ts")
        joined = joined.withColumn(
            "_lv",
            _guarded(
                F.col("_lv"), F.count(F.lit(1)).over(w11), DUPLICATE_ONE_TO_ONE_MSG
            ),
        )

    lv, rv = F.col("_lv"), F.col("_rv")

    if group in ("left", "right"):
        many_labels = F.col("_ll") if group == "left" else F.col("_rl")
        one_labels = F.col("_rl") if group == "left" else F.col("_ll")
        if include:
            inc = F.array([F.lit(k) for k in include])
            copied = F.map_filter(one_labels, lambda k, _: F.array_contains(inc, k))
            out_labels = F.map_concat(
                F.map_filter(many_labels, lambda k, _: ~F.array_contains(inc, k)),
                copied,
            )
        else:
            out_labels = many_labels
        out_name = F.lit(None).cast("string")
    else:
        out_labels = _result_labels("_ll", on, ignoring)
        out_name = F.lit(None).cast("string")

    if op in COMP_OPS:
        cond = comp_expr(op, lv, rv)
        if bool_mode:
            val = F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
            return joined.select(
                out_name.alias("name"), out_labels.alias("labels"),
                "ts", val.alias("value"),
            )
        # filter mode keeps the MANY side's samples (Prometheus: the side
        # named by group_right is the many side; default/group_left → lhs)
        if group == "right":
            keep_n, keep_l, keep_v = F.col("_rn"), F.col("_rl"), rv
        else:
            keep_n, keep_l, keep_v = F.col("_ln"), F.col("_ll"), lv
        return joined.filter(cond).select(
            keep_n.alias("name"), keep_l.alias("labels"),
            "ts", keep_v.alias("value"),
        )

    return joined.select(
        out_name.alias("name"), out_labels.alias("labels"),
        "ts", arith_expr(op, lv, rv).alias("value"),
    )
