"""Series selection (F1–F4, SURVEY.md §2.2) and metadata queries (M1–M4, §2.6).

Reference parity:
- matcher ops + absent-label semantics: src/query.rs:176-225, src/labels.rs:295-314
  (compiled in labels.py; this module applies them to the long frame);
- name-indexed selection: src/timeseries.rs:487-531 — the ``__name__``
  matcher MUST be exactly one equality; ``!=``/regex on the name are errors.
  The hash-probe becomes a partition-pruned scan when the store is written
  ``partitionBy("name")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.labels import (
    NAME_LABEL,
    LabelMatcher,
    matchers_predicate,
)


class QueryError(ValueError):
    """Engine-level query rejection, mirroring the reference's eyre errors."""


def select_series(
    df: DataFrame,
    matchers: list[LabelMatcher],
    require_name_equality: bool = True,
) -> DataFrame:
    """F1–F3: filter the canonical long frame by label matchers.

    ``require_name_equality`` enforces the reference rule
    (src/timeseries.rs:489-519): exactly one ``__name__`` matcher and it must
    be ``=``. Set False to allow the relaxed mode noted in SURVEY §2.2 F3.
    """
    name_matchers = [m for m in matchers if m.label == NAME_LABEL]
    if require_name_equality:
        if len(name_matchers) != 1:
            raise QueryError(
                f"expected exactly one __name__ matcher, got {len(name_matchers)}"
            )
        if name_matchers[0].op != "=":
            raise QueryError("only equality is supported for the __name__ matcher")

    out = df
    pruned = None
    for m in name_matchers:
        if m.op == "=":
            # Equality on name first: partition pruning does the index probe.
            out = out.filter(F.col("name") == m.value)
            pruned = m
            break
    # every other matcher still applies (incl. further __name__ matchers —
    # two different equalities must conjoin to the empty set, not win-first)
    rest = [m for m in matchers if m is not pruned]
    if rest:
        out = out.filter(matchers_predicate(rest, F.col("labels"), F.col("name")))
    return out


def all_label_names(df: DataFrame) -> DataFrame:
    """M1: distinct label names across all series, sorted
    (src/timeseries.rs:459-476). ``__name__`` is included first, as the
    reference's BTreeSet iteration starts at NAME_CODE=0."""
    names = df.select(F.explode(F.map_keys("labels")).alias("label"))
    return (
        names.union(df.limit(1).select(F.lit(NAME_LABEL).alias("label")))
        .distinct()
        .orderBy("label")
    )


def label_values(df: DataFrame, label: str) -> DataFrame:
    """M2 (generalized): distinct values of one label; the reference only
    supports ``__name__`` (src/main.rs:415-425)."""
    col = F.col("name") if label == NAME_LABEL else F.col("labels").getItem(label)
    return df.select(col.alias("value")).filter(F.col("value").isNotNull()).distinct().orderBy("value")


def series_count(df: DataFrame) -> int:
    """M3: number of distinct series (src/timeseries.rs:405-408)."""
    from prometheus_parquet_server_spark.model import series_key_col

    return df.select(series_key_col().alias("sk")).distinct().count()


def series_sets(df: DataFrame, matchers: list[LabelMatcher]) -> DataFrame:
    """Distinct (name, labels) pairs matching the selector — the
    ``/api/v1/series`` metadata query (beyond-reference: the reference has
    no series endpoint). Relaxed name rule: any matcher combination is
    allowed, like real Prometheus ``match[]``.

    Distinct runs on the canonical labels JSON (maps can't be deduped
    directly); one row per series comes back with the map rebuilt.
    """
    from prometheus_parquet_server_spark.model import canonical_labels_json

    sel = select_series(df, matchers, require_name_equality=False)
    dedup = (
        sel.select(
            "name", canonical_labels_json().alias("_lj")
        )
        .distinct()
    )
    labels_back = F.from_json(F.col("_lj"), "map<string,string>")
    return dedup.select("name", labels_back.alias("labels"))
