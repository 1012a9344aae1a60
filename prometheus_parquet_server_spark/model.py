"""The canonical long data model (SURVEY.md §1.3, §7.0).

Every reference concept maps onto one DataFrame shape:

    metrics(name STRING, labels MAP<STRING,STRING>, ts DOUBLE, value DOUBLE)

- ``name``  : the metric name (the reference stores it as the pinned
  ``__name__`` label, src/labels.rs:19-22; aggregations may null it out).
- ``labels``: remaining label set (ordered-map equality is emulated by
  hashing canonically sorted entries, replacing the reference's BTreeMap,
  src/labels.rs:129-132).
- ``ts``    : f64 seconds since epoch (src/timevectors.rs:8-9).
- ``value`` : f64; NaN — not NULL — is the missing-value sentinel
  (src/timeseries.rs:106,118-125).

At 100 TB the physical layout is this table written
``partitionBy("name")`` (src/timeseries.rs:389-403's name-keyed HashMap
becomes partition pruning) or the snapshot store's name-clustered files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.sqltext import sql_str

METRIC_COLUMNS = ["name", "labels", "ts", "value"]

#: SQL: the empty label set
EMPTY_LABELS = "CAST(map() AS MAP<STRING, STRING>)"


def canonical_labels_sql(labels: str = "labels") -> str:
    """SQL: the label map ``labels`` (SQL text) with its entries sorted by
    key, a NULL map as the empty label set.

    Replaces the reference's ordered BTreeMap semantics (src/labels.rs:171-176)
    so equal label sets compare/hash equal regardless of map entry order.
    Its ``to_json`` is the canonical string every key is built from, and
    ``from_json`` of that string gives back this map, entries and order."""
    return f"map_from_entries(array_sort(map_entries(coalesce({labels}, {EMPTY_LABELS}))))"


def label_subset_sql(
    labels: str, keep: Sequence[str] | None = None, drop: Sequence[str] = ()
) -> str:
    """SQL: the map ``labels`` restricted to the keys in ``keep`` when it is
    given, else without the keys in ``drop`` (``labels`` itself when there
    is nothing to drop)."""
    if keep is None and not drop:
        return labels
    keys = ", ".join(sql_str(k) for k in (drop if keep is None else keep))
    test = f"array_contains(array({keys}), k)"
    return f"map_filter({labels}, (k, v) -> {test if keep is not None else f'NOT {test}'})"


def canonical_labels_json(labels: str = "labels") -> Column:
    """Deterministic string form of a label map (SQL text): entries sorted
    by key. A NULL map is the empty label set (``"{}"``), as on the batch
    path, so every key built from it — ``series_key_str``, group and match
    keys — is a real key: a NULL-labels series never shares a NULL key with
    the NULL-labels series of other names.
    """
    return F.expr(f"to_json({canonical_labels_sql(labels)})")


def series_key_sql(name: str = "name", labels: str = "labels", canonical: bool = False) -> str:
    """SQL: the canonical string series identity of ``series_key_str``;
    ``canonical=True`` when ``labels`` is already a
    :func:`canonical_labels_sql` map."""
    lj = labels if canonical else canonical_labels_sql(labels)
    return f"concat(coalesce({name}, '\\u0000'), '|', to_json({lj}))"


def series_key_col(name: str = "name", labels: str = "labels") -> Column:
    """Stable 64-bit series identity = xxhash64(name, canonical labels)."""
    return F.expr(
        f"xxhash64(coalesce({name}, ''), to_json({canonical_labels_sql(labels)}))"
    )


def series_key_str(name: str = "name", labels: str = "labels") -> Column:
    """Canonical STRING series identity.

    Needed because Spark forbids MAP columns in window partitioning, set ops,
    joins, and hash functions (probed on Spark 4.1: only groupBy accepts
    maps) — so every per-series operator keys on this string instead of the
    raw (name, labels) pair.
    """
    return F.expr(series_key_sql(name, labels))
