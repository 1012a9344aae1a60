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

from pyspark.sql import Column
from pyspark.sql import functions as F

METRIC_COLUMNS = ["name", "labels", "ts", "value"]


def canonical_labels_json(labels: Column) -> Column:
    """Deterministic string form of a label map: entries sorted by key.

    Replaces the reference's ordered BTreeMap semantics (src/labels.rs:171-176)
    so equal label sets compare/hash equal regardless of map entry order.
    A NULL map is the empty label set (``"{}"``), as on the batch path, so
    every key built from it — ``series_key_str``, group and match keys —
    is a real key: a NULL-labels series never shares a NULL key with the
    NULL-labels series of other names.
    """
    labels = F.coalesce(
        labels,
        F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        ),
    )
    return F.to_json(F.map_from_entries(F.array_sort(F.map_entries(labels))))


def series_key_col(name: Column | None = None, labels: Column | None = None) -> Column:
    """Stable 64-bit series identity = xxhash64(name, canonical labels)."""
    name = F.col("name") if name is None else name
    labels = F.col("labels") if labels is None else labels
    return F.xxhash64(F.coalesce(name, F.lit("")), canonical_labels_json(labels))


def series_key_str(name: Column | None = None, labels: Column | None = None) -> Column:
    """Canonical STRING series identity.

    Needed because Spark forbids MAP columns in window partitioning, set ops,
    joins, and hash functions (probed on Spark 4.1: only groupBy accepts
    maps) — so every per-series operator keys on this string instead of the
    raw (name, labels) pair.
    """
    name = F.col("name") if name is None else name
    labels = F.col("labels") if labels is None else labels
    return F.concat(
        F.coalesce(name, F.lit("\u0000")), F.lit("|"), canonical_labels_json(labels)
    )
