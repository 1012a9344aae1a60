"""The snapshot store's maintenance verbs share one rewrite commit
(sources/snapshot_store.py ``_rewrite``): each new manifest keeps the
parent's schema, properties and layout, each verb keeps its own refusal
of a foreign NULL-key row, the verbs that need no scan run no Spark job,
and data-file paths survive store roots that URI encoding changes."""

from __future__ import annotations

import glob
import math
import os

import pytest

from prometheus_parquet_server_spark.sources import manifest
from prometheus_parquet_server_spark.sources.snapshot_store import (
    _scan_stats,
    snapshot_clone,
    snapshot_compact,
    snapshot_delete,
    snapshot_expire,
    snapshot_merge,
    snapshot_read,
    snapshot_restore,
    snapshot_update,
    snapshot_upsert,
    snapshot_vacuum,
    snapshot_write,
    snapshot_zorder,
)

from tests.test_footer import jobs_run

NARROW = "name string, labels map<string,string>, ts double, value double"
WIDE = NARROW + ", extra int"
WRITE_REJECTED = r"snapshot write rejected: 1 row\(s\) with NULL name"


def _union(existing, updates):
    return updates if existing is None else existing.unionByName(updates)


def _store(spark, root, chunk):
    """Two commits: a property-carrying base, then an append that
    evolves the schema with ``extra``."""
    rows = [
        ("a", {"k": "1"}, 1.0, 1.0),
        ("a", {"k": "1"}, 2.0, 1.5),
        ("a", {"k": "1"}, 12.0, 2.0),
        ("b", {"k": "2"}, 3.0, 3.0),
        ("b", {"k": "2"}, 25.0, 4.0),
    ]
    snapshot_write(
        spark, root, spark.createDataFrame(rows, NARROW), mode="overwrite",
        time_chunk_s=chunk, properties={"owner": "ops"},
    )
    snapshot_write(
        spark, root, spark.createDataFrame([("a", {"k": "1"}, 5.0, 5.0, 7)], WIDE),
        merge_schema=True,
    )


# verb id -> (layout, first call, second call hitting the foreign file,
# refusal the second call must raise)
VERBS = {
    "upsert": (
        10.0,
        lambda s, r: snapshot_upsert(
            s, r, s.createDataFrame([("a", {"k": "1"}, 1.0, 9.0, None)], WIDE)
        ),
        lambda s, r: snapshot_upsert(
            s, r, s.createDataFrame([("a", {"k": "1"}, 1.0, 8.0, None)], WIDE)
        ),
        WRITE_REJECTED,
    ),
    "merge": (
        10.0,
        lambda s, r: snapshot_merge(
            s, r, s.createDataFrame([("a", {"k": "1"}, 7.0, 9.0, 1)], WIDE), _union
        ),
        lambda s, r: snapshot_merge(
            s, r, s.createDataFrame([("a", {"k": "1"}, 8.0, 9.0, 1)], WIDE), _union
        ),
        WRITE_REJECTED,
    ),
    "compact": (
        10.0,
        lambda s, r: snapshot_compact(s, r),
        lambda s, r: snapshot_compact(s, r),
        WRITE_REJECTED,
    ),
    "expire": (
        10.0,
        lambda s, r: snapshot_expire(s, r, 2.0),
        lambda s, r: snapshot_expire(s, r, 1.5),
        WRITE_REJECTED,
    ),
    "delete": (
        10.0,
        lambda s, r: snapshot_delete(s, r, names=["a"], ts_range=(0.0, 1.5)),
        lambda s, r: snapshot_delete(s, r, names=["a"], ts_range=(0.0, 1.5)),
        "snapshot_delete refused",
    ),
    "update": (
        10.0,
        lambda s, r: snapshot_update(s, r, {"value": "value * 2"}, names=["b"]),
        lambda s, r: snapshot_update(s, r, {"value": "value * 2"}, names=["a"]),
        "snapshot_update refused",
    ),
    "zorder": (
        None,
        lambda s, r: snapshot_zorder(s, r, bits=2),
        lambda s, r: snapshot_zorder(s, r, bits=2),
        WRITE_REJECTED,
    ),
}


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_rewrite_verbs_inherit_and_refuse_null_keys(spark, tmp_path, verb):
    """Each rewriting verb commits the parent's schema (with the evolved
    column), properties and ``time_chunk_s``; on a time-chunked store
    every file's ts range stays inside one chunk. A foreign file holding
    a NULL-name row (no ``null_free``) then makes the verb raise its own
    refusal text and commit nothing."""
    chunk, first, again, refusal = VERBS[verb]
    root = f"file://{tmp_path}/s"
    _store(spark, root, chunk)
    parent, parent_m = manifest.resolve_tip(root)
    v = first(spark, root)
    assert v == parent + 1
    m = manifest.read_manifest(root, v)
    assert m["operation"] == verb
    assert m["schema"] == parent_m["schema"]
    assert m["properties"] == parent_m["properties"]
    assert m["properties"]["owner"] == "ops"
    assert m["properties"].get("time_chunk_s") == chunk
    new = [f for f in m["files"] if f not in parent_m["files"]]
    assert new and all(f["null_free"] for f in new)
    if chunk is not None:
        for f in m["files"]:
            assert math.floor(f["min_ts"] / chunk) == math.floor(f["max_ts"] / chunk), f
    assert snapshot_read(spark, root).columns == ["name", "labels", "ts", "value", "extra"]

    # a foreign file: an 'a' row and a NULL-name row, registered with
    # null-blind stats and no null_free attestation
    foreign = f"{tmp_path}/s/data/tx_foreign"
    spark.createDataFrame(
        [("a", {"k": "1"}, 1.0, 1.0), (None, {"k": "1"}, 2.0, 2.0)], NARROW
    ).coalesce(1).write.parquet(foreign)
    [fpath] = glob.glob(f"{foreign}/*.parquet")
    entry = {
        "path": f"file://{fpath}", "n_rows": 2, "n_bytes": os.path.getsize(fpath),
        "min_name": "a", "max_name": "a", "min_ts": 1.0, "max_ts": 2.0,
    }
    tip = manifest.commit(
        root, v, {**m, "operation": "append", "files": m["files"] + [entry]}
    )
    with pytest.raises(ValueError, match=refusal):
        again(spark, root)
    assert manifest.resolve_tip(root)[0] == tip


def _flat_store(spark, root):
    mk = lambda rows: spark.createDataFrame(rows, NARROW)
    snapshot_write(spark, root, mk([("a", {}, 1.0, 1.0), ("a", {}, 2.0, 2.0)]), mode="overwrite")
    snapshot_write(spark, root, mk([("b", {}, 15.0, 3.0), ("b", {}, 25.0, 4.0)]))


def test_manifest_only_verbs_run_no_spark_job(spark, tmp_path):
    """Expire of only dead files, delete of contained ``null_free`` files,
    restore and clone are manifest arithmetic: no Spark job."""
    root = f"file://{tmp_path}/s"
    _flat_store(spark, root)
    v2, m2 = manifest.resolve_tip(root)
    a_files = [f for f in m2["files"] if f["max_name"] == "a"]
    b_files = [f for f in m2["files"] if f["min_name"] == "b"]

    v, n = jobs_run(spark, lambda: snapshot_expire(spark, root, 10.0))
    assert (v, n) == (3, 0)
    assert manifest.read_manifest(root, 3)["files"] == b_files

    v, n = jobs_run(spark, lambda: snapshot_delete(spark, root, names=["b"]))
    assert (v, n) == (4, 0)
    assert manifest.read_manifest(root, 4)["files"] == []

    v, n = jobs_run(spark, lambda: snapshot_restore(spark, root, 2))
    assert (v, n) == (5, 0)
    assert manifest.read_manifest(root, 5)["files"] == a_files + b_files

    v, n = jobs_run(spark, lambda: snapshot_clone(spark, root, f"{root}_clone"))
    assert (v, n) == (1, 0)
    assert manifest.read_manifest(f"{root}_clone", 1)["files"] == m2["files"]


@pytest.mark.parametrize("leaf", ["a b", "a%41b"])
def test_store_root_with_space_or_percent(spark, tmp_path, leaf):
    """A root that URI encoding changes: entries record the literal
    path, so reads find the files and vacuum keeps the live ones."""
    root = f"file://{tmp_path}/{leaf}"
    mk = lambda rows: spark.createDataFrame(rows, "name string, ts double, value double")
    rows = [("a", 1.0, 1.0), ("b", 2.0, 2.0)]
    snapshot_write(spark, root, mk(rows[:1]))
    snapshot_write(spark, root, mk(rows[1:]))
    read = lambda: sorted(tuple(r) for r in snapshot_read(spark, root).collect())
    assert read() == rows
    paths = [f["path"] for f in manifest.resolve_tip(root)[1]["files"]]
    assert all(p.startswith(f"{root}/data/") for p in paths)
    assert all(os.path.exists(manifest.local_path(p)) for p in paths)
    # the scan fallback keys its answer on the same entry paths
    assert set(_scan_stats(spark, paths)) == set(paths)

    deleted = snapshot_vacuum(spark, root, keep_last=1, min_age_s=0)
    assert not [p for p in deleted if p.endswith(".parquet")]
    assert read() == rows


def test_ds_append_to_root_with_trailing_slash_survives_vacuum(spark, tmp_path):
    """A root given as ``…/s/`` joins to ``…/s//data/…``: the DS writer
    records the normalised path, and vacuum still counts an entry
    recorded in the joined form (stores written before) as live."""
    from prometheus_parquet_server_spark.sources.pyds import register_snapshot_source

    register_snapshot_source(spark)
    root = f"{tmp_path}/s"
    mk = lambda rows: spark.createDataFrame(rows, "name string, ts double, value double")
    rows = [("a", 1.0, 1.0), ("b", 2.0, 2.0)]
    for r in rows:
        mk([r]).coalesce(1).write.format("pps_snapshot").mode("append").save(root + "/")
    read = lambda: sorted(tuple(r) for r in snapshot_read(spark, root).collect())
    assert read() == rows
    v, m = manifest.resolve_tip(root)
    assert all(f["path"].startswith(f"file://{root}/data/") for f in m["files"])
    # the joined form a writer that did not normalise recorded
    joined = [
        {**f, "path": f["path"].replace(f"file://{root}/", f"{root}//")}
        for f in m["files"]
    ]
    manifest.commit(root, v, {**m, "files": joined})

    deleted = snapshot_vacuum(spark, root + "/", keep_last=1, min_age_s=0)
    assert not [p for p in deleted if p.endswith(".parquet")]
    assert len(glob.glob(f"{root}/data/*/*.parquet")) == 2
    assert read() == rows
