"""The one manifest protocol (sources/manifest.py).

Both snapshot writers — the JVM-side snapshot_store verbs and the Python
data source — commit through this module, so these tests pin the
protocol itself: a slot is either absent or complete, racing appends
both land on a linear chain, stores left by older writers keep working,
and no other package module touches ``_snapshots/``.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import threading
import time

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from prometheus_parquet_server_spark.sources import manifest

SCHEMA = StructType(
    [StructField("name", StringType()), StructField("ts", DoubleType())]
)


def _entry(root: str, tag: str) -> dict:
    return {
        "path": f"{root}/data/{tag}.parquet", "n_rows": 1, "n_bytes": 1,
        "min_name": tag, "max_name": tag, "min_ts": 0.0, "max_ts": 0.0,
    }


def _base_store(root: str) -> None:
    manifest.commit(root, None, {
        "operation": "overwrite",
        "schema": json.loads(SCHEMA.json()),
        "files": [_entry(root, "base")],
    })


def test_in_flight_slot_race_keeps_both_appends(tmp_path, monkeypatch):
    """Writer A is paused inside its manifest byte write while writer B
    appends. A slot must never be visible before its bytes are complete,
    so B takes v2 and A, losing the slot, rebases to v3: the tip holds
    both appends on a linear chain."""
    root = f"file://{tmp_path}/store"
    _base_store(root)
    real_write = manifest._write_bytes
    in_write, b_done = threading.Event(), threading.Event()
    results: dict[str, object] = {}

    def paused_write(path, payload):
        if threading.current_thread().name == "writer-a" and not in_write.is_set():
            in_write.set()
            assert b_done.wait(30), "writer B never finished"
        real_write(path, payload)

    monkeypatch.setattr(manifest, "_write_bytes", paused_write)

    def writer_a():
        try:
            results["a"] = manifest.append(root, [_entry(root, "a")], SCHEMA)
        except Exception as e:  # surfaced by the assertion below
            results["a"] = e

    t = threading.Thread(target=writer_a, name="writer-a")
    t.start()
    assert in_write.wait(30), "writer A never reached its manifest write"
    try:
        results["b"] = manifest.append(root, [_entry(root, "b")], SCHEMA)
    finally:
        b_done.set()
        t.join(30)
    assert results == {"a": 3, "b": 2}
    v, tip = manifest.resolve_tip(root)
    assert v == 3
    assert sorted(f["min_name"] for f in tip["files"]) == ["a", "b", "base"]
    chain = {v: m["parent"] for v, m in manifest.history(root)}
    assert chain == {1: None, 2: 1, 3: 2}
    # no publish temp is left behind by the winner or the loser
    snap = tmp_path / "store" / "_snapshots"
    assert sorted(p.name for p in snap.iterdir()) == [
        f"v{v:010d}.json" for v in (1, 2, 3)
    ]


def test_threaded_appends_form_one_linear_chain(tmp_path):
    """Eight threads (more than the cores) append to one local store with
    a 1 µs switch interval: every append lands exactly once, versions are
    dense, and each manifest's parent is its predecessor. A writer loses
    at most once per other writer's commit, so the retry budget holds."""
    import sys

    root = str(tmp_path / "store")
    _base_store(root)
    results, errors = [], []

    def writer(i):
        try:
            results.append(manifest.append(root, [_entry(root, f"w{i}")], SCHEMA))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(results) == list(range(2, 10))
    chain = {v: m["parent"] for v, m in manifest.history(root)}
    assert chain == {1: None, **{v: v - 1 for v in range(2, 10)}}
    tip = manifest.resolve_tip(root)[1]
    assert sorted(f["min_name"] for f in tip["files"]) == sorted(
        ["base"] + [f"w{i}" for i in range(8)]
    )


def test_publish_is_create_if_absent(tmp_path):
    slot = manifest.manifest_path(str(tmp_path / "s"), 1)
    assert manifest.publish(slot, b'{"racer": "A"}') is True
    assert manifest.publish(slot, b'{"racer": "B"}') is False
    assert pathlib.Path(slot).read_bytes() == b'{"racer": "A"}'
    with pytest.raises(NotImplementedError, match="register_commit_backend"):
        manifest.publish("nobackend://bucket/s/_snapshots/v0000000001.json", b"{}")


def test_stale_parent_never_lands_below_a_vacuumed_gap(tmp_path):
    """A commit prepared against a parent older than a vacuum's floor
    must see the tip moved, not reuse a freed slot below the tip."""
    root = str(tmp_path / "store")
    _base_store(root)
    for tag in ("b", "c"):
        manifest.append(root, [_entry(root, tag)], SCHEMA)
    for v in (1, 2):  # what vacuum(keep_last=1) removes
        os.unlink(manifest.manifest_path(root, v))
    with pytest.raises(manifest.ConcurrentWriteError, match="tip moved"):
        manifest.commit(root, 1, {"operation": "upsert", "files": []})
    assert manifest.append(root, [_entry(root, "d")], SCHEMA) == 4


def test_legacy_store_resolves_appends_and_vacuums(spark, tmp_path):
    """A store as the Hadoop-FS writer left it: .crc sidecars, a tip
    hint, an old publish temp and a torn slot. The tip resolves past the
    junk, an append lands at the next free slot, and vacuum reclaims the
    temp while keeping the junk slot between kept versions."""
    from pyspark.sql import functions as F

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_history,
        snapshot_read,
        snapshot_vacuum,
        snapshot_version,
        snapshot_write,
    )

    def mk(name, ts):
        return spark.range(1).select(
            F.lit(name).alias("name"), F.lit(ts).alias("ts"),
            F.lit(1.0).alias("value"),
        )

    store = f"file://{tmp_path}/legacy"
    snapshot_write(spark, store, mk("a", 1.0), mode="overwrite")
    snapshot_write(spark, store, mk("b", 2.0))
    snap = tmp_path / "legacy" / "_snapshots"
    for v in (1, 2):
        (snap / f".v{v:010d}.json.crc").write_bytes(b"crc\x00\x00\x02\x00")
    (snap / ".tip_hint").write_text("1")
    (snap / "..tip_hint.crc").write_bytes(b"crc")
    stale = snap / ".tmp_v0000000003_deadbeef.json"
    stale.write_text("{}")
    old = time.time() - 7 * 24 * 3600
    os.utime(stale, (old, old))
    (snap / "v0000000003.json").write_text("{trunca")

    assert snapshot_version(spark, store) == 2
    assert snapshot_write(spark, store, mk("c", 3.0)) == 4
    hist = {r["version"]: r["parent"] for r in snapshot_history(spark, store).collect()}
    assert hist == {1: None, 2: 1, 4: 2}
    assert sorted(r["name"] for r in snapshot_read(spark, store).collect()) == [
        "a", "b", "c",
    ]

    deleted = snapshot_vacuum(spark, store, keep_last=2, min_age_s=0)
    assert any(".tmp_v0000000003_deadbeef" in p for p in deleted)
    assert any(p.endswith("v0000000001.json") for p in deleted)
    assert not stale.exists()
    assert (snap / "v0000000003.json").exists()  # junk between kept 2 and 4
    assert manifest.list_versions(store) == [2, 3, 4]
    assert snapshot_write(spark, store, mk("d", 4.0)) == 5
    assert snapshot_read(spark, store).count() == 4


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the string constants that are bare expression statements
    (docstrings) — prose, not code."""
    return {
        id(node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
    }


def test_manifest_protocol_lives_in_one_module():
    """Only sources/manifest.py may name the ``_snapshots`` directory,
    hard-link a manifest into place or call a backend's exclusive
    create: every other module goes through its functions, so there is
    one commit protocol to reason about."""
    pkg = pathlib.Path(manifest.__file__).resolve().parents[1]
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "manifest.py" and path.parent.name == "sources":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        prose = _docstrings(tree)
        for node in ast.walk(tree):
            where = f"{path.relative_to(pkg)}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "_snapshots" in node.value
                and id(node) not in prose
            ):
                offenders.append(f"{where} names _snapshots")
            if isinstance(node, ast.Attribute) and node.attr == "create_exclusive":
                offenders.append(f"{where} calls create_exclusive")
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "link"
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                offenders.append(f"{where} calls os.link")
    assert offenders == []


def test_data_file_path_forms():
    """One conversion owns the data-file path forms: Hadoop listings,
    recorded entries and bare paths all give the recorded entry path,
    normalised as Hadoop's Path is, and local_path opens it literally;
    vacuum's key is its path component."""
    dfp = manifest.data_file_path
    assert dfp("file:/x y/f") == "file:///x y/f"
    assert dfp("/x y/f") == "file:///x y/f"
    assert dfp("file:///x y/f") == "file:///x y/f"
    assert dfp("file:/a%41b/f") == "file:///a%41b/f"
    assert dfp("/r//data/tx_1/f") == "file:///r/data/tx_1/f"
    assert dfp("file:///r/./data/../data/tx_1/") == "file:///r/data/tx_1"
    assert dfp("hdfs://nn:8020/x y//f") == "hdfs://nn:8020/x y/f"
    assert manifest.local_path(dfp("file:/a%41b/f")) == "/a%41b/f"
    key = manifest.data_file_key
    assert key("s3://b/r//f") == key("s3a://b/r/f") == "/r/f"
    assert key("/r//f") == key("file:/r/f") == "/r/f"
