"""Commit-protocol snapshot store: atomic manifests, pruning, time travel.

The object-store-safe table format (sources/snapshot_store.py): commits
are create-if-absent manifest files, data files are immutable, readers
see only committed state. These tests pin the commit atomicity story a
rename-based rewrite cannot offer on object stores.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.sources import manifest
from prometheus_parquet_server_spark.sources.snapshot_store import (
    ConcurrentWriteError,
    snapshot_compact,
    snapshot_history,
    snapshot_read,
    snapshot_upsert,
    snapshot_vacuum,
    snapshot_version,
    snapshot_write,
)


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "name string, labels map<string,string>, ts double, value double"
    )


def test_write_read_append_and_time_travel(spark, tmp_path):
    store = f"file://{tmp_path}/snap"
    v1 = snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    v2 = snapshot_write(spark, store, mk(spark, [("b", {}, 2.0, 2.0)]))
    assert (v1, v2) == (1, 2)
    assert snapshot_version(spark, store) == 2
    assert snapshot_read(spark, store).count() == 2
    # time travel: v1 predates the append
    assert snapshot_read(spark, store, version=1).count() == 1
    hist = {r["version"]: r["operation"] for r in snapshot_history(spark, store).collect()}
    assert hist == {1: "overwrite", 2: "append"}


def test_uncommitted_writer_is_invisible(spark, tmp_path):
    """Data files without a committed manifest must never surface — the
    core object-store guarantee (no rename atomicity needed)."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    # simulate a crashed writer: data files land, manifest never created
    mk(spark, [("ghost", {}, 9.0, 9.0)]).write.parquet(
        f"{store}/data/tx_crashed0001"
    )
    df = snapshot_read(spark, store)
    assert df.count() == 1
    assert [r["name"] for r in df.collect()] == ["a"]
    # vacuum reclaims the orphan
    deleted = snapshot_vacuum(spark, store, keep_last=1, min_age_s=0)
    assert any("tx_crashed0001" in p for p in deleted)
    assert snapshot_read(spark, store).count() == 1


def test_commit_race_one_winner(spark, tmp_path):
    """Two writers racing to the same version: exactly one wins; the
    append retries onto the new tip, the overwrite refuses."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    # steal version 2 out from under the next writer
    m2 = {"operation": "test", "files": []}
    assert manifest.commit(store, 1, m2) == 2
    # same version again → loser
    with pytest.raises(ConcurrentWriteError):
        manifest.commit(store, 1, m2)
    # an append rebases: lands at v3
    v = snapshot_write(spark, store, mk(spark, [("b", {}, 2.0, 2.0)]))
    assert v == 3


def test_upsert_rewrites_only_touched_files(spark, tmp_path):
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    snapshot_write(spark, store, mk(spark, [("b", {}, 1.0, 2.0)]))
    updates = [
        ("b", {}, 1.0, 99.0),  # replaces the existing (series, ts)
        ("b", {"h": "x"}, 1.0, 5.0),  # new series, same ts: appends
        ("b", {}, 2.0, 7.0),  # new ts: appends
        ("c", {}, 1.0, 3.0),  # new metric
    ]
    v = snapshot_upsert(spark, store, mk(spark, updates))
    assert v == 3
    rows = {
        (r["name"], r["labels"].get("h"), r["ts"]): r["value"]
        for r in snapshot_read(spark, store).collect()
    }
    assert rows == {
        ("a", None, 1.0): 1.0,
        ("b", None, 1.0): 99.0,
        ("b", "x", 1.0): 5.0,
        ("b", None, 2.0): 7.0,
        ("c", None, 1.0): 3.0,
    }
    # 'a' file carried over by reference: same path in v2 and v3 manifests
    paths = lambda v: {
        f["path"] for f in manifest.read_manifest(store, v)["files"] if f["min_name"] == "a"
    }
    assert paths(2) == paths(3) != set()


def test_upsert_dedupes_duplicate_updates_deterministically(spark, tmp_path):
    """Duplicate (series, ts) rows WITHIN one update batch resolve to the
    max value (the merge's row_number tie-break on value desc) whatever
    order and partitioning the batch arrives in — never by shuffle
    layout. The existing sample loses to the batch even though its value
    is larger: batch priority ranks before value."""
    dupes = [("m", {}, 1.0, 21.0), ("m", {}, 1.0, 22.0), ("m", {}, 1.0, 20.0)]
    layouts = [(dupes, 1), (dupes[::-1], 1), (dupes[::-1], 3)]
    for i, (rows, parts) in enumerate(layouts):
        store = f"file://{tmp_path}/snap{i}"
        snapshot_write(
            spark, store, mk(spark, [("m", {}, 1.0, 99.0)]), mode="overwrite"
        )
        snapshot_upsert(spark, store, mk(spark, rows).repartition(parts))
        got = [(r["ts"], r["value"]) for r in snapshot_read(spark, store).collect()]
        assert got == [(1.0, 22.0)], (i, got)


def test_manifest_level_file_pruning(spark, tmp_path):
    """A one-metric read must plan over only the files whose manifest name
    range covers that metric — no other file paths reach the scan."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(
        spark, store, mk(spark, [("m1", {}, float(t), 1.0) for t in range(5)]),
        mode="overwrite",
    )
    snapshot_write(spark, store, mk(spark, [("m2", {}, float(t), 2.0) for t in range(5)]))
    df = snapshot_read(spark, store, names=["m1"])
    assert df.count() == 5
    scanned = df.select(F.input_file_name()).distinct().collect()
    m2_files = {
        f["path"].split("://", 1)[-1]
        for f in manifest.read_manifest(store, 2)["files"]
        if f["min_name"] == "m2"
    }
    for r in scanned:
        assert r[0].split("://", 1)[-1] not in m2_files
    # ts pruning composes
    assert snapshot_read(spark, store, ts_range=(3.0, 4.0)).count() == 4


def test_compact_preserves_content_and_history(spark, tmp_path):
    store = f"file://{tmp_path}/snap"
    for i in range(3):
        snapshot_write(
            spark, store, mk(spark, [("m", {}, float(i), float(i))]),
            mode="overwrite" if i == 0 else "append",
        )
    before = sorted(
        (r["ts"], r["value"]) for r in snapshot_read(spark, store).collect()
    )
    v = snapshot_compact(spark, store, target_file_bytes=1 << 30)
    assert v == 4
    after = sorted((r["ts"], r["value"]) for r in snapshot_read(spark, store).collect())
    assert before == after
    # old version still readable until vacuumed
    assert snapshot_read(spark, store, version=3).count() == 3
    snapshot_vacuum(spark, store, keep_last=1, min_age_s=0)
    with pytest.raises(Exception):
        snapshot_read(spark, store, version=3).count()
    assert snapshot_read(spark, store).count() == 3


def test_vacuum_keep_last_guard(spark, tmp_path):
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    with pytest.raises(ValueError):
        snapshot_vacuum(spark, store, keep_last=0)
    with pytest.raises(ValueError):
        snapshot_vacuum(spark, store, min_age_s=-1)


def test_expire_drops_whole_files_without_scan(spark, tmp_path):
    """Files entirely below the cutoff drop by manifest arithmetic; only
    straddling files are rewritten; clean files carry over by reference."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_expire,
    )

    store = f"file://{tmp_path}/snap"
    # three commits: old (ts 0-4), straddling (ts 8-12), fresh (ts 20-24)
    snapshot_write(spark, store, mk(spark, [("m", {}, float(t), 1.0) for t in range(5)]), mode="overwrite")
    snapshot_write(spark, store, mk(spark, [("m", {}, float(t), 2.0) for t in range(8, 13)]))
    snapshot_write(spark, store, mk(spark, [("m", {}, float(t), 3.0) for t in range(20, 25)]))
    fresh_paths = {
        f["path"] for f in manifest.read_manifest(store, 3)["files"] if f["min_ts"] >= 20
    }

    v = snapshot_expire(spark, store, min_ts=10.0)
    assert v == 4
    rows = sorted(r["ts"] for r in snapshot_read(spark, store).collect())
    assert rows == [10.0, 11.0, 12.0, 20.0, 21.0, 22.0, 23.0, 24.0]
    after = manifest.read_manifest(store, 4)["files"]
    # the fresh file was carried by reference, not rewritten
    assert fresh_paths <= {f["path"] for f in after}
    # nothing left to expire → no-op returns None, no empty commit
    assert snapshot_expire(spark, store, min_ts=10.0) is None
    assert snapshot_version(spark, store) == 4


def test_threaded_append_race_lands_both_commits(spark, tmp_path):
    """Two genuinely concurrent appends: the create-if-absent commit makes
    exactly one win each version; the loser rebases. Both datasets land."""
    import threading

    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("base", {}, 0.0, 0.0)]), mode="overwrite")
    errors = []

    def append(name):
        try:
            snapshot_write(spark, store, mk(spark, [(name, {}, 1.0, 1.0)]))
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    ts = [threading.Thread(target=append, args=(f"t{i}",)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    assert snapshot_version(spark, store) == 5
    names = {r["name"] for r in snapshot_read(spark, store).collect()}
    assert names == {"base", "t0", "t1", "t2", "t3"}


def test_streaming_drains_into_snapshot_store(spark, tmp_path):
    """foreachBatch + availableNow through snapshot_write: live ingest
    composes with the table format; every micro-batch is one atomic
    commit and a reader mid-stream sees only whole batches."""
    from prometheus_parquet_server_spark.streaming.ingest import (
        stream_events_as_metrics,
    )

    sf_dir = "/root/testdata/sf0.001"
    store = f"file://{tmp_path}/snap"
    metrics = stream_events_as_metrics(spark, sf_dir).select(
        "name",
        "labels",
        F.unix_timestamp("event_time").cast("double").alias("ts"),
        "value",
    )

    def sink(batch_df, batch_id):
        snapshot_write(batch_df.sparkSession, store, batch_df)

    q = (
        metrics.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert snapshot_read(spark, store).count() == batch_n
    assert snapshot_version(spark, store) >= 1


def test_read_any_store_detects_format(spark, tmp_path):
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        read_any_store,
    )
    from prometheus_parquet_server_spark.sources.store import write_store

    snap = f"file://{tmp_path}/snap"
    swap = str(tmp_path / "swap")
    snapshot_write(spark, snap, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    write_store(mk(spark, [("b", {}, 2.0, 2.0)]), swap)
    assert [r["name"] for r in read_any_store(spark, snap).collect()] == ["a"]
    assert [r["name"] for r in read_any_store(spark, swap).collect()] == ["b"]


def test_compact_rewrites_only_small_files(spark, tmp_path):
    """Files already at target size carry over by reference — compaction
    cost tracks the small-file debt, not the store size."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("big", {}, float(t), 1.0) for t in range(100)]), mode="overwrite")
    snapshot_write(spark, store, mk(spark, [("s1", {}, 1.0, 1.0)]))
    snapshot_write(spark, store, mk(spark, [("s2", {}, 1.0, 2.0)]))
    m3 = manifest.read_manifest(store, 3)["files"]
    big_paths = {f["path"] for f in m3 if f["min_name"] == "big"}
    big_bytes = max(f["n_bytes"] for f in m3 if f["min_name"] == "big")

    # threshold between the big file and the tiny ones → only tiny rewritten
    v = snapshot_compact(spark, store, target_file_bytes=big_bytes)
    assert v == 4
    m4 = manifest.read_manifest(store, 4)["files"]
    assert big_paths <= {f["path"] for f in m4}  # carried by reference
    assert snapshot_read(spark, store).count() == 102
    # everything at/above target now → no-op, no empty commit
    assert snapshot_compact(spark, store, target_file_bytes=1) is None
    assert snapshot_version(spark, store) == 4


def test_vacuum_age_guard_spares_inflight_writers(spark, tmp_path):
    """Unreferenced data files YOUNGER than min_age_s must survive vacuum:
    a writer that staged files but hasn't committed yet is
    indistinguishable from a crashed orphan, and deleting its files would
    corrupt its about-to-commit snapshot."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    # an "in-flight" writer's staged-but-uncommitted files (fresh mtime)
    mk(spark, [("inflight", {}, 9.0, 9.0)]).write.parquet(
        f"{store}/data/tx_inflight01"
    )
    deleted = snapshot_vacuum(spark, store, keep_last=1)  # default age guard
    assert not any("tx_inflight01" in p for p in deleted)
    # the files are still there for the writer's commit
    assert spark.read.parquet(f"{store}/data/tx_inflight01").count() == 1


def test_expire_everything_leaves_readable_empty_snapshot(spark, tmp_path):
    """Expiring all data is a legal retention outcome: the empty snapshot
    must stay readable (schema from the manifest), not crash readers."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_expire,
    )

    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("m", {}, 1.0, 1.0)]), mode="overwrite")
    v = snapshot_expire(spark, store, min_ts=100.0)
    assert v == 2
    out = snapshot_read(spark, store)
    assert out.count() == 0
    assert set(out.columns) == {"name", "labels", "ts", "value"}


def test_torn_manifest_does_not_wedge_store(spark, tmp_path):
    """An unreadable version file (legacy torn write / tampering) must be
    skipped by readers and numbered past by writers — not crash every
    read and write until manual cleanup."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    # plant a torn manifest above the tip
    (tmp_path / "snap" / "_snapshots" / "v0000000002.json").write_text("{trunca")
    assert snapshot_version(spark, store) == 1  # readable tip
    assert snapshot_read(spark, store).count() == 1
    v = snapshot_write(spark, store, mk(spark, [("b", {}, 2.0, 2.0)]))
    assert v == 3  # numbered PAST the junk, not into it
    assert snapshot_read(spark, store).count() == 2
    hist = {r["version"] for r in snapshot_history(spark, store).collect()}
    assert hist == {1, 3}


def test_snapshot_select_prunes_and_filters_exactly(spark, tmp_path):
    """The engine selector composes with the table format: equality
    __name__ matchers prune at the manifest level; all matchers still
    apply exactly (regex __name__ falls back to a full scan but stays
    correct)."""
    from prometheus_parquet_server_spark.labels import LabelMatcher
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_select,
    )

    store = f"file://{tmp_path}/snap"
    rows = [("cpu", {"host": "a"}, 1.0, 1.0), ("cpu", {"host": "b"}, 1.0, 2.0)]
    snapshot_write(spark, store, mk(spark, rows), mode="overwrite")
    snapshot_write(spark, store, mk(spark, [("mem", {"host": "a"}, 1.0, 3.0)]))

    sel = snapshot_select(
        spark, store,
        [LabelMatcher("__name__", "=", "cpu"), LabelMatcher("host", "=", "a")],
    )
    got = [(r["name"], r["value"]) for r in sel.collect()]
    assert got == [("cpu", 1.0)]
    # pruning really happened: the mem file's path never reaches the scan
    scanned = {r[0] for r in sel.select(F.input_file_name()).distinct().collect()}
    assert not any("mem" in _p or _is_mem_file(spark, store, _p) for _p in scanned)


def _is_mem_file(spark, store, path):
    _, m = manifest.resolve_tip(store)
    mem = {f["path"].split("://", 1)[-1] for f in m["files"] if f["min_name"] == "mem"}
    return path.split("://", 1)[-1] in mem


def test_time_travel_by_timestamp(spark, tmp_path):
    import time

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_as_of,
    )

    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    t_between = time.time()
    time.sleep(0.05)
    snapshot_write(spark, store, mk(spark, [("b", {}, 2.0, 2.0)]))

    v = snapshot_as_of(spark, store, t_between)
    assert v == 1
    assert snapshot_read(spark, store, version=v).count() == 1
    assert snapshot_as_of(spark, store, time.time()) == 2
    assert snapshot_as_of(spark, store, 0.0) is None  # before the store existed


def test_vacuum_reclaims_stale_manifest_temps(spark, tmp_path):
    """A writer crashed between staging and rename leaves .tmp_v*.json
    junk in _snapshots; vacuum reclaims it past the age guard, and a
    fresh temp (an in-flight commit) survives."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    stale = tmp_path / "snap" / "_snapshots" / ".tmp_v0000000002_deadbeef.json"
    stale.write_text("{}")
    deleted = snapshot_vacuum(spark, store, keep_last=1, min_age_s=0)
    assert any(".tmp_v0000000002" in p for p in deleted)
    fresh = tmp_path / "snap" / "_snapshots" / ".tmp_v0000000003_cafecafe.json"
    fresh.write_text("{}")
    deleted2 = snapshot_vacuum(spark, store, keep_last=1)  # default age guard
    assert not any(".tmp_v0000000003" in p for p in deleted2)
    assert fresh.exists()


def test_snapshot_lifecycle_matches_model(spark, tmp_path):
    """Model-based check: a random-ish sequence of lifecycle ops applied
    both to the snapshot store and to a plain Python dict model keyed by
    (name, ts) — after every op the store content must equal the model.
    Catches cross-op interactions (upsert after expire, compact between
    appends, vacuum mid-sequence) that single-op tests cannot."""
    import random

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_expire,
    )

    rnd = random.Random(1234)
    store = f"file://{tmp_path}/snap"
    model: dict[tuple[str, float], float] = {}

    def gen(n):
        rows = [
            (f"m{rnd.randrange(4)}", {}, float(rnd.randrange(20)),
             float(rnd.randrange(100)))
            for _ in range(n)
        ]
        return rows

    def dedupe_max(rows):
        best: dict[tuple[str, float], float] = {}
        for name, _, ts, v in rows:
            k = (name, ts)
            best[k] = max(best[k], v) if k in best else v
        return best

    # seed
    rows = gen(8)
    snapshot_write(spark, store, mk(spark, rows), mode="overwrite")
    model = dict(dedupe_max(rows))
    # NOTE: plain append can duplicate (name, ts) pairs across commits —
    # the model for append is multiset union, so model values follow the
    # read-side MAX-dedupe convention only through upsert; keep appends
    # disjoint by using fresh timestamps
    next_ts = 100.0

    for step in range(12):
        op = rnd.choice(["append", "upsert", "expire", "compact", "vacuum"])
        if op == "append":
            rows = [
                (f"m{rnd.randrange(4)}", {}, next_ts + i, float(rnd.randrange(100)))
                for i in range(3)
            ]
            next_ts += 10.0
            snapshot_write(spark, store, mk(spark, rows))
            model.update(dedupe_max(rows))
        elif op == "upsert":
            rows = gen(5)
            snapshot_upsert(spark, store, mk(spark, rows))
            for k, v in dedupe_max(rows).items():
                model[k] = v  # updates REPLACE
        elif op == "expire":
            cut = float(rnd.randrange(25))
            snapshot_expire(spark, store, min_ts=cut)
            model = {k: v for k, v in model.items() if k[1] >= cut}
        elif op == "compact":
            snapshot_compact(spark, store, target_file_bytes=1 << 30)
        else:
            snapshot_vacuum(spark, store, keep_last=1, min_age_s=0)

        got = {
            (r["name"], r["ts"]): r["value"]
            for r in snapshot_read(spark, store).collect()
        }
        assert got == model, f"divergence after step {step} ({op})"


def test_write_rejects_null_keys_and_cleans_up(spark, tmp_path):
    """NULL name / NULL ts / NaN ts rows must never commit: their
    manifest stats would be JSON-null (or NaN) and every later pruned
    read, expire and upsert on that manifest would break — one dirty
    batch would wedge the store permanently. The rejected tx dir is
    reclaimed immediately."""
    from prometheus_parquet_server_spark.sources.snapshot_store import _StoreFS

    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    for bad in (
        [(None, {}, 2.0, 2.0)],
        [("b", {}, None, 2.0)],
        [("b", {}, float("nan"), 2.0)],
    ):
        with pytest.raises(ValueError, match="NULL name, NULL ts, or NaN ts"):
            snapshot_write(spark, store, mk(spark, bad))
    # store is untouched and fully functional; rejected tx dirs are gone
    assert snapshot_version(spark, store) == 1
    assert snapshot_read(spark, store).count() == 1
    fs = _StoreFS(spark, store)
    txs = fs.subdirs(f"{store}/data")
    assert len(txs) == 1  # only the committed write's tx dir remains

    # upsert rejects NULL names before doing any work
    with pytest.raises(ValueError, match="NULL metric names"):
        snapshot_upsert(spark, store, mk(spark, [(None, {}, 3.0, 3.0)]))


def test_vacuum_refuses_all_torn_store(spark, tmp_path):
    """With every manifest torn (the state readers are built to survive),
    vacuum must be a no-op — an empty live set would otherwise delete
    every manifest and data file, turning a repairable store into data
    loss."""
    import pathlib

    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    snap_dir = pathlib.Path(f"{tmp_path}/snap/_snapshots")
    for mf in snap_dir.glob("v*.json"):
        mf.write_text("{torn")
    assert snapshot_vacuum(spark, store, keep_last=1, min_age_s=0) == []
    # the torn manifest and the data files are all still there for repair
    assert list(snap_dir.glob("v*.json"))
    assert list(pathlib.Path(f"{tmp_path}/snap/data").rglob("*.parquet"))


def test_upsert_keeps_parent_schema_for_empty_reads(spark, tmp_path):
    """An upsert whose updates frame has a different column order must not
    change the schema a later fully-pruned/empty read reports — the
    parent manifest's schema is the store's schema."""
    store = f"file://{tmp_path}/snap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    reordered = spark.createDataFrame(
        [(2.0, 2.0, "a", {})],
        "ts double, value double, name string, labels map<string,string>",
    )
    snapshot_upsert(spark, store, reordered)
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_expire,
    )

    snapshot_expire(spark, store, min_ts=100.0)  # expire everything
    empty = snapshot_read(spark, store)
    assert empty.count() == 0
    assert empty.columns == ["name", "labels", "ts", "value"]


def test_cross_process_commit_race_one_winner(spark, tmp_path):
    """TWO OS PROCESSES (separate interpreters and JVMs — no in-process
    lock can arbitrate them) race the same append commit: a file-based
    barrier aligns them immediately before the commit loop, so both
    compute the same CAS target version. Exactly one must win each
    version; the loser must rebase and land on the next — no lost
    append, no torn manifest, a linear parent chain."""
    import json
    import pathlib
    import subprocess
    import sys

    store_dir = tmp_path / "snap"
    store = f"file://{store_dir}"
    snapshot_write(spark, store, mk(spark, [("base", {}, 0.0, 0.0)]), mode="overwrite")

    script = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from prometheus_parquet_server_spark import get_spark
from prometheus_parquet_server_spark.sources import manifest
from prometheus_parquet_server_spark.sources.snapshot_store import (
    _schema_json, _write_data_files,
)

tag, store, barrier_dir = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark(f"racer-{{tag}}")
df = spark.createDataFrame(
    [(f"proc-{{tag}}", {{}}, 1.0, 1.0)],
    "name string, labels map<string,string>, ts double, value double",
)
new_files = _write_data_files(spark, store, df)
schema = _schema_json(df)

# barrier: announce readiness, wait for the peer, then commit immediately
me = f"{{barrier_dir}}/ready_{{tag}}"
open(me, "w").close()
deadline = time.time() + 120
while time.time() < deadline:
    others = [p for p in __import__("os").listdir(barrier_dir) if p.startswith("ready_")]
    if len(others) >= 2:
        break
    time.sleep(0.01)

attempts = 0
version = None
for _ in range(10):
    attempts += 1
    parent, parent_m = manifest.resolve_tip(store)
    base = parent_m["files"] if parent_m else []
    try:
        version = manifest.commit(store, parent, {{
            "operation": "append", "schema": schema, "files": base + new_files,
        }})
        break
    except manifest.ConcurrentWriteError:
        continue
print(json.dumps({{"tag": tag, "version": version, "attempts": attempts}}))
"""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    code = script.format(repo=repo)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, tag, store, str(barrier)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            cwd=repo,
        )
        for tag in ("a", "b")
    ]
    results = []
    for p in procs:
        out, _ = p.communicate(timeout=300)
        assert p.returncode == 0
        results.append(json.loads(out.decode().strip().splitlines()[-1]))

    versions = {r["tag"]: r["version"] for r in results}
    assert None not in versions.values(), f"a racer lost every retry: {results}"
    assert sorted(versions.values()) == [2, 3], versions  # distinct, dense
    # the surviving chain is linear and contains BOTH processes' rows
    assert snapshot_version(spark, store) == 3
    names = {r["name"] for r in snapshot_read(spark, store).collect()}
    assert names == {"base", "proc-a", "proc-b"}
    hist = {r["version"]: r["parent"] for r in snapshot_history(spark, store).collect()}
    assert hist == {1: None, 2: 1, 3: 2}


def test_graded_snapshot_select_prunes_files(spark):
    """The snapshot_select_f1 oracle row's store fixture: the
    name-equality matcher must plan a scan over STRICTLY FEWER files than
    the full store (manifest-level pruning engaged), while the oracle
    gate separately proves the result is exact."""
    from prometheus_parquet_server_spark.driver_contract import (
        _snapshot_store_for,
    )
    from prometheus_parquet_server_spark.labels import LabelMatcher
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_select,
    )

    store = _snapshot_store_for(spark, "/root/testdata/sf0.001")
    v, m = manifest.resolve_tip(store)
    total_files = len(m["files"])
    assert total_files > 1  # pruning needs something to prune

    sel = snapshot_select(spark, store, [LabelMatcher("__name__", "=", "click")])
    n_scanned = sel.select(F.input_file_name()).distinct().count()
    assert n_scanned < total_files, (n_scanned, total_files)


def test_snapshot_merge_race_raises(spark, tmp_path):
    """A merge prepared against a tip that moved must raise
    ConcurrentWriteError (blind rebase could lose the racer's addition to
    the combined rows), and the committed state stays the winner's."""
    import pytest

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_merge,
    )

    store = f"file://{tmp_path}/merge"

    def additive(existing, new):
        if existing is None:
            return new
        u = existing.select(*new.columns).unionByName(new)
        return u.groupBy("name").agg(
            F.min("ts").alias("ts"), F.sum("value").alias("value"),
            F.first("labels").alias("labels"),
        ).select("name", "labels", "ts", "value")

    base = mk(spark, [("a", {}, 1.0, 10.0)])
    snapshot_merge(spark, store, base, additive)

    # simulate the race: a second writer commits between this merge's
    # read of the tip and its commit attempt — patch the combine to
    # sneak a commit in the middle
    def racing_combine(existing, new):
        snapshot_merge(spark, store, mk(spark, [("a", {}, 2.0, 5.0)]), additive)
        return additive(existing, new)

    with pytest.raises(Exception, match="tip moved|already exists"):
        snapshot_merge(spark, store, mk(spark, [("a", {}, 3.0, 7.0)]), racing_combine)
    # the sneaked commit survives; the loser's contribution is absent
    rows = {(r["name"], r["value"]) for r in snapshot_read(spark, store).collect()}
    assert rows == {("a", 15.0)}

    with pytest.raises(ValueError, match="NULL metric names"):
        snapshot_merge(spark, store, mk(spark, [(None, {}, 9.0, 9.0)]), additive)


def test_time_chunked_layout_prunes_ts_slices(spark, tmp_path):
    """Name-major clustering gives each multi-series file a near-full-span
    ts range — a time-slice read over many series prunes nothing. The
    time-chunked layout (time_chunk_s) must (a) plan strictly fewer files
    for the same slice, (b) return identical rows, and (c) survive the
    maintenance paths: appends and compaction inherit the pinned layout
    property without restating it."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        _StoreFS,
        snapshot_properties,
    )

    rows = [
        (f"m{i % 3}", {"s": str(i)}, float(t), float(i))
        for i in range(12)
        for t in range(0, 1000, 50)
    ]
    flat = f"file://{tmp_path}/flat"
    chunked = f"file://{tmp_path}/chunked"
    snapshot_write(spark, flat, mk(spark, rows), mode="overwrite")
    snapshot_write(
        spark, chunked, mk(spark, rows), mode="overwrite", time_chunk_s=200.0
    )

    def planned(store, **kw):
        v, m = manifest.resolve_tip(store)
        lo, hi = kw["ts_range"]
        return len([f for f in m["files"] if manifest.ts_overlaps(f, lo, hi)]), len(
            m["files"]
        )

    slice_kw = {"ts_range": (0.0, 99.0)}
    # flat: every file's ts span covers the slice — nothing prunes.
    # chunked: the slice touches exactly the chunk-0 files.
    n_flat, total_flat = planned(flat, **slice_kw)
    n_chunked, total_chunked = planned(chunked, **slice_kw)
    assert n_flat == total_flat
    assert total_chunked >= 5 and n_chunked * 5 <= total_chunked, (
        n_chunked,
        total_chunked,
    )
    key = lambda r: (r["name"], r["labels"]["s"], r["ts"], r["value"])
    got = sorted(map(key, snapshot_read(spark, chunked, **slice_kw).collect()))
    want = sorted(map(key, snapshot_read(spark, flat, **slice_kw).collect()))
    assert got == want and len(got) > 0
    assert snapshot_properties(spark, chunked)["time_chunk_s"] == 200.0

    # append WITHOUT restating the width: property and layout must persist
    late = [("m0", {"s": "x"}, 950.0, 9.0)]
    snapshot_write(spark, chunked, mk(spark, late))
    assert snapshot_properties(spark, chunked)["time_chunk_s"] == 200.0
    # compaction keeps the layout: early slice still prunes the late files
    v = snapshot_compact(spark, chunked, target_file_bytes=10**9)
    if v is not None:  # everything rewritten into chunked files again
        n_after = planned(chunked, **slice_kw)[0]
        total = len(manifest.read_manifest(chunked, v)["files"])
        assert n_after < total, (n_after, total)
    got2 = sorted(map(key, snapshot_read(spark, chunked, **slice_kw).collect()))
    assert got2 == want

    # an EMPTY append must commit as a no-op file set on BOTH layouts:
    # chunked partitionBy writes zero data files (only _SUCCESS), so the
    # stats scan has nothing to read; flat writes one schema-bearing
    # empty file that yields zero stat groups. Neither may crash, and
    # neither may leave an orphaned tx dir behind (empty streaming
    # micro-batches would accumulate them until vacuum).
    def tx_dirs(store):
        fs = _StoreFS(spark, store)
        data = f"{store}/data"
        if not fs.exists(data):
            return set()
        return {
            str(s.getPath().getName()) for s in fs.fs.listStatus(fs.jpath(data))
        }

    for store in (chunked, flat):
        before = tx_dirs(store)
        v_empty = snapshot_write(spark, store, mk(spark, []))
        assert v_empty is not None
        assert tx_dirs(store) == before, store
    got3 = sorted(map(key, snapshot_read(spark, chunked, **slice_kw).collect()))
    assert got3 == want

    with pytest.raises(ValueError):
        snapshot_write(spark, f"file://{tmp_path}/bad", mk(spark, rows), time_chunk_s=0.0)


# ---------------------------------------------------------------------------
# Append schema gate + additive evolution (merge_schema)
# ---------------------------------------------------------------------------


def test_append_type_conflict_rejected_store_stays_readable(spark, tmp_path):
    """A type-conflicting append must be REJECTED before any data file is
    written — committed, it would fail every later read of the store."""
    root = f"file://{tmp_path}/s"
    base = spark.createDataFrame(
        [("m", {"x": "1"}, 1.0, 2.0)],
        "name string, labels map<string,string>, ts double, value double",
    )
    snapshot_write(spark, root, base, mode="overwrite")
    bad = spark.createDataFrame(
        [("m", {"x": "2"}, 3.0, "oops")],
        "name string, labels map<string,string>, ts double, value string",
    )
    with pytest.raises(ValueError, match="type conflict"):
        snapshot_write(spark, root, bad)
    out = snapshot_read(spark, root)  # still readable, still v1
    assert out.count() == 1
    import os

    assert not os.listdir(f"{tmp_path}/s/data") == []  # no orphan tx dirs
    assert snapshot_version(spark, root) == 1


def test_append_gate_ignores_nested_nullability(spark, tmp_path):
    """labels built with F.create_map over literals carry
    valueContainsNull=False; the store's recorded map (as parquet reads it
    back) is nullable-valued. The gate compares type SHAPE
    (simpleString), so the append must pass."""
    root = f"file://{tmp_path}/s"
    snapshot_write(
        spark, root, mk(spark, [("m", {"x": "1"}, 1.0, 2.0)]), mode="overwrite"
    )
    recorded = manifest.read_manifest(root, 1)["schema"]
    labels = {f["name"]: f["type"] for f in recorded["fields"]}["labels"]
    assert labels["valueContainsNull"] is True
    updates = spark.range(1).select(
        F.lit("m").alias("name"),
        F.create_map(F.lit("x"), F.lit("2")).alias("labels"),
        F.lit(3.0).alias("ts"),
        F.lit(4.0).alias("value"),
    )
    assert updates.schema["labels"].dataType.valueContainsNull is False
    assert snapshot_write(spark, root, updates) == 2
    assert snapshot_read(spark, root).count() == 2


def test_append_column_set_mismatch_strict_vs_merge(spark, tmp_path):
    root = f"file://{tmp_path}/s"
    base = spark.createDataFrame(
        [("m", {"x": "1"}, 1.0, 2.0)],
        "name string, labels map<string,string>, ts double, value double",
    )
    snapshot_write(spark, root, base, mode="overwrite")
    wider = spark.createDataFrame(
        [(9, "m", {"x": "2"}, 3.0, 4.0)],
        "extra bigint, name string, labels map<string,string>, "
        "ts double, value double",
    )
    with pytest.raises(ValueError, match="merge_schema"):
        snapshot_write(spark, root, wider)  # strict: rejected
    v = snapshot_write(spark, root, wider, merge_schema=True)
    assert v == 2
    out = snapshot_read(spark, root)
    # recorded field order stays canonical: base fields first, new last
    assert out.columns == ["name", "labels", "ts", "value", "extra"]
    rows = {r["ts"]: r["extra"] for r in out.collect()}
    assert rows == {1.0: None, 3.0: 9}  # old file null-fills
    # reads are DETERMINISTIC (schema pinned from the manifest, never
    # sampled from a footer): repeated reads agree
    assert snapshot_read(spark, root).columns == out.columns
    # a narrower append (missing a column) also needs merge_schema and
    # null-fills the new file
    snapshot_write(
        spark,
        root,
        spark.createDataFrame(
            [("m", {"x": "3"}, 5.0, 6.0)],
            "name string, labels map<string,string>, ts double, value double",
        ),
        merge_schema=True,
    )
    rows = {r["ts"]: r["extra"] for r in snapshot_read(spark, root).collect()}
    assert rows[5.0] is None


def test_compaction_of_evolved_store_is_lossless(spark, tmp_path):
    root = f"file://{tmp_path}/s"
    base = spark.createDataFrame(
        [("m", {"x": str(k)}, float(k), 2.0) for k in range(5)],
        "name string, labels map<string,string>, ts double, value double",
    )
    snapshot_write(spark, root, base, mode="overwrite")
    wider = spark.createDataFrame(
        [("m", {"x": "w"}, 100.0, 4.0, 7)],
        "name string, labels map<string,string>, ts double, value double, "
        "extra int",
    )
    snapshot_write(spark, root, wider, merge_schema=True)
    before = sorted(
        (r["ts"], r["value"], r["extra"])
        for r in snapshot_read(spark, root).collect()
    )
    assert snapshot_compact(spark, root, target_file_bytes=2**30) is not None
    after = sorted(
        (r["ts"], r["value"], r["extra"])
        for r in snapshot_read(spark, root).collect()
    )
    assert before == after


def test_maintenance_on_evolved_store_preserves_columns(spark, tmp_path):
    """Upsert and expire on a schema-evolved store must read base files
    through the PINNED recorded schema: an upsert whose updates dropped
    the evolved column is rejected (it would erase the column from every
    rewritten row), and an expire's straddle rewrite keeps the column."""
    root = f"file://{tmp_path}/s"
    base = spark.createDataFrame(
        [("m", {"x": str(k)}, float(k), 2.0) for k in range(4)],
        "name string, labels map<string,string>, ts double, value double",
    )
    snapshot_write(spark, root, base, mode="overwrite")
    wider = spark.createDataFrame(
        [("m", {"x": "w"}, 10.0, 4.0, 7)],
        "name string, labels map<string,string>, ts double, value double, "
        "extra int",
    )
    snapshot_write(spark, root, wider, merge_schema=True)
    narrow_updates = spark.createDataFrame(
        [("m", {"x": "0"}, 0.0, 99.0)],
        "name string, labels map<string,string>, ts double, value double",
    )
    with pytest.raises(ValueError, match="missing"):
        snapshot_upsert(spark, root, narrow_updates)
    full_updates = spark.createDataFrame(
        [("m", {"x": "0"}, 0.0, 99.0, None)],
        "name string, labels map<string,string>, ts double, value double, "
        "extra int",
    )
    snapshot_upsert(spark, root, full_updates)
    rows = {r["ts"]: (r["value"], r["extra"]) for r in snapshot_read(spark, root).collect()}
    assert rows[0.0] == (99.0, None) and rows[10.0] == (4.0, 7)
    # expire below ts=2: the straddle rewrite must keep the evolved column
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_expire,
    )

    snapshot_expire(spark, root, min_ts=2.0)
    out = snapshot_read(spark, root)
    assert out.columns == ["name", "labels", "ts", "value", "extra"]
    rows = {r["ts"]: r["extra"] for r in out.collect()}
    assert 0.0 not in rows and rows[10.0] == 7


def test_snapshot_stats_manifest_fast_path(spark, tmp_path):
    """snapshot_stats answers exactly from manifest arithmetic: the
    unfiltered query opens ZERO data files (proven by deleting them),
    filtered queries match brute-force aggregates and scan only the
    predicate's boundary files."""
    import glob
    import os

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_stats,
    )

    store = f"file://{tmp_path}/snapstats"
    for i, nm in enumerate(["aa", "bb", "cc"]):
        rows = [(nm, {}, 100.0 * i + j, float(j)) for j in range(5)]
        snapshot_write(
            spark, store, mk(spark, rows),
            mode="overwrite" if i == 0 else "append",
        )
    full = snapshot_read(spark, store).agg(
        F.count(F.lit(1)), F.min("name"), F.max("name"), F.min("ts"), F.max("ts")
    ).first()

    # filtered: names (single-name files -> contained, zero scans)
    st = snapshot_stats(spark, store, names=["bb"])
    assert (st["n_rows"], st["n_files_scanned"]) == (5, 0)
    assert (st["min_name"], st["max_name"]) == ("bb", "bb")
    assert (st["min_ts"], st["max_ts"]) == (100.0, 104.0)

    # filtered: ts_range crossing a file boundary -> boundary scan, exact
    st = snapshot_stats(spark, store, ts_range=(2.0, 101.0))
    brute = (
        snapshot_read(spark, store)
        .filter(F.col("ts").between(2.0, 101.0))
        .agg(F.count(F.lit(1)), F.min("ts"), F.max("ts"))
        .first()
    )
    assert st["n_rows"] == brute[0] == 5
    assert (st["min_ts"], st["max_ts"]) == (brute[1], brute[2])
    assert st["n_files_scanned"] >= 1

    # unfiltered: manifest-only — delete every data file and it still answers
    for f in glob.glob(f"{tmp_path}/snapstats/data/**/*.parquet", recursive=True):
        os.unlink(f)
    st = snapshot_stats(spark, store)
    assert (st["n_rows"], st["n_files"], st["n_files_scanned"]) == (15, 3, 0)
    assert (st["min_name"], st["max_name"]) == (full[1], full[2])
    assert (st["min_ts"], st["max_ts"]) == (full[3], full[4])
    assert st["n_rows"] == full[0]


def test_snapshot_update_predicate(spark, tmp_path):
    """Predicate UPDATE: matching rows transform, everything else is
    byte-identical; disjoint files carry BY REFERENCE (same manifest
    path objects — no rewrite); time travel serves pre-update values;
    guards: unbounded update, empty/unknown-column assignments, and an
    assignment that NULLs a key are all refused (the last by the
    no-NULL-keys commit gate, store left untouched)."""
    import json

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_update,
    )

    store_dir = f"{tmp_path}/snapupd"
    store = f"file://{store_dir}"
    for i, nm in enumerate(["aa", "bb"]):
        rows = [(nm, {}, 100.0 * i + j, float(j)) for j in range(4)]
        snapshot_write(
            spark, store, mk(spark, rows),
            mode="overwrite" if i == 0 else "append",
        )
    with open(f"{store_dir}/_snapshots/v{2:010d}.json") as fh:
        files_before = {f["path"] for f in json.load(fh)["files"]}

    v = snapshot_update(
        spark, store, {"value": "value + 100"}, names=["bb"],
        ts_range=(100.0, 101.0),
    )
    assert v == 3
    got = sorted(
        (r["name"], r["ts"], r["value"])
        for r in snapshot_read(spark, store).collect()
    )
    assert got == [
        ("aa", 0.0, 0.0), ("aa", 1.0, 1.0), ("aa", 2.0, 2.0), ("aa", 3.0, 3.0),
        ("bb", 100.0, 100.0), ("bb", 101.0, 101.0),
        ("bb", 102.0, 2.0), ("bb", 103.0, 3.0),
    ]
    # the aa file never matched: carried by reference, not rewritten
    with open(f"{store_dir}/_snapshots/v{3:010d}.json") as fh:
        m3 = json.load(fh)
    assert m3["operation"] == "update"
    carried = {f["path"] for f in m3["files"]} & files_before
    assert carried, "disjoint file must carry by reference"
    # time travel: pre-update values intact
    old = snapshot_read(spark, store, version=2)
    assert old.filter(
        (F.col("name") == "bb") & (F.col("ts") == 100.0)
    ).first()["value"] == 0.0

    # no file intersects → no-op None
    assert snapshot_update(spark, store, {"value": "0.0"}, names=["zz"]) is None
    with pytest.raises(ValueError, match="unbounded|explicit"):
        snapshot_update(spark, store, {"value": "0.0"})
    with pytest.raises(ValueError, match="at least one assignment"):
        snapshot_update(spark, store, {}, names=["bb"])
    with pytest.raises(ValueError, match="not in the store schema"):
        snapshot_update(spark, store, {"nope": "1"}, names=["bb"])
    # assignment that NULLs a key: the commit gate refuses, store untouched
    with pytest.raises(ValueError, match="NULL name"):
        snapshot_update(
            spark, store, {"name": "CAST(NULL AS STRING)"}, names=["bb"]
        )
    assert snapshot_version(spark, store) == 3
    assert snapshot_read(spark, store).count() == 8


def test_snapshot_delete_foreign_file_null_keys_survive(spark, tmp_path):
    """The zero-scan contained drop requires the writer's null-free
    attestation: a FOREIGN file (hand-registered manifest entry, no
    `null_free` flag) whose min/max range is fully covered by the delete
    predicate may still hide NULL-key rows — min/max stats are
    null-blind. Such a file must route through the scan-and-rewrite
    path, where the null-safe negated filter KEEPS the NULL-key row the
    predicate can never match — and the store's no-NULL-keys commit gate
    then refuses the rewrite, so the delete RAISES with an actionable
    message and the store is left untouched (vs the pre-fix behavior:
    zero-scan drop silently deleting the NULL row). Also pins that
    writer-produced entries DO carry the attestation (the zero-scan path
    stays live for them — proven separately by
    test_snapshot_delete_predicate's bytes-removed check)."""
    import glob
    import json
    import os

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_delete,
    )

    store_dir = f"{tmp_path}/snapforeign"
    store = f"file://{store_dir}"
    snapshot_write(
        spark, store, mk(spark, [("zz", {}, 9.0, 1.0)]), mode="overwrite"
    )
    with open(f"{store_dir}/_snapshots/v{1:010d}.json") as fh:
        m1 = json.load(fh)
    assert all(f.get("null_free") for f in m1["files"])  # writer attests

    # foreign file: an 'a' row AND a NULL-name row, written OUTSIDE the
    # store writer (which would reject the NULL key), then registered by
    # a hand-crafted manifest entry with correct-but-null-blind stats
    foreign_dir = f"{store_dir}/data/tx_foreign"
    mk(spark, [("a", {}, 1.0, 1.0), (None, {}, 2.0, 2.0)]).coalesce(
        1
    ).write.parquet(foreign_dir)
    [fpath] = glob.glob(f"{foreign_dir}/*.parquet")
    entry = {
        "path": f"file://{fpath}",
        "n_rows": 2,
        "n_bytes": os.path.getsize(fpath),
        "min_name": "a",
        "max_name": "a",
        "min_ts": 1.0,
        "max_ts": 2.0,
        # no null_free: this is what external tooling would produce
    }
    m2 = dict(m1)
    m2.update(
        version=2, parent=1, operation="append", files=m1["files"] + [entry]
    )
    with open(f"{store_dir}/_snapshots/v{2:010d}.json", "x") as fh:
        json.dump(m2, fh)

    # delete everything named 'a': range fully contains the foreign file,
    # but without the attestation it routes to the scan-and-rewrite path,
    # the null-safe filter keeps the NULL row, and the commit gate refuses
    with pytest.raises(ValueError, match="snapshot_delete refused.*NULL"):
        snapshot_delete(spark, store, names=["a"])
    # nothing committed: tip unchanged, every row (incl. NULL-key) intact
    assert snapshot_version(spark, store) == 2
    rows = sorted(
        ((r["name"], r["ts"]) for r in snapshot_read(spark, store).collect()),
        key=lambda t: (t[0] is not None, t[0] or "", t[1]),
    )
    assert rows == [(None, 2.0), ("a", 1.0), ("zz", 9.0)]


def test_snapshot_delete_predicate(spark, tmp_path):
    """Predicate DELETE: name-contained files drop by manifest arithmetic
    alone (proven with the data file's bytes removed), straddling ts
    ranges rewrite with the negated filter, disjoint files carry by
    reference, time travel still serves pre-delete rows, and an
    unbounded delete refuses."""
    import glob
    import os

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_delete,
    )

    store = f"file://{tmp_path}/snapdel"
    for i, nm in enumerate(["aa", "bb", "cc"]):
        rows = [(nm, {}, 100.0 * i + j, float(j)) for j in range(5)]
        snapshot_write(
            spark, store, mk(spark, rows),
            mode="overwrite" if i == 0 else "append",
        )
    with pytest.raises(ValueError, match="unbounded|explicit"):
        snapshot_delete(spark, store)

    # name delete with time travel intact
    v = snapshot_delete(spark, store, names=["bb"])
    assert v is not None
    got = sorted(
        r["name"]
        for r in snapshot_read(spark, store).select("name").distinct().collect()
    )
    assert got == ["aa", "cc"]
    old_v = snapshot_read(spark, store, version=3)
    assert old_v.filter(F.col("name") == "bb").count() == 5  # history intact

    # ts-range delete straddling cc's file: rewrite filtered, exact rows
    assert snapshot_delete(spark, store, ts_range=(201.0, 202.0)) is not None
    rows = sorted(
        (r["name"], r["ts"]) for r in snapshot_read(spark, store).collect()
    )
    assert [(n, t) for n, t in rows if n == "cc"] == [
        ("cc", 200.0), ("cc", 203.0), ("cc", 204.0)
    ]
    assert snapshot_delete(spark, store, names=["zz"]) is None
    hist = {r["operation"] for r in snapshot_history(spark, store).collect()}
    assert "delete" in hist

    # zero-scan proof on a fresh store: remove the contained file's BYTES
    # first — the delete must still commit (manifest arithmetic only)
    store2 = f"file://{tmp_path}/snapdel2"
    for i, nm in enumerate(["dd", "ee"]):
        rows = [(nm, {}, 10.0 * i + j, float(j)) for j in range(3)]
        snapshot_write(
            spark, store2, mk(spark, rows),
            mode="overwrite" if i == 0 else "append",
        )
    ee_files = [
        p
        for p in glob.glob(f"{tmp_path}/snapdel2/data/**/*.parquet", recursive=True)
        if spark.read.parquet(p).filter(F.col("name") != "ee").count() == 0
    ]
    assert ee_files, "fixture must produce an ee-only file"
    for p in ee_files:
        os.unlink(p)
    assert snapshot_delete(spark, store2, names=["ee"]) is not None
    assert sorted(
        r["name"]
        for r in snapshot_read(spark, store2).select("name").distinct().collect()
    ) == ["dd"]


def test_zorder_content_pruning_and_history(spark, tmp_path):
    """Z-order rewrite: identical content, BOTH-dimension manifest
    pruning becomes effective (a name-major layout cannot prune on ts),
    time travel still serves the pre-rewrite layout, chunked stores
    refuse."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_zorder,
    )

    store = f"file://{tmp_path}/zsnap"
    # 32 names x 64 ts arriving as 8 name-batched commits — the
    # name-major layout: every file covers few names but the full ts span
    rows = [
        (f"m{n:02d}", {}, float(t), float(n * 64 + t))
        for n in range(32)
        for t in range(64)
    ]
    for g in range(8):
        batch = [r for r in rows if int(r[0][1:]) // 4 == g]
        snapshot_write(
            spark, store, mk(spark, batch),
            mode="overwrite" if g == 0 else "append",
        )
    v1 = snapshot_version(spark, store)
    before = manifest.read_manifest(store, v1)["files"]
    assert len(before) > 4  # pruning needs something to prune

    def pruned(files, names=None, ts=None):
        out = files
        if names is not None:
            out = [f for f in out if manifest.name_overlaps(f, names)]
        if ts is not None:
            out = [f for f in out if manifest.ts_overlaps(f, *ts)]
        return len(out)

    # name-major baseline: ts predicate prunes nothing
    assert pruned(before, ts=(10.0, 12.0)) == len(before)

    v2 = snapshot_zorder(spark, store, bits=4, target_file_bytes=2_000)
    assert v2 == v1 + 1
    after = manifest.read_manifest(store, v2)["files"]
    assert len(after) > 4

    # content identical
    a = sorted(
        (r["name"], r["ts"], r["value"])
        for r in snapshot_read(spark, store).collect()
    )
    assert a == sorted((f"m{n:02d}", float(t), float(n * 64 + t))
                       for n in range(32) for t in range(64))

    # z-layout: a ts slice now prunes files, and a combined predicate
    # prunes to a small fraction
    assert pruned(after, ts=(10.0, 12.0)) < len(after)
    combined = pruned(after, names=["m03"], ts=(10.0, 12.0))
    assert combined < len(after) / 2
    # pruned reads stay exact
    assert snapshot_read(
        spark, store, names=["m03"], ts_range=(10.0, 12.0)
    ).count() == 3

    # time travel: v1 still serves the old layout
    assert snapshot_read(spark, store, version=v1).count() == 32 * 64

    # chunked stores refuse
    chunked = f"file://{tmp_path}/chunked"
    snapshot_write(
        spark, chunked, mk(spark, rows[:64]), mode="overwrite",
        time_chunk_s=16.0,
    )
    with pytest.raises(ValueError, match="time-chunked"):
        snapshot_zorder(spark, chunked)
    # empty path: no tip -> None
    assert snapshot_zorder(spark, f"file://{tmp_path}/nothing") is None


def test_restore_rolls_back_as_forward_commit(spark, tmp_path):
    """RESTORE: old version becomes the tip via manifest arithmetic only —
    content equals the restored version, rolled-over history stays
    travelable, appends continue from the restored state, and vacuumed /
    unknown versions refuse."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_restore,
    )

    store = f"file://{tmp_path}/rsnap"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    snapshot_write(spark, store, mk(spark, [("b", {}, 2.0, 2.0)]))
    snapshot_write(spark, store, mk(spark, [("c", {}, 3.0, 3.0)]))

    v4 = snapshot_restore(spark, store, 1)
    assert v4 == 4
    got = sorted(r["name"] for r in snapshot_read(spark, store).collect())
    assert got == ["a"]  # tip content == v1
    # rolled-back-over versions still serve
    assert snapshot_read(spark, store, version=3).count() == 3
    # history records the verb
    ops = {r["version"]: r["operation"]
           for r in snapshot_history(spark, store).collect()}
    assert ops[4] == "restore"

    # appends continue from the restored state
    snapshot_write(spark, store, mk(spark, [("d", {}, 4.0, 4.0)]))
    assert sorted(r["name"] for r in snapshot_read(spark, store).collect()) == ["a", "d"]

    # restoring the tip is a no-op (no new commit)
    assert snapshot_restore(spark, store, 5) == 5
    assert snapshot_version(spark, store) == 5

    # unknown version refuses
    with pytest.raises(ValueError, match="cannot restore"):
        snapshot_restore(spark, store, 99)

    # vacuumed version refuses (its manifest is reclaimed)
    snapshot_vacuum(spark, store, keep_last=1, min_age_s=0.0)
    with pytest.raises(ValueError, match="cannot restore"):
        snapshot_restore(spark, store, 2)


def test_shallow_clone_zero_copy_divergence_and_vacuum_safety(spark, tmp_path):
    """SHALLOW CLONE: zero-copy fork of a (possibly historical) version;
    clone writes diverge without touching the source; the clone's vacuum
    never deletes source files; compaction materializes the clone away
    from source references; cloning onto an existing store refuses."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_clone,
        snapshot_compact,
    )

    src = f"file://{tmp_path}/src"
    snapshot_write(spark, src, mk(spark, [("a", {}, float(t), 1.0) for t in range(4)]),
                   mode="overwrite")
    snapshot_write(spark, src, mk(spark, [("b", {}, 1.0, 2.0)]))

    dst = f"file://{tmp_path}/dst"
    assert snapshot_clone(spark, src, dst) == 1
    # zero-copy: the clone references the SOURCE's files
    cm = manifest.read_manifest(dst, 1)
    assert all(f"{tmp_path}/src/" in f["path"] for f in cm["files"])
    assert sorted(r["name"] for r in snapshot_read(spark, dst).collect()) == [
        "a", "a", "a", "a", "b"]

    # divergence: clone append is invisible to the source
    snapshot_write(spark, dst, mk(spark, [("c", {}, 9.0, 3.0)]))
    assert snapshot_read(spark, dst).count() == 6
    assert snapshot_read(spark, src).count() == 5

    # the clone's vacuum reclaims nothing it doesn't own — source intact
    snapshot_vacuum(spark, dst, keep_last=1, min_age_s=0.0)
    assert snapshot_read(spark, src).count() == 5
    assert snapshot_read(spark, dst).count() == 6

    # compaction detaches: all clone files become clone-owned
    v = snapshot_compact(spark, dst, target_file_bytes=10**9)
    assert v is not None
    after = manifest.read_manifest(dst, v)
    assert all(f"{tmp_path}/dst/" in f["path"] for f in after["files"])
    assert snapshot_read(spark, dst).count() == 6

    # historical clone: version 1 of the source (before 'b')
    dst2 = f"file://{tmp_path}/dst2"
    snapshot_clone(spark, src, dst2, version=1)
    assert sorted(set(r["name"] for r in snapshot_read(spark, dst2).collect())) == ["a"]

    # refuse cloning over a committed store
    with pytest.raises(ValueError, match="refuses"):
        snapshot_clone(spark, src, dst)


def test_maintenance_verbs_race_raise_not_overwrite(spark, tmp_path, monkeypatch):
    """zorder / restore / compact must RAISE when the tip moves between
    prepare and commit — never silently drop the interleaved commit.
    The race is injected by advancing the tip inside the manifest
    module's CAS target resolution (the same window the cross-process
    test exercises)."""
    import prometheus_parquet_server_spark.sources.snapshot_store as ss

    store = f"file://{tmp_path}/race"
    snapshot_write(spark, store, mk(spark, [("a", {}, 1.0, 1.0)]), mode="overwrite")
    snapshot_write(spark, store, mk(spark, [("b", {}, 2.0, 2.0)]))

    real_target = manifest.cas_target
    racing = {"armed": False}

    def racing_target(root, parent):
        if racing["armed"]:
            # another writer lands an append between prepare and commit;
            # disarm first — the inner write resolves its own target
            racing["armed"] = False
            ss.snapshot_write(
                spark, store, mk(spark, [("z", {}, 9.0, 9.0)]), mode="append"
            )
        return real_target(root, parent)

    for verb, call in [
        ("zorder", lambda: ss.snapshot_zorder(spark, store, bits=2)),
        ("restore", lambda: ss.snapshot_restore(spark, store, 1)),
        ("compact", lambda: ss.snapshot_compact(
            spark, store, target_file_bytes=10**9)),
    ]:
        monkeypatch.setattr(manifest, "cas_target", racing_target)
        racing["armed"] = True
        try:
            with pytest.raises(ConcurrentWriteError):
                call()
        finally:
            monkeypatch.setattr(manifest, "cas_target", real_target)
        # the interleaved append survived; the store still reads
        assert snapshot_read(spark, store).count() >= 3, verb


def test_vacuum_never_gaps_slots_between_kept_versions(spark, tmp_path):
    """A torn junk manifest BETWEEN two kept versions must survive
    vacuum — slot numbers are never reused — and the store keeps
    resolving the true tip and numbering past the junk."""
    import prometheus_parquet_server_spark.sources.snapshot_store as ss

    store = f"file://{tmp_path}/gap"
    for i in range(3):
        snapshot_write(
            spark, store, mk(spark, [(chr(97 + i), {}, float(i), 1.0)]),
            mode="overwrite" if i == 0 else "append",
        )  # v1, v2, v3
    fs = ss._StoreFS(spark, store)
    # torn junk at v4 (raw write, no temp+link), then a real v5 commit
    stream = fs.fs.create(fs.jpath(manifest.manifest_path(store, 4)), True)
    stream.write(bytearray(b"{torn"))
    stream.close()
    v5 = snapshot_write(spark, store, mk(spark, [("e", {}, 5.0, 1.0)]))
    assert v5 == 5

    snapshot_vacuum(spark, store, keep_last=2, min_age_s=0.0)
    # kept = {3, 5}; junk v4 must survive; v1/v2 go
    assert fs.exists(manifest.manifest_path(store, 4))
    assert not fs.exists(manifest.manifest_path(store, 1))
    assert not fs.exists(manifest.manifest_path(store, 2))
    assert manifest.resolve_tip(store)[0] == 5
    # and a writer parented at the resolved tip lands at 6, not a fork
    assert snapshot_write(spark, store, mk(spark, [("f", {}, 6.0, 1.0)])) == 6


def test_snapshot_diff_multiset_and_file_cancellation(spark, tmp_path):
    """snapshot_diff: appends report inserts only; a predicate delete
    reports deletes only; an update reports its delete+insert pair; a
    pure compaction diffs EMPTY (rows cancel even though every file path
    changed); carried files never scan (proven by deleting a carried
    file's bytes); duplicate rows diff with multiplicity."""
    import glob
    import os

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_compact,
        snapshot_delete,
        snapshot_diff,
        snapshot_update,
    )

    store_dir = f"{tmp_path}/snapdiff"
    store = f"file://{store_dir}"
    snapshot_write(
        spark, store,
        mk(spark, [("aa", {}, 1.0, 1.0), ("aa", {}, 1.0, 1.0)]),  # dup row ×2
        mode="overwrite",
    )
    snapshot_write(spark, store, mk(spark, [("bb", {}, 2.0, 5.0)]))

    # v1 → v2: the appended row, insert, exactly once
    d12 = [(r["name"], r["ts"], r["value"], r["_change"])
           for r in snapshot_diff(spark, store, 1, 2).collect()]
    assert d12 == [("bb", 2.0, 5.0, "insert")]

    # v2 → v3 (delete bb): one delete
    snapshot_delete(spark, store, names=["bb"])
    d23 = [(r["name"], r["_change"])
           for r in snapshot_diff(spark, store, 2, 3).collect()]
    assert d23 == [("bb", "delete")]

    # v3 → v4 (update aa's value): delete+insert PAIRS with multiplicity 2
    snapshot_update(spark, store, {"value": "value + 9"}, names=["aa"])
    d34 = sorted(
        (r["value"], r["_change"])
        for r in snapshot_diff(spark, store, 3, 4).collect()
    )
    assert d34 == [(1.0, "delete"), (1.0, "delete"),
                   (10.0, "insert"), (10.0, "insert")]

    # reverse direction swaps the labels
    d43 = sorted(
        (r["value"], r["_change"])
        for r in snapshot_diff(spark, store, 4, 3).collect()
    )
    assert d43 == [(1.0, "insert"), (1.0, "insert"),
                   (10.0, "delete"), (10.0, "delete")]

    # compaction: every file path may change, rows cancel to EMPTY
    if snapshot_compact(spark, store) is not None:
        assert snapshot_diff(spark, store, 4, 5).count() == 0

    # carried-file proof: identical manifests diff empty WITHOUT reading
    # — delete every data file's bytes; the v-to-v diff must still answer
    for f in glob.glob(f"{store_dir}/data/**/*.parquet", recursive=True):
        os.unlink(f)
    assert snapshot_diff(spark, store, 4, 4).count() == 0


def test_snapshot_diff_across_schema_evolution_reverse_exact(spark, tmp_path):
    """Reverse diff across an additive evolution must see the evolved
    column (reads use the NEWER version's superset schema): an update
    confined to the evolved column diffs non-empty in BOTH directions,
    as exact label-swapped mirrors. Also pins the working-column clash
    guard."""
    from pyspark.sql import functions as F  # noqa: F811

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_diff,
        snapshot_update,
    )

    store = f"file://{tmp_path}/snapdiffevo"
    snapshot_write(
        spark, store, mk(spark, [("aa", {}, 1.0, 1.0)]), mode="overwrite"
    )
    wide = spark.createDataFrame(
        [("bb", {}, 2.0, 2.0, "note-1")],
        "name string, labels map<string,string>, ts double, value double, "
        "note string",
    )
    snapshot_write(spark, store, wide, mode="append", merge_schema=True)
    # v3: update the EVOLVED column only
    snapshot_update(spark, store, {"note": "'note-2'"}, names=["bb"])

    fwd = sorted(
        (r["name"], r["note"], r["_change"])
        for r in snapshot_diff(spark, store, 2, 3).collect()
    )
    rev = sorted(
        (r["name"], r["note"], r["_change"])
        for r in snapshot_diff(spark, store, 3, 2).collect()
    )
    assert fwd == [("bb", "note-1", "delete"), ("bb", "note-2", "insert")]
    assert rev == [("bb", "note-1", "insert"), ("bb", "note-2", "delete")]

    # working-column clash raises instead of silently clobbering
    clash = spark.createDataFrame(
        [("cc", {}, 3.0, 3.0, "x")],
        "name string, labels map<string,string>, ts double, value double, "
        "_change string",
    )
    store2 = f"file://{tmp_path}/snapdiffclash"
    snapshot_write(spark, store2, clash, mode="overwrite")
    snapshot_write(
        spark, store2,
        clash.withColumn("ts", F.lit(4.0)),
        mode="append",
    )
    with pytest.raises(ValueError, match="clash"):
        snapshot_diff(spark, store2, 1, 2)
