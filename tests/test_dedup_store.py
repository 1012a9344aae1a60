"""Cross-batch exact dedup over the snapshot store (pipeline/dedup_store).

Contract under test: N sequential ``dedup_ingest`` batches produce exactly
the first-occurrence survivors a ONE-SHOT dedup of the concatenated corpus
would (ordered by batch, then id), the seen-store equals the union of the
emitted survivors' fingerprints, replays are no-ops, and the streaming
wrapper drains a corpus batch-by-batch with pure-append commits.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from prometheus_parquet_server_spark.pipeline.dedup_store import (
    dedup_ingest,
    stream_dedup_ingest,
)
from prometheus_parquet_server_spark.pipeline.text import fingerprint
from prometheus_parquet_server_spark.sources.snapshot_store import (
    snapshot_read,
    snapshot_version,
)

DOCS_SCHEMA = "doc_id long, text string"


def docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_sequential_batches_equal_one_shot_first_occurrence(spark, tmp_path):
    store = f"file://{tmp_path}/seen"
    batches = [
        docs(spark, [(1, "alpha beta"), (2, "Alpha  BETA!"), (3, "gamma")]),
        docs(spark, [(4, "alpha beta"), (5, "delta"), (6, "delta")]),
        docs(spark, [(7, "gamma"), (8, "epsilon"), (9, "Delta?")]),
    ]
    emitted = []
    for b in batches:
        out = dedup_ingest(spark, store, b)
        emitted.extend((r["doc_id"], r["text"]) for r in out.collect())
        out.unpersist()

    # one-shot equivalent: first occurrence by (batch order, doc_id) —
    # doc_ids are globally increasing across batches here, so min(doc_id)
    all_docs = batches[0].unionByName(batches[1]).unionByName(batches[2])
    expect = (
        all_docs.withColumn("_fp", fingerprint(F.col("text")))
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert sorted(i for i, _ in emitted) == sorted(
        r["doc_id"] for r in expect.collect()
    ) == [1, 3, 5, 8]

    # the store holds exactly the emitted fingerprints, owner = first doc
    seen = {
        (r["name"], r["doc_id"]) for r in snapshot_read(spark, store).collect()
    }
    assert {d for _, d in seen} == {1, 3, 5, 8}
    assert len(seen) == 4


def test_replayed_batch_emits_nothing_and_commits_nothing(spark, tmp_path):
    store = f"file://{tmp_path}/seen"
    b = docs(spark, [(1, "a b c"), (2, "d e f")])
    first = dedup_ingest(spark, store, b)
    assert first.count() == 2
    v1 = snapshot_version(spark, store)

    replay = dedup_ingest(spark, store, b)
    assert replay.count() == 0
    # all-duplicates batch: no commit happened at all
    assert snapshot_version(spark, store) == v1


def test_commits_are_pure_appends_never_rewrites(spark, tmp_path):
    """The scale contract snapshot_merge could not give: every ingest's
    manifest carries ALL prior data files BY REFERENCE (no file of the
    previous manifest disappears or is rewritten) and adds only new
    files — commit cost O(new fingerprints) regardless of store size."""
    from prometheus_parquet_server_spark.sources.manifest import resolve_tip

    store = f"file://{tmp_path}/seen"
    dedup_ingest(spark, store, docs(spark, [(1, "one"), (2, "two")]))
    v1, m1 = resolve_tip(store)
    files_v1 = {f["path"] for f in m1["files"]}

    dedup_ingest(spark, store, docs(spark, [(3, "two"), (4, "three")]))
    v2, m2 = resolve_tip(store)
    files_v2 = {f["path"] for f in m2["files"]}
    assert v2 > v1
    assert files_v1 <= files_v2, "append rewrote or dropped a prior file"
    assert len(files_v2) > len(files_v1)

    # redelivery: survivors recompute empty, nothing commits
    v = snapshot_version(spark, store)
    out = dedup_ingest(spark, store, docs(spark, [(3, "two"), (4, "three")]))
    assert out.count() == 0
    assert snapshot_version(spark, store) == v


def test_null_text_rows_are_dropped(spark, tmp_path):
    store = f"file://{tmp_path}/seen"
    b = docs(spark, [(1, None), (2, "real")])
    out = dedup_ingest(spark, store, b)
    assert [r["doc_id"] for r in out.collect()] == [2]
    assert snapshot_read(spark, store).count() == 1


def test_within_batch_tie_breaks_by_min_id(spark, tmp_path):
    store = f"file://{tmp_path}/seen"
    b = docs(spark, [(9, "same thing"), (3, "same thing"), (5, "same thing")])
    out = dedup_ingest(spark, store, b)
    assert [r["doc_id"] for r in out.collect()] == [3]


def test_membership_joins_broadcast_and_store_scan_is_name_only(spark, tmp_path):
    """Plan-shape guard: the seen-store side must reach the anti/semi
    machinery via broadcast of the BATCH-derived side (the store is never
    broadcast or shuffled), and the store scan must read only the name
    column."""
    store = f"file://{tmp_path}/seen"
    dedup_ingest(spark, store, docs(spark, [(1, "a"), (2, "b")]))

    b2 = docs(spark, [(3, "a"), (4, "c")])
    out = dedup_ingest(spark, store, b2)
    assert {r["doc_id"] for r in out.collect()} == {4}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the batch side rides broadcast joins; no sort-merge join anywhere
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # store parquet scan pruned to the single name column
    import re

    # the batch side is an ExistingRDD — every parquet FileScan in this
    # plan is a seen-store file (Spark truncates paths in toString, so
    # match on the scan kind, not the directory name)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan
    for s in scans:
        m = re.search(r"FileScan parquet \[([^\]]*)\]", s)
        assert m and set(
            c.split("#")[0] for c in m.group(1).split(",") if c
        ) <= {"name"}, s


def test_stream_dedup_ingest_drains_and_marks_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    d1 = docs(spark, [(1, "x y"), (2, "z")])
    d2 = docs(spark, [(3, "x y"), (4, "w")])
    d1.coalesce(1).write.mode("overwrite").parquet(f"file://{src}/b1")
    d2.coalesce(1).write.mode("overwrite").parquet(f"file://{src}/b2")

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"file://{src}/*")
    )
    store = f"file://{tmp_path}/seen"
    out_dir = f"file://{tmp_path}/clean"
    q = stream_dedup_ingest(stream, spark, store, out_dir)
    q.awaitTermination(120)

    survivors = spark.read.parquet(out_dir)
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert ids == [1, 2, 4]
    # store equals emitted fingerprint set
    assert snapshot_read(spark, store).count() == 3


def test_stream_compaction_preserves_membership(spark, tmp_path):
    """compact_every=1 compacts after every batch; membership semantics
    must be unchanged (the compacted store still filters dups) and the
    file count must not grow one-per-batch."""
    from prometheus_parquet_server_spark.sources.manifest import resolve_tip

    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate([[(1, "x"), (2, "y")], [(3, "x"), (4, "z")], [(5, "z"), (6, "q")]]):
        docs(spark, rows).coalesce(1).write.parquet(f"file://{src}/b{i}")

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"file://{src}/*")
    )
    store = f"file://{tmp_path}/seen"
    q = stream_dedup_ingest(
        stream, spark, store, f"file://{tmp_path}/clean", compact_every=1
    )
    q.awaitTermination(120)

    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(f"file://{tmp_path}/clean").collect()
    )
    assert ids == [1, 2, 4, 6]
    assert snapshot_read(spark, store).count() == 4
    _, m = resolve_tip(store)
    # 3 appended batches would be ≥3 files un-compacted; compaction folds
    # the small-file debt into one
    assert len(m["files"]) == 1


def test_stream_vacuum_reclaims_superseded_files(spark, tmp_path):
    """vacuum_keep_last wired into the maintenance step: after the drain,
    only the files the kept manifests reference remain on disk (min_age
    is the store's default 24h guard — the test monkeypatches nothing;
    files just written are younger than the guard, so this asserts the
    call is SAFE mid-stream: nothing referenced disappears and the store
    still answers)."""
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate([[(1, "x")], [(2, "y")], [(3, "z")]]):
        docs(spark, rows).coalesce(1).write.parquet(f"file://{src}/b{i}")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"file://{src}/*")
    )
    store = f"file://{tmp_path}/seen"
    q = stream_dedup_ingest(
        stream, spark, store, f"file://{tmp_path}/clean",
        compact_every=1, vacuum_keep_last=1,
    )
    q.awaitTermination(120)
    assert snapshot_read(spark, store).count() == 3
    ids = sorted(
        r["doc_id"] for r in spark.read.parquet(f"file://{tmp_path}/clean").collect()
    )
    assert ids == [1, 2, 3]
    # exercise the DELETION path the in-flight guard blocked above:
    # min_age_s=0 (no writer active now) must reclaim every superseded
    # data file while the tip keeps answering
    import pathlib

    from prometheus_parquet_server_spark.sources.manifest import resolve_tip
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_vacuum,
    )

    deleted = snapshot_vacuum(spark, store, keep_last=1, min_age_s=0)
    assert deleted, "compaction left superseded files; vacuum must reclaim them"
    _, m = resolve_tip(store)
    live = {pathlib.Path(f["path"].replace("file:", "")).name for f in m["files"]}
    on_disk = {
        p.name
        for p in pathlib.Path(str(store).replace("file://", "")).rglob("*.parquet")
    }
    assert live <= on_disk and on_disk == live, (live, on_disk)
    assert snapshot_read(spark, store).count() == 3
