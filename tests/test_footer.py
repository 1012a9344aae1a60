"""Parquet footers in place of metadata-only Spark jobs on the ingest →
commit path (sources/footer.py): zip member schemas converted from the
footer instead of inferred, snapshot commit stats read from the written
footers instead of a scan, and the NULL/NaN key guard riding the write
job as an Observation. Each test compares the footer answer with the job
it replaces, and counts the Spark jobs that remain."""

import glob
import json
import logging
import os
import uuid
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from prometheus_parquet_server_spark.sources import ingest_zip
from prometheus_parquet_server_spark.sources.footer import (
    footer_schema,
    footer_stats,
    read_parquet,
)
from prometheus_parquet_server_spark.sources.manifest import file_entry
from prometheus_parquet_server_spark.sources.snapshot_store import (
    _scan_stats,
    _write_data_files,
    snapshot_delete,
    snapshot_read,
    snapshot_write,
)

from tests.conftest import long_frame


def jobs_run(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran), counted under a
    fresh job group once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# Member schemas from the footer
# ---------------------------------------------------------------------------


def battery_table(n=4):
    return pa.table(
        {
            "time": pa.array(np.arange(n, dtype="float64")),
            "f32": pa.array(np.arange(n, dtype="float32")),
            "i32": pa.array(np.arange(n, dtype="int32")),
            "i64": pa.array(np.arange(n, dtype="int64")),
            "flag": pa.array([True, False] * (n // 2)),
            "host": pa.array(["a", "b"] * (n // 2)),
            "env": pa.array(["prod"] * n).dictionary_encode(),
            "empty": pa.nulls(n),
            "t_ms": pa.array(np.arange(n), type=pa.timestamp("ms")),
            "t_us": pa.array(np.arange(n), type=pa.timestamp("us")),
            "t_ns": pa.array(np.arange(n), type=pa.timestamp("ns")),
            "t_ms_tz": pa.array(np.arange(n), type=pa.timestamp("ms", tz="UTC")),
            "t_us_tz": pa.array(np.arange(n), type=pa.timestamp("us", tz="UTC")),
            "t_ns_tz": pa.array(np.arange(n), type=pa.timestamp("ns", tz="UTC")),
            "day": pa.array(np.arange(n), type=pa.int32()).cast(pa.date32()),
            "Le0.1": pa.array(np.arange(n, dtype="float64")),
            "Le+Inf": pa.array(np.arange(n, dtype="float64")),
        }
    )


def test_footer_schema_equals_inference(spark, tmp_path):
    arrow = f"{tmp_path}/arrow.parquet"
    pq.write_table(battery_table(), arrow)
    pandas = f"{tmp_path}/pandas.parquet"
    battery_table().to_pandas().to_parquet(pandas)
    for p in (arrow, pandas):
        inferred = spark.read.parquet(p).schema
        assert footer_schema(spark, p) == inferred
        assert read_parquet(spark, p).schema == inferred
    assert read_parquet(spark, arrow).collect() == spark.read.parquet(arrow).collect()


def test_spark_written_file_is_inferred(spark, tmp_path):
    spark.range(3).selectExpr("id", "cast(id as string) as s").coalesce(
        1
    ).write.parquet(f"{tmp_path}/sw")
    [p] = glob.glob(f"{tmp_path}/sw/*.parquet")
    assert footer_schema(spark, p) is None  # carries Spark's row metadata
    assert read_parquet(spark, p).schema == spark.read.parquet(p).schema
    assert footer_schema(spark, f"{tmp_path}/missing.parquet") is None


def write_zip(tmp_path, corrupt=False):
    gauge = pd.DataFrame(
        {"time": [1.0, 2.0], "host": ["a", "b"], "gauge_value": [1.0, 2.0]}
    )
    multi = pd.DataFrame(
        {"timestamp": [1.0, 2.0], "value": [5.0, 6.0], "errors": [1.0, None]}
    )
    histo = pd.DataFrame(
        {"__time__": [1.0, 2.0], "Le0.1": [1.0, 2.0], "Le+Inf": [3.0, 4.0]}
    )
    zpath = tmp_path / "batch.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for name, pdf in (("gauge", gauge), ("multi", multi), ("histo", histo)):
            pdf.to_parquet(tmp_path / f"{name}.parquet")
            z.write(tmp_path / f"{name}.parquet", f"{name}.parquet")
        if corrupt:
            z.writestr("broken.parquet", b"PAR1 not really parquet PAR1")
    return zpath


def test_ingest_zip_builds_its_frame_without_jobs(spark, tmp_path):
    zpath = write_zip(tmp_path)
    types: dict[str, str] = {}
    df, n_jobs = jobs_run(
        spark,
        lambda: ingest_zip(
            spark, zpath, scratch_dir=str(tmp_path / "unzip"), types_out=types
        ),
    )
    assert n_jobs == 0
    names = {r["name"] for r in df.collect()}
    assert names == {"gauge", "multi", "multi_errors", "histo_bucket", "histo_count"}
    assert types["histo_bucket"] == "histogram"


def test_corrupt_member_is_skipped_with_warning(spark, tmp_path, caplog):
    zpath = write_zip(tmp_path, corrupt=True)
    with caplog.at_level(logging.WARNING):
        df = ingest_zip(spark, zpath, scratch_dir=str(tmp_path / "unzip"))
    assert any(
        r.getMessage().startswith("skipping broken.parquet: ") for r in caplog.records
    )
    assert "gauge" in {r["name"] for r in df.collect()}


# ---------------------------------------------------------------------------
# Commit stats from the written footers
# ---------------------------------------------------------------------------


def batch(spark, n=60, names=("b", "a", "c")):
    return long_frame(
        spark,
        [
            (names[i % len(names)], {"h": f"h{i % 4}"}, float(i * 7 % 50), float(i))
            for i in range(n)
        ],
    )


def scan_entries(spark, entries):
    """The entries the pre-footer stats scan builds for the same files."""
    scanned = _scan_stats(spark, [e["path"] for e in entries])
    out = []
    for e in entries:
        n_rows, *bounds = scanned[e["path"]]
        out.append(file_entry(e["path"], n_rows, e["n_bytes"], *bounds))
    return out


@pytest.mark.parametrize("chunk", [None, 10.0])
def test_footer_entries_equal_scan(spark, tmp_path, chunk):
    entries = _write_data_files(
        spark, f"{tmp_path}/s", batch(spark), time_chunk_s=chunk
    )
    assert len(entries) >= (5 if chunk else 1)
    assert sum(e["n_rows"] for e in entries) == 60
    assert entries == scan_entries(spark, entries)


def test_footer_stats_combine_row_groups(spark, tmp_path):
    rng = np.random.default_rng(7)
    n = 100
    p = f"{tmp_path}/rg.parquet"
    pq.write_table(
        pa.table(
            {
                "name": [f"m{v:03d}" for v in rng.integers(0, 500, n)],
                "ts": rng.normal(0.0, 100.0, n),
                "value": np.arange(n, dtype="float64"),
            }
        ),
        p,
        row_group_size=9,
    )
    assert pq.read_metadata(p).num_row_groups > 10
    uri = f"file://{p}"
    assert footer_stats(uri) == _scan_stats(spark, [uri])[uri]


def test_name_beyond_stats_limit_falls_back_to_scan(spark, tmp_path):
    long_name = "x" * 5000
    df = long_frame(spark, [(long_name, {}, 1.0, 1.0), ("a", {}, 2.0, 2.0)])
    [entry] = _write_data_files(spark, f"{tmp_path}/s", df, num_partitions=1)
    assert footer_stats(entry["path"]) is None  # parquet-mr dropped it
    assert entry == scan_entries(spark, [entry])[0]
    assert (entry["min_name"], entry["max_name"]) == ("a", long_name)


@pytest.mark.parametrize("chunk", [None, 10.0])
@pytest.mark.parametrize(
    "bad", [(None, 1.0), ("a", None), ("a", float("nan"))], ids=["name", "ts", "nan"]
)
def test_dirty_keys_are_rejected_and_tx_removed(spark, tmp_path, chunk, bad):
    store = f"{tmp_path}/s"
    snapshot_write(spark, store, batch(spark, n=6), time_chunk_s=chunk)
    before = glob.glob(f"{store}/data/tx_*")
    rows = [("a", {}, 2.0, 1.0), (bad[0], {}, bad[1], 2.0)]
    df = spark.createDataFrame(
        rows, "name string, labels map<string,string>, ts double, value double"
    )
    with pytest.raises(ValueError, match="NULL name, NULL ts, or NaN ts"):
        snapshot_write(spark, store, df)
    assert glob.glob(f"{store}/data/tx_*") == before
    assert snapshot_read(spark, store).count() == 6


@pytest.mark.parametrize("chunk", [None, 10.0])
def test_empty_batches_commit_without_files(spark, tmp_path, chunk):
    store = f"{tmp_path}/s"
    v1 = snapshot_write(spark, store, batch(spark, n=6), time_chunk_s=chunk)
    with open(f"{store}/_snapshots/v{v1:010d}.json") as fh:
        files = json.load(fh)["files"]
    before = glob.glob(f"{store}/data/tx_*")
    empty = long_frame(spark, [])
    filtered = batch(spark).filter("value < 0")
    for df in (empty, filtered):
        v = snapshot_write(spark, store, df)
        assert v > v1
        with open(f"{store}/_snapshots/v{v:010d}.json") as fh:
            assert json.load(fh)["files"] == files
    assert glob.glob(f"{store}/data/tx_*") == before


def test_append_runs_no_job_reading_its_files_back(spark, tmp_path):
    store = f"{tmp_path}/s"
    snapshot_write(spark, store, batch(spark, n=6))
    _, n_jobs = jobs_run(spark, lambda: snapshot_write(spark, store, batch(spark)))
    # range sample, shuffle map, write — no stats scan of the tx dir
    assert n_jobs <= 3


# ---------------------------------------------------------------------------
# The DS writer's entries and the legacy empty-prune read
# ---------------------------------------------------------------------------


def test_ds_written_file_drops_without_jobs(spark, tmp_path):
    from prometheus_parquet_server_spark.sources.pyds import register_snapshot_source

    register_snapshot_source(spark)
    store = f"{tmp_path}/ds"
    long_frame(spark, [("a", {}, 1.0, 1.0), ("a", {}, 2.0, 2.0)]).coalesce(
        1
    ).write.format("pps_snapshot").mode("append").save(store)
    with open(f"{store}/_snapshots/v{1:010d}.json") as fh:
        [entry] = json.load(fh)["files"]
    assert entry["null_free"] is True
    v, n_jobs = jobs_run(spark, lambda: snapshot_delete(spark, store, names=["a"]))
    assert n_jobs == 0
    with open(f"{store}/_snapshots/v{v:010d}.json") as fh:
        assert json.load(fh)["files"] == []


def test_legacy_manifest_pruned_to_nothing_reads_schema_from_footer(spark, tmp_path):
    store = f"{tmp_path}/legacy"
    os.makedirs(f"{store}/_snapshots")
    os.makedirs(f"{store}/data/tx_ext")
    p = f"{store}/data/tx_ext/part-0.parquet"
    pq.write_table(
        pa.table({"name": ["a"], "ts": [1.0], "value": [2.0]}), p
    )
    manifest = {
        "version": 1,
        "parent": None,
        "operation": "append",
        "files": [
            {"path": p, "n_rows": 1, "n_bytes": os.path.getsize(p),
             "min_name": "a", "max_name": "a", "min_ts": 1.0, "max_ts": 1.0}
        ],
    }
    with open(f"{store}/_snapshots/v{1:010d}.json", "w") as fh:
        json.dump(manifest, fh)
    df, n_jobs = jobs_run(spark, lambda: snapshot_read(spark, store, names=["zz"]))
    assert n_jobs == 0
    assert df.schema == spark.read.parquet(p).schema
