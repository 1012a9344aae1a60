"""Python Data Source over the snapshot store (sources/pyds.py).

Batch: format("pps_snapshot") must equal snapshot_read (same manifest,
same pruning rules), with pushed name/ts filters pruning files at the
MANIFEST level and time travel via the version option.

Streaming: the version tail must deliver exactly the appended rows,
recover from a checkpoint (offset = manifest version), skip
data-preserving maintenance (compact), and fail loudly on row-rewriting
commits unless ignore_changes=true.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from prometheus_parquet_server_spark.sources.pyds import (
    SnapshotBatchReader,
    _extract_bounds,
    register_snapshot_source,
)
from prometheus_parquet_server_spark.sources.snapshot_store import (
    snapshot_compact,
    snapshot_read,
    snapshot_upsert,
    snapshot_write,
)

SCHEMA = "name string, labels map<string,string>, ts double, value double"


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(n, name, t0=0.0):
    return [
        (name, {"i": str(k)}, t0 + float(k), float(k) * 0.5) for k in range(n)
    ]


@pytest.fixture()
def store(spark, tmp_path):
    """Three append commits, one metric per commit — several
    name-clustered files in the manifest, so pruning has real targets."""
    root = f"file://{tmp_path}/store"
    for i, nm in enumerate(["cpu", "mem", "net"]):
        snapshot_write(
            spark,
            root,
            _mk(spark, _rows(40, nm, t0=100.0 * i)),
            mode="overwrite" if i == 0 else "append",
        )
    register_snapshot_source(spark)
    return root


def _collected(df):
    return sorted(
        (r["name"], tuple(sorted(r["labels"].items())), r["ts"], r["value"])
        for r in df.collect()
    )


def test_batch_read_equals_snapshot_read(spark, store):
    via_ds = spark.read.format("pps_snapshot").load(store)
    via_native = snapshot_read(spark, store)
    assert via_ds.schema == via_native.schema
    assert _collected(via_ds) == _collected(via_native)


def test_batch_filters_apply_exactly(spark, store):
    out = (
        spark.read.format("pps_snapshot")
        .load(store)
        .filter((F.col("name") == "mem") & (F.col("ts") >= 120.0))
    )
    exp = snapshot_read(spark, store).filter(
        (F.col("name") == "mem") & (F.col("ts") >= 120.0)
    )
    assert _collected(out) == _collected(exp)
    assert out.count() == 20


def test_time_travel_version_option(spark, store):
    v1 = (
        spark.read.format("pps_snapshot")
        .option("version", 1)
        .load(store)
    )
    names = {r["name"] for r in v1.select("name").distinct().collect()}
    assert names == {"cpu"}
    assert v1.count() == 40


def test_extract_bounds():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        IsNotNull,
        LessThanOrEqual,
    )

    names, lo, hi = _extract_bounds(
        [
            EqualTo(("name",), "cpu"),
            GreaterThan(("ts",), 5.0),
            LessThanOrEqual(("ts",), 9.0),
            IsNotNull(("value",)),  # ignored
        ]
    )
    assert names == ["cpu"] and lo == 5.0 and hi == 9.0
    # In ∩ EqualTo intersect; contradictions collapse to []
    names, _, _ = _extract_bounds(
        [In(("name",), ("a", "b")), EqualTo(("name",), "b")]
    )
    assert names == ["b"]
    names, _, _ = _extract_bounds(
        [In(("name",), ("a",)), EqualTo(("name",), "b")]
    )
    assert names == []


def test_manifest_pruning_narrows_partitions(spark, store):
    from pyspark.sql.datasource import EqualTo

    path = store
    schema = snapshot_read(spark, path).schema
    rd = SnapshotBatchReader(schema, {"path": path})
    total = len(rd.partitions())
    assert total >= 3  # one commit per metric → at least one file each
    rd2 = SnapshotBatchReader(schema, {"path": path})
    leftover = list(rd2.pushFilters([EqualTo(("name",), "mem")]))
    assert len(leftover) == 1  # everything yielded back for re-apply
    pruned = len(rd2.partitions())
    assert 0 < pruned < total


def _drain(spark, store, ckpt, out, **opts):
    """availableNow drain into a parquet sink (the memory sink cannot
    recover from a checkpoint). Returns the CUMULATIVE sink contents —
    delta assertions compare totals across drains."""
    reader = spark.readStream.format("pps_snapshot")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(store)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import glob

    local_out = out.replace("file://", "")
    if not glob.glob(f"{local_out}/*.parquet"):
        return spark.createDataFrame([], SCHEMA)  # zero-row drain
    return spark.read.parquet(out)


def test_stream_tail_and_checkpoint_recovery(spark, store, tmp_path):
    ckpt, out = f"{tmp_path}/ckpt", f"file://{tmp_path}/out"
    got = _drain(spark, store, ckpt, out)
    assert got.count() == 120  # full history replayed as the first pass
    # new append lands; a RESTARTED stream delivers ONLY the delta
    snapshot_write(spark, store, _mk(spark, _rows(7, "disk", t0=999.0)))
    got2 = _drain(spark, store, ckpt, out)
    assert got2.count() == 127  # 120 + 7, no re-delivery
    assert got2.filter(F.col("name") == "disk").count() == 7


def test_stream_skips_compaction(spark, store, tmp_path):
    ckpt, out = f"{tmp_path}/ckpt", f"file://{tmp_path}/out"
    assert _drain(spark, store, ckpt, out).count() == 120
    assert snapshot_compact(spark, store, target_file_bytes=2**30) is not None
    got = _drain(spark, store, ckpt, out)
    assert got.count() == 120  # compaction rewrote, added nothing


def test_stream_rejects_rewrites_unless_opted_in(spark, store, tmp_path):
    c1, o1 = f"{tmp_path}/c1", f"file://{tmp_path}/o1"
    assert _drain(spark, store, c1, o1).count() == 120
    snapshot_upsert(
        spark, store, _mk(spark, [("cpu", {"i": "0"}, 0.0, 123.0)])
    )
    with pytest.raises(Exception, match="row-rewriting"):
        _drain(spark, store, c1, o1)
    # 'latest' tails only commits made AFTER the stream starts
    got = _drain(
        spark,
        store,
        f"{tmp_path}/c2",
        f"file://{tmp_path}/o2",
        starting_version="latest",
    )
    assert got.count() == 0
    # fresh stream with ignore_changes delivers the rewritten files whole
    got_ic = _drain(
        spark,
        store,
        f"{tmp_path}/c3",
        f"file://{tmp_path}/o3",
        ignore_changes="true",
    )
    # full replay: appends + the upsert's rewritten cpu files (re-delivery
    # of the rewritten rows rides on top of the 3×40 appended ones)
    assert got_ic.count() >= 120
    assert (
        got_ic.filter((F.col("name") == "cpu") & (F.col("value") == 123.0))
        .count()
        >= 1
    )


def test_starting_version_int(spark, store, tmp_path):
    got = _drain(
        spark,
        store,
        f"{tmp_path}/ckpt",
        f"file://{tmp_path}/out",
        starting_version="3",
    )
    assert {r["name"] for r in got.select("name").distinct().collect()} == {
        "net"
    }
    assert got.count() == 40


# ---------------------------------------------------------------------------
# Write path
# ---------------------------------------------------------------------------


def test_write_batch_append_reads_back_native(spark, store, tmp_path):
    df = _mk(spark, _rows(13, "gpu", t0=500.0))
    df.write.format("pps_snapshot").mode("append").save(store)
    back = snapshot_read(spark, store)
    assert back.count() == 133
    assert back.filter(F.col("name") == "gpu").count() == 13
    # the committed manifest carries exact per-file stats for pruning
    pruned = snapshot_read(spark, store, names=["gpu"])
    assert _collected(pruned) == _collected(
        back.filter(F.col("name") == "gpu")
    )


def test_write_overwrite_replaces(spark, store):
    df = _mk(spark, _rows(5, "only", t0=0.0))
    df.write.format("pps_snapshot").mode("overwrite").save(store)
    back = snapshot_read(spark, store)
    assert back.count() == 5
    assert {r["name"] for r in back.select("name").distinct().collect()} == {
        "only"
    }


def test_write_new_store_and_jvm_interleave(spark, tmp_path):
    root = f"file://{tmp_path}/fresh"
    register_snapshot_source(spark)
    _mk(spark, _rows(4, "a")).write.format("pps_snapshot").mode(
        "append"
    ).save(root)
    # JVM-side append lands on the Python-committed tip…
    snapshot_write(spark, root, _mk(spark, _rows(4, "b")))
    # …and a Python append lands on the JVM tip
    _mk(spark, _rows(4, "c")).write.format("pps_snapshot").mode(
        "append"
    ).save(root)
    back = snapshot_read(spark, root)
    assert back.count() == 12
    assert {
        r["name"] for r in back.select("name").distinct().collect()
    } == {"a", "b", "c"}


def test_write_rejects_null_keys(spark, tmp_path):
    root = f"file://{tmp_path}/dirty"
    register_snapshot_source(spark)
    bad = spark.createDataFrame(
        [(None, {"i": "0"}, 1.0, 2.0)], SCHEMA
    )
    with pytest.raises(Exception, match="NULL name"):
        bad.write.format("pps_snapshot").mode("append").save(root)
    import os

    assert not os.path.exists(f"{tmp_path}/dirty/_snapshots")


def test_write_requires_canonical_columns(spark, tmp_path):
    root = f"file://{tmp_path}/nocanon"
    register_snapshot_source(spark)
    df = spark.createDataFrame([(1, "x")], "id int, text string")
    with pytest.raises(Exception, match="canonical"):
        df.write.format("pps_snapshot").mode("append").save(root)


def test_stream_writer_appends_and_dedupes_replay(spark, store, tmp_path):
    """availableNow drain through the DS sink: rows land as append
    commits, and a re-drain from a RESET checkpoint with the same
    txn_app_id is deduped by the marker (batch ids replay from 0)."""
    src = f"{tmp_path}/src"
    _mk(spark, _rows(9, "streamed", t0=777.0)).write.parquet(src)
    before = snapshot_read(spark, store).count()

    def drain(ckpt):
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .writeStream.format("pps_snapshot")
            .option("checkpointLocation", f"{tmp_path}/{ckpt}")
            .option("txn_app_id", "pyds-test-sink")
            .trigger(availableNow=True)
            .start(store)
        )
        q.awaitTermination(120)

    drain("ck1")
    mid = snapshot_read(spark, store)
    assert mid.count() == before + 9
    # a fresh checkpoint replays batch 0 — the txn marker makes it a no-op
    drain("ck2")
    assert snapshot_read(spark, store).count() == before + 9


def test_change_feed_drives_dedup_store(spark, tmp_path):
    """End-to-end CDC composition: a corpus lands in a snapshot store in
    three commits; the pps_snapshot CHANGE FEED streams the deltas into
    the cross-batch dedup sink (pipeline/dedup_store.py). The result
    must equal a one-shot first-occurrence dedup of the full corpus —
    the round-7 storage features composing end to end."""
    from prometheus_parquet_server_spark.pipeline.dedup_store import (
        stream_dedup_ingest,
    )

    corpus = f"file://{tmp_path}/corpus"
    texts = [
        (1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta"),
        (4, "epsilon"), (5, "gamma delta"), (6, "zeta eta"),
        (7, "alpha beta"), (8, "theta iota"), (9, "epsilon"),
    ]

    def docs(rows):
        # ride the store's canonical axes: name=str(doc_id), ts=doc_id
        return spark.createDataFrame(
            rows, "doc_id bigint, text string"
        ).select(
            F.col("doc_id").cast("string").alias("name"),
            F.col("doc_id").cast("double").alias("ts"),
            "doc_id",
            "text",
        )

    register_snapshot_source(spark)
    for i, chunk in enumerate([texts[:3], texts[3:6], texts[6:]]):
        docs(chunk).write.format("pps_snapshot").mode(
            "overwrite" if i == 0 else "append"
        ).save(corpus)

    feed = (
        spark.readStream.format("pps_snapshot")
        .load(corpus)
        .select("doc_id", "text")
    )
    q = stream_dedup_ingest(
        feed, spark, f"file://{tmp_path}/seen", f"file://{tmp_path}/out"
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"file://{tmp_path}/out").collect()
    )
    exp = sorted(
        (min(i for i, t2 in texts if t2 == t), t)
        for t in {t for _, t in texts}
    )
    assert got == exp


def test_stream_pacing_protocol(spark, store, tmp_path):
    """max_files_per_trigger, driven at the reader-protocol level (the
    call order Spark actually uses: latestOffset BEFORE initialOffset).
    First answer = tip (uncapped backlog — the documented floor that can
    never fall below a committed offset); after that, one version per
    trigger with a 1-file budget, never going backward, always admitting
    a whole version even when it exceeds the budget."""
    from prometheus_parquet_server_spark.sources.pyds import (
        SnapshotStreamReader,
    )

    schema = snapshot_read(spark, store).schema
    rd = SnapshotStreamReader(
        schema, {"path": store, "max_files_per_trigger": "1"}
    )
    assert rd.latestOffset() == {"version": 3}  # first trigger: tip
    rd.commit({"version": 3})
    # three more appends land (each >=1 file; "wide" carries several)
    snapshot_write(spark, store, _mk(spark, _rows(5, "d", t0=1000.0)))
    snapshot_write(
        spark,
        store,
        _mk(
            spark,
            _rows(20, "w1", t0=2000.0) + _rows(20, "w2", t0=3000.0),
        ),
    )
    snapshot_write(spark, store, _mk(spark, _rows(5, "e", t0=4000.0)))
    offs = [rd.latestOffset()["version"] for _ in range(4)]
    # paced: one version per trigger (v5 has >1 file but still admits
    # whole), then parked at the tip
    assert offs == [4, 5, 6, 6]
    # a re-plan of an old batch never drags the cursor backward
    list(rd.partitions({"version": 1}, {"version": 2}))
    assert rd.latestOffset()["version"] == 6


def test_stream_unpaced_first_batch_availableNow(spark, store, tmp_path):
    """availableNow resolves its target from the first latestOffset call,
    which is uncapped by design — the drain still delivers everything,
    in one batch (pacing is a running-stream feature)."""
    batches = []
    q = (
        spark.readStream.format("pps_snapshot")
        .option("max_files_per_trigger", 1)
        .load(store)
        .writeStream.foreachBatch(
            lambda df, bid: batches.append(df.count())
        )
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sum(batches) == 120


def test_ds_write_append_schema_gate(spark, store, tmp_path):
    """The Python writer rejects appends whose schema differs from the
    store's recorded schema (strict; evolution goes through the JVM
    writer), and the DS reader null-fills files that predate an
    additively-evolved column."""
    bad = spark.createDataFrame(
        [("m", {"x": "1"}, 1.0, "oops")],
        "name string, labels map<string,string>, ts double, value string",
    )
    with pytest.raises(Exception, match="strict"):
        bad.write.format("pps_snapshot").mode("append").save(store)
    # JVM-side additive evolution; DS read must null-fill old files
    wider = spark.createDataFrame(
        [("zz", {"x": "w"}, 9999.0, 1.0, 42)],
        "name string, labels map<string,string>, ts double, value double, "
        "extra int",
    )
    snapshot_write(spark, store, wider, merge_schema=True)
    out = spark.read.format("pps_snapshot").load(store)
    assert out.columns == ["name", "labels", "ts", "value", "extra"]
    rows = {r["name"]: r["extra"] for r in out.collect()}
    assert rows["zz"] == 42 and rows["cpu"] is None
    # and the DS view equals the JVM view on the evolved store
    assert _collected_plus(out) == _collected_plus(snapshot_read(spark, store))


def _collected_plus(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_ds_write_merge_schema_evolution(spark, store):
    """Python-DS append with option merge_schema=true evolves the store
    additively (the snapshot_write(merge_schema=True) twin): the new
    column joins the recorded schema, files that predate it null-fill via
    BOTH the DS reader and the JVM snapshot_read, a later strict append
    of the ORIGINAL column set still works (missing columns null-fill the
    new files… rejected in strict, admitted under merge), and a type
    conflict stays fatal even with the option set."""
    wider = spark.createDataFrame(
        [("py_ev", {"x": "m"}, 7777.0, 2.5, "hello")],
        "name string, labels map<string,string>, ts double, value double, "
        "note string",
    )
    # strict rejection of the same frame first — the default is unchanged
    with pytest.raises(Exception, match="strict"):
        wider.write.format("pps_snapshot").mode("append").save(store)
    wider.write.format("pps_snapshot").mode("append").option(
        "merge_schema", "true"
    ).save(store)
    ds = spark.read.format("pps_snapshot").load(store)
    assert ds.columns == ["name", "labels", "ts", "value", "note"]
    rows = {r["name"]: r["note"] for r in ds.collect()}
    assert rows["py_ev"] == "hello" and rows["cpu"] is None
    # the JVM view agrees cell-for-cell on the evolved store
    assert _collected_plus(ds) == _collected_plus(snapshot_read(spark, store))
    # a narrower (original-set) batch: strict rejects, merge null-fills
    narrow = spark.createDataFrame(
        [("py_n", {"x": "n"}, 8888.0, 1.0)],
        "name string, labels map<string,string>, ts double, value double",
    )
    with pytest.raises(Exception, match="strict"):
        narrow.write.format("pps_snapshot").mode("append").save(store)
    narrow.write.format("pps_snapshot").mode("append").option(
        "merge_schema", "true"
    ).save(store)
    out = spark.read.format("pps_snapshot").load(store)
    got = {r["name"]: r["note"] for r in out.collect()}
    assert got["py_n"] is None and got["py_ev"] == "hello"
    # type conflicts stay fatal in merge mode
    clash = spark.createDataFrame(
        [("x", {"x": "c"}, 1.0, 2.0, 3)],
        "name string, labels map<string,string>, ts double, value double, "
        "note int",
    )
    with pytest.raises(Exception, match="conflict"):
        clash.write.format("pps_snapshot").mode("append").option(
            "merge_schema", "true"
        ).save(store)


def test_object_store_commit_backend_single_winner():
    """The manifest commit primitive behind a registered CommitBackend
    (the S3 If-None-Match / GCS generation-match seam): a fake in-memory
    object store with compare-and-swap create proves (a) a second create
    on a taken slot LOSES (returns False, never overwrites), and (b) N
    genuinely racing appends all commit — each to a distinct version,
    losers rebasing onto the moved tip — with the final tip's file list
    carrying every append exactly once. Local file: stores never consult
    the registry (behavior unchanged, covered by the other tests)."""
    import threading

    from prometheus_parquet_server_spark.sources.manifest import (
        CommitBackend,
        append,
        manifest_path,
        publish,
        read_manifest,
        register_commit_backend,
    )

    class MemStore(CommitBackend):
        def __init__(self):
            self._objects: dict[str, bytes] = {}
            self._lock = threading.Lock()

        def list_names(self, dir_uri):
            prefix = dir_uri.rstrip("/") + "/"
            with self._lock:
                return [
                    k[len(prefix):]
                    for k in self._objects
                    if k.startswith(prefix) and "/" not in k[len(prefix):]
                ]

        def read_bytes(self, uri):
            with self._lock:
                if uri not in self._objects:
                    raise FileNotFoundError(uri)
                return self._objects[uri]

        def create_exclusive(self, uri, payload):
            # the conditional put: atomic create-if-absent, 412 → False
            with self._lock:
                if uri in self._objects:
                    return False
                self._objects[uri] = payload
                return True

    register_commit_backend("memcas", MemStore())
    # fresh store object per test id to avoid cross-test state
    root = "memcas://bucket/store"
    schema = StructType([])

    # (a) direct double-create on one slot: exactly one winner
    slot = manifest_path(root + "_slot", 1)
    assert publish(slot, b"{}") is True
    assert publish(slot, b"{}") is False

    # (b) 8 racing appends: all commit, distinct versions, union file list
    results, errors = [], []

    def publish(i):
        try:
            v = append(
                root,
                [{"path": f"memcas://bucket/store/data/f{i}.parquet",
                  "n_rows": 1, "n_bytes": 1, "min_name": "a",
                  "max_name": "a", "min_ts": 0.0, "max_ts": 1.0}],
                schema,
            )
            results.append(v)
        except Exception as e:  # pragma: no cover - fail loudly below
            errors.append(e)

    threads = [threading.Thread(target=publish, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(results) == list(range(1, 9))
    tip = read_manifest(root, 8)
    committed = sorted(f["path"] for f in tip["files"])
    assert committed == sorted(
        f"memcas://bucket/store/data/f{i}.parquet" for i in range(8)
    )


def test_s3_commit_backend_moto_race():
    """The SDK-native S3 binding (VERDICT r8 Next #3): prove the REAL
    request shape — put_object(IfNoneMatch="*") answered by an actual
    412 PreconditionFailed from moto's S3 implementation, paginated
    list_objects_v2, get_object — wins exactly one racer at the
    primitive level AND lets the full manifest protocol commit racing
    appends with losers rebasing, exactly as the in-memory fake proved.
    """
    pytest.importorskip("moto")
    import boto3
    from moto import mock_aws

    from prometheus_parquet_server_spark.sources.manifest import (
        S3CommitBackend,
        append,
        manifest_path,
        read_manifest,
        register_commit_backend,
    )

    with mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="pps-test-bucket")
        backend = S3CommitBackend(client)

        # (a) primitive: two racers on one slot — exactly one winner, the
        # loser sees S3's own 412 (not a fake), and the winner's bytes win
        slot = manifest_path("s3://pps-test-bucket/store", 1)
        assert backend.create_exclusive(slot, b'{"racer": "A"}') is True
        assert backend.create_exclusive(slot, b'{"racer": "B"}') is False
        assert backend.read_bytes(slot) == b'{"racer": "A"}'
        # lost-response disambiguation: a retried create that finds its
        # OWN payload in the slot (boto3 auto-retried a 5xx after the
        # first attempt durably landed) must report the WIN, not a lost
        # race — a self-loss would rebase onto itself and double-apply
        assert backend.create_exclusive(slot, b'{"racer": "A"}') is True
        with pytest.raises(FileNotFoundError):
            backend.read_bytes("s3://pps-test-bucket/store/_snapshots/nope")

        # (b) protocol: racing appends through the registered backend —
        # both commit, to distinct versions, the tip unions the file lists
        register_commit_backend("s3", backend)
        root = "s3://pps-test-bucket/store2"
        schema = StructType([])

        def pub(i):
            return append(
                root,
                [{"path": f"{root}/data/f{i}.parquet", "n_rows": 1,
                  "n_bytes": 1, "min_name": "a", "max_name": "a",
                  "min_ts": 0.0, "max_ts": 1.0}],
                schema,
            )
        assert [pub(0), pub(1), pub(2)] == [1, 2, 3]
        tip = read_manifest(root, 3)
        assert sorted(f["path"] for f in tip["files"]) == [
            f"{root}/data/f{i}.parquet" for i in range(3)
        ]

        # (c) error mapping: a 409 ConditionalRequestConflict retries then
        # raises once the bound is hit; any other error propagates
        class Conflicting:
            def put_object(self, **kw):
                import botocore.exceptions

                raise botocore.exceptions.ClientError(
                    {"Error": {"Code": "ConditionalRequestConflict"},
                     "ResponseMetadata": {"HTTPStatusCode": 409}},
                    "PutObject",
                )

        cb = S3CommitBackend(Conflicting(), max_conflict_retries=2)
        with pytest.raises(RuntimeError, match="409"):
            cb.create_exclusive("s3://b/k", b"x")


class _FakeGCSSession:
    """In-memory GCS JSON API twin for the injected-session test: stores
    objects in a dict keyed (bucket, name) and VALIDATES every request
    against the literal public API shape — URL layout, uploadType=media,
    the ifGenerationMatch=0 param, alt=media reads, pageToken paging
    (page size 2 to force pagination) — so a binding that drifted from
    the real protocol fails here, not in production."""

    def __init__(self):
        self.objects: dict[tuple[str, str], bytes] = {}
        self.requests: list[tuple[str, str, dict]] = []
        self.throttle_next = 0  # next N creates answer 429 (race window)

    class _Resp:
        def __init__(self, status_code, content=b"", body=None):
            self.status_code = status_code
            self.content = content
            self._body = body or {}

        def json(self):
            return self._body

    def request(self, method, url, params=None, data=None):
        from urllib.parse import unquote

        params = dict(params or {})
        self.requests.append((method, url, params))
        if self.throttle_next > 0:  # throttle ANY request type (GCS does)
            self.throttle_next -= 1
            return self._Resp(429)
        root = "https://storage.googleapis.com"
        if method == "POST" and url.startswith(f"{root}/upload/storage/v1/b/"):
            bucket = unquote(url[len(f"{root}/upload/storage/v1/b/"):].split("/o")[0])
            assert params.get("uploadType") == "media", params
            assert params.get("ifGenerationMatch") == "0", params
            name = params["name"]
            if (bucket, name) in self.objects:
                return self._Resp(412)
            self.objects[(bucket, name)] = data
            return self._Resp(200, body={"name": name, "generation": "1"})
        if method == "GET" and "/storage/v1/b/" in url and "/o/" in url:
            rest = url[len(f"{root}/storage/v1/b/"):]
            bucket, obj = rest.split("/o/", 1)
            key = (unquote(bucket), unquote(obj))
            assert params.get("alt") == "media", params
            if key not in self.objects:
                return self._Resp(404)
            return self._Resp(200, content=self.objects[key])
        if method == "GET" and url.endswith("/o"):
            bucket = unquote(url[len(f"{root}/storage/v1/b/"):-len("/o")])
            prefix = params.get("prefix", "")
            assert params.get("delimiter") == "/", params
            matches = sorted(
                n for (b, n) in self.objects
                if b == bucket and n.startswith(prefix)
                and "/" not in n[len(prefix):]
            )
            start = int(params.get("pageToken", "0"))
            page = matches[start:start + 2]
            body = {"items": [{"name": n} for n in page]}
            if start + 2 < len(matches):
                body["nextPageToken"] = str(start + 2)
            return self._Resp(200, body=body)
        raise AssertionError(f"unexpected GCS request: {method} {url} {params}")


def test_gcs_commit_backend_race():
    """The GCS binding (VERDICT r9 Next #5, finishing what S3/moto
    started): ifGenerationMatch=0 create wins exactly one racer, the
    loser sees 412 and rebases through the manifest protocol; reads and
    paginated listing ride the same public JSON API shapes the stub
    session enforces; 429 same-object throttling retries then raises at
    the bound."""
    from prometheus_parquet_server_spark.sources.manifest import (
        GCSCommitBackend,
        append,
        manifest_path,
        read_manifest,
        register_commit_backend,
    )

    sess = _FakeGCSSession()
    backend = GCSCommitBackend(sess)

    # (a) primitive: one slot, two racers — exactly one winner; the
    # winner's bytes are what a read returns
    slot = manifest_path("gs://pps-test-bucket/store", 1)
    assert backend.create_exclusive(slot, b'{"racer": "A"}') is True
    assert backend.create_exclusive(slot, b'{"racer": "B"}') is False
    assert backend.read_bytes(slot) == b'{"racer": "A"}'
    # lost-response disambiguation: a retried create finding its OWN
    # payload (the 503-ate-the-response case) reports the win
    assert backend.create_exclusive(slot, b'{"racer": "A"}') is True
    with pytest.raises(FileNotFoundError):
        backend.read_bytes("gs://pps-test-bucket/store/_snapshots/nope")
    # transient 503/429 on reads/listings retries instead of surfacing —
    # the protocol would misread a failed read as a torn junk slot
    sess.throttle_next = 2
    assert backend.read_bytes(slot) == b'{"racer": "A"}'
    sess.throttle_next = 2
    assert backend.list_names("gs://pps-test-bucket/store/_snapshots") == [
        "v0000000001.json"
    ]

    # (b) protocol: racing appends through the registered backend —
    # sequential versions, tip unions the file lists, and the version
    # listing exercises pageToken pagination (page size 2 in the stub)
    register_commit_backend("gs", backend)
    root = "gs://pps-test-bucket/store2"
    schema = StructType([])

    def pub(i):
        return append(
            root,
            [{"path": f"{root}/data/f{i}.parquet", "n_rows": 1,
              "n_bytes": 1, "min_name": "a", "max_name": "a",
              "min_ts": 0.0, "max_ts": 1.0}],
            schema,
        )

    assert [pub(0), pub(1), pub(2)] == [1, 2, 3]
    tip = read_manifest(root, 3)
    assert sorted(f["path"] for f in tip["files"]) == [
        f"{root}/data/f{i}.parquet" for i in range(3)
    ]
    n_before = len(sess.requests)
    names = backend.list_names(f"{root}/_snapshots")
    assert names == [f"v{v:010d}.json" for v in (1, 2, 3)]
    assert any(
        m == "GET" and p.get("pageToken")
        for (m, u, p) in sess.requests[n_before:]
    ), "3 objects at page size 2 must have paginated"

    # (c) a transient 429 retries through to the win; at the bound the
    # create raises instead of silently giving up
    sess.throttle_next = 2
    slot2 = manifest_path("gs://pps-test-bucket/store", 2)
    assert backend.create_exclusive(slot2, b"{}") is True
    sess.throttle_next = 10**9
    limited = GCSCommitBackend(sess, max_conflict_retries=2)
    with pytest.raises(RuntimeError, match="429"):
        limited.create_exclusive(
            "gs://pps-test-bucket/store/_snapshots/v3", b"{}"
        )
    sess.throttle_next = 0


class _FakeBlobService:
    """In-memory azure-storage-blob twin: SDK-shaped get_blob_client /
    get_container_client over a dict, raising duck-typed 409
    BlobAlreadyExists on upload_blob(overwrite=False) of an existing
    blob and 404 BlobNotFound on missing reads — the exact outcomes the
    ABS binding maps."""

    class _Err(Exception):
        def __init__(self, status_code, error_code):
            self.status_code = status_code
            self.error_code = error_code

    def __init__(self):
        self.blobs: dict[tuple[str, str], bytes] = {}

    def get_blob_client(self, container, blob):
        svc = self

        class _BC:
            def upload_blob(self, data, overwrite):
                assert overwrite is False, "must never request overwrite"
                if (container, blob) in svc.blobs:
                    raise svc._Err(409, "BlobAlreadyExists")
                svc.blobs[(container, blob)] = data

            def download_blob(self):
                if (container, blob) not in svc.blobs:
                    raise svc._Err(404, "BlobNotFound")
                payload = svc.blobs[(container, blob)]

                class _DL:
                    def readall(self):
                        return payload

                return _DL()

        return _BC()

    def get_container_client(self, container):
        svc = self

        class _CC:
            def list_blobs(self, name_starts_with):
                class _B:
                    def __init__(self, name):
                        self.name = name

                return [
                    _B(n) for (c, n) in sorted(svc.blobs)
                    if c == container and n.startswith(name_starts_with)
                ]

        return _CC()


def test_abs_commit_backend_race():
    """The Azure binding completes the conditional-put trio: upload_blob
    with overwrite=False (the SDK's If-None-Match:* Put Blob) wins
    exactly one racer, the loser sees 409 BlobAlreadyExists and rebases
    through the manifest protocol; container@account URI parsing; 404 →
    FileNotFoundError."""
    from prometheus_parquet_server_spark.sources.manifest import (
        ABSCommitBackend,
        append,
        manifest_path,
        read_manifest,
        register_commit_backend,
    )

    backend = ABSCommitBackend(_FakeBlobService())

    # container@account authority parsing
    assert backend._split("wasbs://cont@acct.blob.core.windows.net/a/b") == (
        "cont", "a/b",
    )

    slot = manifest_path("wasbs://cont@acct.blob.core.windows.net/store", 1)
    assert backend.create_exclusive(slot, b'{"racer": "A"}') is True
    assert backend.create_exclusive(slot, b'{"racer": "B"}') is False
    assert backend.read_bytes(slot) == b'{"racer": "A"}'
    # lost-response disambiguation (the Azure SDK auto-retries 5xx):
    # finding our OWN payload behind the 409 reports the win
    assert backend.create_exclusive(slot, b'{"racer": "A"}') is True
    with pytest.raises(FileNotFoundError):
        backend.read_bytes("wasbs://cont@acct/store/_snapshots/nope")

    register_commit_backend("wasbs", backend)
    root = "wasbs://cont@acct.blob.core.windows.net/store2"
    schema = StructType([])

    def pub(i):
        return append(
            root,
            [{"path": f"{root}/data/f{i}.parquet", "n_rows": 1,
              "n_bytes": 1, "min_name": "a", "max_name": "a",
              "min_ts": 0.0, "max_ts": 1.0}],
            schema,
        )

    assert [pub(0), pub(1), pub(2)] == [1, 2, 3]
    tip = read_manifest(root, 3)
    assert sorted(f["path"] for f in tip["files"]) == [
        f"{root}/data/f{i}.parquet" for i in range(3)
    ]


def test_timestamp_as_of_time_travel(spark, store):
    """timestamp_as_of resolves the highest version committed at or
    before the instant (the snapshot_as_of rule), and excludes version
    with timestamps before the first commit."""
    import json

    local = store.replace("file://", "")
    commits = {}
    for v in (1, 2, 3):
        with open(f"{local}/_snapshots/v{v:010d}.json") as fh:
            commits[v] = json.load(fh)["committed_at"]
    mid = (commits[2] + commits[3]) / 2
    out = (
        spark.read.format("pps_snapshot")
        .option("timestamp_as_of", mid)
        .load(store)
    )
    names = {r["name"] for r in out.select("name").distinct().collect()}
    assert names == {"cpu", "mem"}  # v2's world: net not yet committed
    with pytest.raises(Exception, match="existed at epoch"):
        spark.read.format("pps_snapshot").option(
            "timestamp_as_of", commits[1] - 10.0
        ).load(store).collect()
    with pytest.raises(Exception, match="mutually exclusive"):
        spark.read.format("pps_snapshot").option("version", 1).option(
            "timestamp_as_of", mid
        ).load(store).collect()


def test_python_commits_carry_wall_clock(spark, tmp_path):
    """Python-committed manifests must stamp committed_at, or wall-clock
    time travel treats them as infinitely old and silently returns
    future data for past instants."""
    import json, time

    root = f"file://{tmp_path}/s"
    register_snapshot_source(spark)
    before = time.time()
    _mk(spark, _rows(3, "a")).write.format("pps_snapshot").mode(
        "append"
    ).save(root)
    m = json.load(open(f"{tmp_path}/s/_snapshots/v0000000001.json"))
    assert before <= m["committed_at"] <= time.time()
    with pytest.raises(Exception, match="existed at epoch"):
        spark.read.format("pps_snapshot").option(
            "timestamp_as_of", before - 60.0
        ).load(root).collect()


def test_stream_raises_on_vacuumed_gap(spark, store, tmp_path):
    """A manifest deleted under a lagging stream must raise, never be
    silently skipped — a swallowed FileNotFoundError is data loss."""
    import os

    os.unlink(store.replace("file://", "") + "/_snapshots/v0000000002.json")
    with pytest.raises(Exception, match="no longer exists|unreadable"):
        _drain(spark, store, f"{tmp_path}/ckpt", f"file://{tmp_path}/out")
