"""Persisted IVF index on the snapshot store (pipeline/ann_store).

Contracts: search-through-the-store returns EXACTLY what the direct
ivf_topk computation returns (same params, same rounding, same ties); the
probe path opens only the probed cells' files (manifest pruning does the
work); rebuild is an overwrite commit and time travel serves the old
index.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from prometheus_parquet_server_spark.pipeline.ann_store import (
    CENTROID_NAME,
    ivf_build,
    ivf_search,
)
from prometheus_parquet_server_spark.pipeline.similarity import ivf_topk

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _probes(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )


def test_store_search_equals_direct_ivf(spark, tmp_path):
    emb = _emb(spark)
    store = f"file://{tmp_path}/index"
    ivf_build(spark, store, emb, n_centroids=8, kmeans_iterations=0, dim=64)
    got = ivf_search(spark, store, _probes(emb), k=5, n_probe=3)
    want = ivf_topk(
        emb, _probes(emb), k=5, n_centroids=8, n_probe=3,
        kmeans_iterations=0, dim=64,
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) == 15


def test_search_prunes_to_probed_cells(spark, tmp_path):
    """The corpus scan's file list (manifest names-pruning) must be a
    strict subset of the index files when n_probe < n_centroids."""
    from prometheus_parquet_server_spark.sources.manifest import name_overlaps, resolve_tip

    emb = _emb(spark)
    store = f"file://{tmp_path}/index"
    # at test scale AQE coalesces the range shuffle to ONE file and there
    # is nothing to prune; disable coalescing for the build so the layout
    # has the many name-clustered files a real corpus produces
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        ivf_build(spark, store, emb, n_centroids=8, kmeans_iterations=0, dim=64)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    _, m = resolve_tip(store)
    files = m["files"]
    assert len(files) > 2, "need several files for pruning to mean anything"

    one = _probes(emb).limit(1)
    out = ivf_search(spark, store, one, k=5, n_probe=1)
    assert out.count() == 5
    # recompute the pruning decision the search made: 1 probe × 1 cell
    from prometheus_parquet_server_spark.pipeline.similarity import (
        centroid_cells_udf,
    )

    cents = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .orderBy("vec_id").limit(8).collect()
    )
    centroids = [list(r["embedding"]) for r in cents]
    cell = one.withColumn(
        "c", centroid_cells_udf(centroids, 1)(F.col("probe_vec"))[0]
    ).collect()[0]["c"]
    probed = [f"cell={cell:04d}"]
    touched = [f for f in files if name_overlaps(f, probed)]
    assert 0 < len(touched) < len(files)


def test_rebuild_overwrites_and_time_travel_serves_old_index(spark, tmp_path):
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_read,
    )

    emb = _emb(spark)
    store = f"file://{tmp_path}/index"
    v1 = ivf_build(spark, store, emb, n_centroids=4, kmeans_iterations=0, dim=64)
    r1 = sorted(map(tuple, ivf_search(spark, store, _probes(emb), k=3).collect()))

    v2 = ivf_build(spark, store, emb, n_centroids=8, kmeans_iterations=0, dim=64)
    assert v2 > v1
    # tip index has 8 centroids; the v1 snapshot still has 4
    assert (
        snapshot_read(spark, store, names=[CENTROID_NAME])
        .filter(F.col("name") == CENTROID_NAME).count() == 8
    )
    assert (
        snapshot_read(spark, store, version=v1, names=[CENTROID_NAME])
        .filter(F.col("name") == CENTROID_NAME).count() == 4
    )
    # time-travel search reproduces the v1 results exactly
    r1_again = sorted(
        map(tuple, ivf_search(spark, store, _probes(emb), k=3, version=v1).collect())
    )
    assert r1_again == r1


def test_search_without_index_raises(spark, tmp_path):
    import pytest

    emb = _emb(spark)
    store = f"file://{tmp_path}/empty"
    with pytest.raises(FileNotFoundError):
        ivf_search(spark, store, _probes(emb))


def test_ivf_append_searches_like_a_rebuild_with_same_centroids(spark, tmp_path):
    """Appended vectors are searchable immediately; results equal a
    direct ivf_topk over the FULL corpus using the ORIGINAL centroids —
    base ids stay below the new ids, so iterations=0 centroid init is
    identical and the only difference is the store round-trip."""
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    store = f"file://{tmp_path}/index"
    from prometheus_parquet_server_spark.pipeline.ann_store import ivf_append

    v1 = ivf_build(spark, store, base, n_centroids=8, kmeans_iterations=0, dim=64)
    v2 = ivf_append(spark, store, extra)
    assert v2 > v1

    got = sorted(
        map(tuple, ivf_search(spark, store, _probes(emb), k=5, n_probe=3).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_topk(
                emb, _probes(emb), k=5, n_centroids=8, n_probe=3,
                kmeans_iterations=0, dim=64,
            ).collect(),
        )
    )
    assert got == want
    # time travel: the pre-append index still answers without the extras
    pre = ivf_search(spark, store, _probes(emb), k=5, n_probe=3, version=v1)
    assert all(r["neighbor_id"] < 400 for r in pre.collect())


def test_ivf_append_without_index_raises(spark, tmp_path):
    import pytest
    from prometheus_parquet_server_spark.pipeline.ann_store import ivf_append

    with pytest.raises(FileNotFoundError):
        ivf_append(spark, f"file://{tmp_path}/none", _emb(spark))


def test_snapshot_write_txn_makes_append_idempotent(spark, tmp_path):
    """snapshot_write's new append txn marker: same (app, version) twice
    → second call writes NOTHING (version unchanged, no duplicate rows);
    a later version advances; overwrite + txn raises."""
    import pytest

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_properties,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    store = f"file://{tmp_path}/s"
    df1 = spark.createDataFrame(
        [("a", 1.0, 1.0)], "name string, ts double, value double"
    )
    v1 = snapshot_write(spark, store, df1, mode="append", txn=("w", 0))
    assert snapshot_properties(spark, store)["txn_w"] == 0
    # redelivery: same marker → no-op, same version, no duplicate rows
    assert snapshot_write(spark, store, df1, mode="append", txn=("w", 0)) == v1
    assert snapshot_version(spark, store) == v1
    assert snapshot_read(spark, store).count() == 1
    # next batch advances
    v2 = snapshot_write(spark, store, df1, mode="append", txn=("w", 1))
    assert v2 > v1 and snapshot_read(spark, store).count() == 2
    # stale replay after the advance is still a no-op
    assert snapshot_write(spark, store, df1, mode="append", txn=("w", 0)) == v2
    assert snapshot_read(spark, store).count() == 2
    with pytest.raises(ValueError):
        snapshot_write(spark, store, df1, mode="overwrite", txn=("w", 9))


def test_stream_ivf_ingest_appends_without_duplicates(spark, tmp_path):
    from prometheus_parquet_server_spark.pipeline.ann_store import (
        ivf_append,
        stream_ivf_ingest,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_read,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400)
    store = f"file://{tmp_path}/index"
    ivf_build(spark, store, base, n_centroids=4, kmeans_iterations=0, dim=64)

    src = tmp_path / "vecs"
    src.mkdir()
    emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)).coalesce(
        1
    ).write.parquet(f"file://{src}/b0")
    emb.filter(F.col("vec_id") >= 450).coalesce(1).write.parquet(
        f"file://{src}/b1"
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"file://{src}/*")
    )
    q = stream_ivf_ingest(stream, spark, store)
    q.awaitTermination(120)

    total = (
        snapshot_read(spark, store)
        .filter(F.col("name") != CENTROID_NAME)
        .count()
    )
    assert total == emb.count()
    # replaying a committed batch id is a VERSION-PRESERVING no-op
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_version,
    )

    before = snapshot_version(spark, store)
    v = ivf_append(
        spark,
        store,
        emb.filter(F.col("vec_id") >= 450),
        txn=("stream_ivf_ingest", 0),
    )
    assert v == before == snapshot_version(spark, store)
    assert (
        snapshot_read(spark, store).filter(F.col("name") != CENTROID_NAME).count()
        == total
    )


def test_rebuild_carries_txn_markers_and_stale_append_raises(spark, tmp_path):
    """Two marker-lifetime contracts: (1) an ivf_build rebuild must carry
    txn_* markers forward across the overwrite, so a committed batch
    redelivered after the rebuild is still a no-op; (2) an append whose
    centroids were read at a version the tip has moved past must raise,
    never commit stale-clustered rows."""
    import pytest

    from prometheus_parquet_server_spark.pipeline.ann_store import ivf_append
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        ConcurrentWriteError,
        snapshot_properties,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    store = f"file://{tmp_path}/index"
    ivf_build(spark, store, base, n_centroids=4, kmeans_iterations=0, dim=64)
    ivf_append(spark, store, extra, txn=("w", 7))
    assert snapshot_properties(spark, store)["txn_w"] == 7

    # rebuild (overwrite) — the marker must survive
    ivf_build(spark, store, emb, n_centroids=4, kmeans_iterations=0, dim=64)
    assert snapshot_properties(spark, store)["txn_w"] == 7
    total = snapshot_read(spark, store).filter(F.col("name") != CENTROID_NAME).count()
    # redelivery after the rebuild: still a no-op
    v = ivf_append(spark, store, extra, txn=("w", 7))
    assert v == snapshot_version(spark, store)
    assert (
        snapshot_read(spark, store).filter(F.col("name") != CENTROID_NAME).count()
        == total
    )

    # stale-centroid CAS: simulate an append prepared against an old tip
    old = snapshot_version(spark, store)
    snapshot_write(
        spark,
        store,
        spark.createDataFrame(
            [("cell=0000", 0.0, 9999, [0.0] * 64, None, None)],
            "name string, ts double, vec_id long, embedding array<double>, "
            "qvec array<tinyint>, scale float",
        ),
        mode="append",
    )
    df = spark.createDataFrame(
        [("cell=0000", 0.0, 10000, [0.0] * 64, None, None)],
        "name string, ts double, vec_id long, embedding array<double>, "
        "qvec array<tinyint>, scale float",
    )
    with pytest.raises(ConcurrentWriteError):
        snapshot_write(spark, store, df, mode="append", require_parent=old)


def test_quantized_index_recall_and_size(spark, tmp_path):
    """Quantized-store gate (the ANN-recall-gate house pattern): recall@5
    of the int8 index vs the float index must be ≥ 0.9 on sf0.001
    embeddings (measured, not assumed), appends inherit the quantized
    mode via the manifest property, and the quantized cell files are
    materially smaller than the float ones."""
    from prometheus_parquet_server_spark.pipeline.ann_store import ivf_append
    from prometheus_parquet_server_spark.sources.manifest import resolve_tip
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_properties,
        snapshot_read,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    fstore = f"file://{tmp_path}/fi"
    qstore = f"file://{tmp_path}/qi"
    # both stores built IDENTICALLY (base build + append of extra) so the
    # centroids, cells and probe sets match exactly — the ONLY variable
    # between f_res and q_res is int8 quantization noise
    ivf_build(spark, fstore, base, n_centroids=8, kmeans_iterations=0, dim=64)
    ivf_append(spark, fstore, extra)
    ivf_build(
        spark, qstore, base, n_centroids=8, kmeans_iterations=0, dim=64,
        quantize=True,
    )
    assert snapshot_properties(spark, qstore)["ivf_quantized"] is True
    # append inherits the quantized mode
    ivf_append(spark, qstore, extra)
    q = snapshot_read(spark, qstore).filter(F.col("name") != CENTROID_NAME)
    assert q.count() == emb.count()
    assert q.filter(F.col("qvec").isNull()).count() == 0

    probes = _probes(emb)
    f_res = ivf_search(spark, fstore, probes, k=5, n_probe=3).collect()
    q_res = ivf_search(spark, qstore, probes, k=5, n_probe=3).collect()
    f_top = {}
    for r in f_res:
        f_top.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for r in q_res:
        total += 1
        hits += r["neighbor_id"] in f_top.get(r["probe_id"], set())
    recall = hits / total
    assert recall >= 0.9, f"quantized recall@5 = {recall}"

    # 4x storage claim: compare per-row data bytes of cell files
    def data_bytes(store):
        _, m = resolve_tip(store)
        return sum(f["n_bytes"] for f in m["files"])

    assert data_bytes(qstore) < 0.5 * data_bytes(fstore), (
        data_bytes(qstore), data_bytes(fstore),
    )


def test_quantized_build_keeps_duplicate_ids_row_for_row(spark, tmp_path):
    """Regression: the quantized arm must NOT join the corpus on id — two
    rows sharing vec_id=7 stay two rows (a join would cross-pair them
    into four, with cells from one row and qvecs from the other)."""
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_read,
    )

    rows = [(7, [1.0] * 64), (7, [-1.0] * 64), (8, [0.5] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = f"file://{tmp_path}/dupq"
    ivf_build(spark, store, df, n_centroids=2, kmeans_iterations=0, dim=64, quantize=True)
    data = snapshot_read(spark, store).filter(F.col("name") != CENTROID_NAME)
    assert data.count() == 3
    assert data.filter(F.col("vec_id") == 7).count() == 2
