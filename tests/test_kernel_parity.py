"""Cross-path parity for the Arrow numpy kernels.

The LSH banding and IVF cell assignment moved from scalar SQL / HOF
expressions to Arrow-batched numpy matmuls (similarity.banded_buckets_udf,
similarity.centroid_cells_udf). The DuckDB oracle only samples their
outputs; these tests pin the stronger invariant that the kernel paths are
EXACTLY equivalent to the in-engine SQL/Column formulations they replaced —
including the round-to-9-decimals sign rule and tie-breaks.
"""

import math

from pyspark.sql import functions as F

from prometheus_parquet_server_spark.pipeline.similarity import (
    banded_buckets_udf,
    centroid_cells_udf,
    cosine_similarity_col,
    fixed_planes,
    sign_bucket_sql,
)

DIM = 16


def _frame(spark):
    rows = [
        (i, [math.sin(i * 0.7 + j * 0.3) * 2.0 for j in range(DIM)])
        for i in range(60)
    ]
    rows.append((98, [0.0] * DIM))  # zero vector: every projection is +0
    rows.append((99, rows[5][1]))  # exact duplicate: bit-identical buckets
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_banded_buckets_match_sql_path(spark):
    emb = _frame(spark)
    planes = fixed_planes(DIM, 8, seed=7)  # 2 bands x 4 planes
    fn = banded_buckets_udf(planes, 4)
    got = {
        r.vec_id: list(r.b)
        for r in emb.select("vec_id", fn(F.col("embedding")).alias("b")).collect()
    }
    for band in range(2):
        sql = sign_bucket_sql("embedding", planes[band * 4 : (band + 1) * 4])
        want = {
            r.vec_id: r.bk
            for r in emb.select("vec_id", F.expr(sql).alias("bk")).collect()
        }
        for vid, bucket in want.items():
            assert got[vid][band] == bucket, (vid, band, got[vid][band], bucket)
    # zero vector: +0 projections count as sign '1' on both paths
    assert got[98] == ["1" * 4] * 2


def test_centroid_cells_match_exact_cosine(spark):
    emb = _frame(spark)
    centroids = [
        [math.cos(c * 1.1 + j * 0.5) for j in range(DIM)] for c in range(5)
    ]
    centroids.append(list(centroids[0]))  # duplicate centroid: exact tie
    fn = centroid_cells_udf(centroids, 3)
    got = {
        r.vec_id: list(r.cells)
        for r in emb.select("vec_id", fn(F.col("embedding")).alias("cells")).collect()
    }
    # engine-side expected ranking via the Column cosine (HOF fold), the
    # formulation centroid_cells_udf replaced
    sims_cols = [
        cosine_similarity_col(
            F.col("embedding"), F.array(*[F.lit(float(x)) for x in cvec])
        ).alias(f"s{c}")
        for c, cvec in enumerate(centroids)
    ]
    for r in emb.select("vec_id", *sims_cols).collect():
        # the kernel ranks on round(sim, 9) so cross-engine drift below
        # 1e-9 cannot flip a cell — rank the reference sims the same way
        sims = [round(r[f"s{c}"], 9) for c in range(len(centroids))]
        want = sorted(range(len(centroids)), key=lambda c: (-sims[c], c))[:3]
        assert got[r.vec_id] == want, (r.vec_id, got[r.vec_id], want, sims)
    # the duplicated centroid ties exactly; lowest cid must win the order
    for cells in got.values():
        assert not (5 in cells and 0 in cells and cells.index(5) < cells.index(0))


def test_lsh_geometry_scales_with_corpus():
    import math

    from prometheus_parquet_server_spark.pipeline.similarity import lsh_geometry

    b_small, ppb_small = lsh_geometry(2_000, threshold=0.8)
    b_big, ppb_big = lsh_geometry(10_000_000, threshold=0.8)
    # more corpus → more bits per band (smaller buckets), never fewer
    assert ppb_big >= ppb_small
    # every returned geometry actually meets the recall target
    for n, (bands, ppb) in [(2_000, (b_small, ppb_small)), (10_000_000, (b_big, ppb_big))]:
        p = 1.0 - math.acos(0.8) / math.pi
        recall = 1.0 - (1.0 - p**ppb) ** bands
        assert recall >= 0.99, (n, bands, ppb, recall)
    # the measured EXPLAIN §9 point: at 16k the optimizer should beat the
    # pinned 8x4 geometry's estimated verify cost
    bands16, ppb16 = lsh_geometry(16_000, threshold=0.8)
    est = lambda b, k: b * 16_000**2 / (2 * 2**k) + b * 16_000
    assert est(bands16, ppb16) < est(8, 4)
    import pytest

    with pytest.raises(ValueError, match="threshold"):
        lsh_geometry(1000, threshold=1.5)


def test_dedup_embedding_plan_shape(spark):
    """Lock the scale-critical plan properties of the LSH dedup path:
    candidates come from equi-joins (never a nested-loop plan), banding
    runs as the Arrow kernel, and the pair frame keeps its explicit hash
    repartition (the AQE-coalesce guard). A regression in any of these is
    a silent 10x at scale long before it is a wrong answer."""
    from prometheus_parquet_server_spark.driver_contract import QUERIES

    df = QUERIES["dedup_embedding"](spark, "/root/testdata/sf0.001")
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "hashpartitioning(id_a" in plan


def test_pair_cosine_kernel_off_length_falls_back(spark):
    """ADVICE r14: the broadcast-matrix pair-cosine kernel must refuse a
    corpus holding ANY vector whose length != dim — the fold path scores
    off-length vectors over their actual array length, so the kernel
    (which would truncate or drop them) cannot be bit-identical there.
    Returning None routes the whole corpus down the fold path."""
    from prometheus_parquet_server_spark.pipeline.similarity import (
        _pair_cosine_kernel,
    )

    ok = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "_id long, _v array<double>"
    )
    assert _pair_cosine_kernel(ok, 2) is not None

    short = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5])], "_id long, _v array<double>"
    )
    assert _pair_cosine_kernel(short, 2) is None

    long_v = spark.createDataFrame(
        [(1, [1.0, 0.0, 3.0]), (2, [0.0, 1.0])], "_id long, _v array<double>"
    )
    assert _pair_cosine_kernel(long_v, 2) is None

    # NULL vectors stay kernel-eligible (both paths drop their pairs)
    with_null = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "_id long, _v array<double>"
    )
    assert _pair_cosine_kernel(with_null, 2) is not None


def test_pair_cosine_kernel_unknown_id_is_null(spark):
    """ADVICE r14: an id absent from the broadcast matrix must yield a
    NULL cosine (the documented dropped-pair behavior) — never a silent
    neighboring-row gather or an IndexError past the array end. So must
    a pair with a NULL or zero vector, and the cosine is SQL NULL, not
    NaN."""
    from prometheus_parquet_server_spark.pipeline.similarity import (
        _pair_cosine_kernel,
    )

    base = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [1.0, 0.0]), (30, None), (40, [0.0, 0.0])],
        "_id long, _v array<double>",
    )
    fn = _pair_cosine_kernel(base, 2)
    pairs = spark.createDataFrame(
        # 15 searchsorts between the ids; 99 past the end; 10-20 valid;
        # 30 has a NULL vector and 40 a zero one (NULL unit vectors)
        [(10, 20), (10, 15), (10, 99), (10, 30), (40, 10)], "a long, b long"
    )
    rows = {
        (r["a"], r["b"]): (r["c"], r["is_null"], r["is_nan"])
        for r in pairs.select("a", "b", fn(F.col("a"), F.col("b")).alias("c"))
        .selectExpr("a", "b", "c", "c IS NULL AS is_null", "isnan(c) AS is_nan")
        .collect()
    }
    assert rows.pop((10, 20)) == (1.0, False, False)
    # every dropped pair is SQL NULL, never NaN
    assert set(rows.values()) == {(None, True, False)} and len(rows) == 4


def test_keyed_series_null_labels_survive_resample(spark):
    """ADVICE r14: a NULL labels map coalesces to the empty-label series —
    one series row per _skey, and its samples survive the series join
    (they were silently dropped when NULL labels made _skey NULL)."""
    from prometheus_parquet_server_spark.operators.interpolate import (
        keyed_series,
    )

    samples = spark.createDataFrame(
        [("m", None, 0.0, 1.0), ("m", None, 10.0, 3.0), ("m", {"a": "b"}, 0.0, 7.0)],
        "name string, labels map<string,string>, ts double, value double",
    )
    keyed, series = keyed_series(samples)
    srows = series.collect()
    assert len(srows) == 2  # the NULL-labels series is ONE row, not per-name shards
    null_series = [r for r in srows if not r["labels"]]
    assert len(null_series) == 1 and null_series[0]["labels"] == {}
    # the keyed side carries the matching _skey (join keeps the samples)
    joined = keyed.join(series.select("_skey"), "_skey").count()
    assert joined == 3
