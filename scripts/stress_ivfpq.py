#!/usr/bin/env python
"""Scale stress for the persisted IVF-PQ index (pipeline/pq.py — VERDICT
r9 Next #4, the stress_ann_store / stress_dsir pattern).

Claims under test at ~1M vectors:

1. **Probe cost is sublinear and manifest-governed**: a search probing
   ``n_probe`` of ``n_cells`` cells must open ≈ ``n_probe/n_cells`` of
   the index FILES (the manifest prune decision, measured directly
   against the manifest file list) and its wall must grow far slower
   than linearly in n_probe (the fixed driver/scheduling floor
   dominates small probes; the scan fraction governs the tail).
2. **Append is O(new)**: one ivfpq_append of a 10% batch re-encodes only
   the batch against the frozen quantizers; a search after the append
   sees the union corpus with no rebuild.
3. **Compressed at rest**: the per-vector payload in the store is m code
   bytes + a cell id (no raw embedding column) — reported as the ratio
   of index data bytes to raw float64 vector bytes. (No int8-vs-f64
   cell variant applies: PQ codes are already sub-byte-per-dimension;
   the int8 comparison lives in the flat-scan family,
   tests/test_ann_recall.py.)

Prints one JSON line for BASELINE.md.

Usage: python scripts/stress_ivfpq.py [N] [N_CELLS] (defaults 1_000_000 / 64).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

import pandas as pd
from pyspark.sql import functions as F

from prometheus_parquet_server_spark import get_spark
from prometheus_parquet_server_spark.pipeline.pq import (
    _load_quantizers,
    _probe_cell_tables,
    ivfpq_append,
    ivfpq_build,
    ivfpq_search,
)
from prometheus_parquet_server_spark.sources.manifest import name_overlaps, resolve_tip
from prometheus_parquet_server_spark.sources.snapshot_store import (
    snapshot_version,
)

DIM = 64


def _unpack_codes_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _unpack(b: pd.Series) -> pd.Series:
        return pd.Series([[int(x) for x in bytes(v)] for v in b])

    return _unpack


def _vectors(spark, n, offset=0, n_clusters=96):
    """Deterministic CLUSTERED pseudo-embeddings: vector v sits near
    cluster center hash(v mod n_clusters) with a small hash-derived
    offset. Uniform random vectors are the wrong stress corpus for an
    ANN index — in high dimension all pairs are near-equidistant, so
    recall is noise-floor flat no matter what the index does; clustered
    data is both the realistic embedding shape and the setting where
    recall-vs-n_probe measures the index rather than the corpus. No
    RNG, no I/O bias, identical across runs."""
    cid = F.pmod(F.col("id"), F.lit(n_clusters))
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (F.pmod(F.xxhash64(cid, i), F.lit(2000)) - 1000)
        / F.lit(1000.0)
        + (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) - 1000)
        / F.lit(20000.0),
    )
    return (
        spark.range(offset, offset + n)
        .select(F.col("id").alias("vec_id"), comp.alias("embedding"))
    )


def production_phase(spark, vecs, probes, probe_rows, twin_ids, n, n_cells):
    """VERDICT r10 Next #3 — the PRODUCTION geometry the 500-vector
    fixtures cannot train (EXPLAIN §37's caveat): k_codes=256 with
    byte-typed (binary) code storage on the clustered 1M corpus.
    Measures (a) tie-aware planted-twin recall at that geometry, and
    (b) the REAL at-rest bytes/vector — binary m-byte codes vs the same
    codes as array<int>, same rows, same writer (apples-to-apples; the
    int-list format already bit-packs values, so the delta is the
    per-element list overhead this phase exists to quantify)."""
    import numpy as np

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_read,
    )

    m, k_codes = 8, 256
    store = f"file://{tempfile.mkdtemp(prefix='stress_ivfpq_prod_')}/index"
    t0 = time.time()
    ivfpq_build(
        spark, store, vecs, n_cells=n_cells, n_probe_default=4, m=m,
        k_codes=k_codes, coarse_iterations=1, pq_iterations=1, dim=DIM,
        code_type="binary",
    )
    t_build = round(time.time() - t0, 2)

    _, manifest = resolve_tip(store)
    index_bytes = sum(int(f.get("n_bytes", 0)) for f in manifest["files"])
    raw_bytes = n * DIM * 8

    version = snapshot_version(spark, store)
    coarse, codebook = _load_quantizers(spark, store, version, m, k_codes)

    # at-rest comparison: the SAME (vec_id, cell, code) rows written once
    # with binary codes and once as array<int>, same writer/settings
    codes_df = (
        snapshot_read(spark, store)
        .filter(F.col("name").startswith("cell="))
        .select("vec_id", "name", "code")
    ).localCheckpoint()
    import os

    def _dir_bytes(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fns in os.walk(path) for f in fns
            if f.endswith(".parquet")
        )

    bin_dir = tempfile.mkdtemp(prefix="codes_bin_")
    int_dir = tempfile.mkdtemp(prefix="codes_int_")
    codes_df.write.mode("overwrite").parquet(bin_dir)
    # binary → array<int> for the comparison write: decode in an Arrow
    # kernel (measurement path only)
    _unpack = _unpack_codes_udf()

    codes_df.select(
        "vec_id", "name", _unpack("code").alias("code")
    ).write.mode("overwrite").parquet(int_dir)
    bin_bytes, int_bytes = _dir_bytes(bin_dir), _dir_bytes(int_dir)

    # tie-aware twin recall at the production geometry (n_probe=4): the
    # same planted-twin metric as the main sweep
    n_probe = 4
    got = ivfpq_search(spark, store, probes, k=10, n_probe=n_probe).collect()
    probed_cells, tables = _probe_cell_tables(
        probe_rows, coarse, codebook, n_probe, 1e6, "vec_id", "embedding"
    )
    twin_rows = (
        snapshot_read(spark, store)
        .filter(F.col("vec_id").isin(twin_ids))
        .select("vec_id", "name", "code")
        .collect()
    )
    twin_codes = {
        r["vec_id"]: (int(r["name"].split("=")[1]),
                      np.frombuffer(r["code"], dtype=np.uint8).astype(np.int64))
        for r in twin_rows
    }
    midx = np.arange(m)
    worst = {}
    for r in got:
        worst[r["probe_id"]] = max(worst.get(r["probe_id"], -1), r["dist_u"])
    found = 0
    for pid, cells in probed_cells.items():
        for j in range(10):
            cell, code = twin_codes[n + pid * 10 + j]
            if cell not in cells:
                continue
            dist = int(tables[(pid, cell)][midx, code].sum())
            if dist <= worst.get(pid, -1):
                found += 1
    return {
        "m": m,
        "k_codes": k_codes,
        "code_type": "binary",
        "build_wall_s": t_build,
        "index_bytes": index_bytes,
        "at_rest_ratio": round(index_bytes / raw_bytes, 4),
        "codes_parquet_bytes_binary": bin_bytes,
        "codes_parquet_bytes_int_array": int_bytes,
        "binary_vs_int_ratio": round(bin_bytes / int_bytes, 3) if int_bytes else None,
        "bytes_per_vector_binary": round(bin_bytes / n, 2),
        "bytes_per_vector_int_array": round(int_bytes / n, 2),
        "twin_recall_tieaware_nprobe4": round(found / 50.0, 3),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_cells = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    m, k_codes = 8, 16
    spark = get_spark("stress-ivfpq")
    spark.sparkContext.setLogLevel("ERROR")

    base = _vectors(spark, n)
    # plant 10 TRUE near-neighbors (twins at ~1e-3 per-dim offsets) for
    # each of the 5 probes: on hash-synthetic data every non-planted
    # pair is near-equidistant (distance concentration), so exact
    # recall@10 of unplanted neighbors measures the corpus, not the
    # index — planted twins are the honest target (the stress_dsir
    # planted-signal pattern): the index finds them only if the coarse
    # router sends the probe to their cell AND ADC ranks them up top.
    probe_base = base.filter(F.col("vec_id") < 5)
    twins = (
        probe_base.crossJoin(
            spark.range(10).select(F.col("id").alias("_j"))
        ).select(
            (F.lit(n) + F.col("vec_id") * 10 + F.col("_j")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + (F.pmod(F.xxhash64(F.col("_j"), i), F.lit(2000)) - 1000)
                / F.lit(1000000.0),
            ).alias("embedding"),
        )
    )
    vecs = base.unionByName(twins).cache()
    vecs.count()

    store = f"file://{tempfile.mkdtemp(prefix='stress_ivfpq_')}/index"
    t0 = time.time()
    ivfpq_build(
        spark, store, vecs, n_cells=n_cells, n_probe_default=4, m=m,
        k_codes=k_codes, coarse_iterations=1, pq_iterations=1, dim=DIM,
    )
    t_build = round(time.time() - t0, 2)

    _, manifest = resolve_tip(store)
    # a file carries cell data iff its name range overlaps the cell names
    # (range clustering can pack the reserved _coarse/_codebook rows into
    # the same file as the first cells at small scale)
    cell_lo, cell_hi = "cell=0000", f"cell={n_cells - 1:04d}"
    data_files = [
        f for f in manifest["files"]
        if f.get("min_name") is not None
        and f["min_name"] <= cell_hi and f["max_name"] >= cell_lo
    ]
    n_files = len(data_files)
    index_bytes = sum(int(f.get("n_bytes", 0)) for f in manifest["files"])
    raw_bytes = n * DIM * 8

    # the probe set MUST be exactly the vectors the twins were planted
    # for (vec_id 0-4) — an unordered limit(5) over the union could pick
    # twin rows or arbitrary ids and poison the recall metric
    probes = probe_base.select("vec_id", "embedding").cache()
    probes.count()

    version = snapshot_version(spark, store)
    coarse, codebook = _load_quantizers(spark, store, version, m, k_codes)
    probe_rows = probes.collect()

    # exact full-scan wall as the cost baseline (one corpus scan for the
    # whole burst — what answering WITHOUT the index costs)
    t0 = time.time()
    p = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    d2 = (
        "aggregate(zip_with(probe_vec, embedding,"
        " (x,y)->(x-y)*(x-y)), cast(0 as double), (a,v)->a+v)"
    )
    from pyspark.sql import Window

    scored = vecs.join(
        F.broadcast(p), F.col("probe_id") != F.col("vec_id")
    ).select(
        "probe_id", F.col("vec_id").alias("neighbor_id"), F.expr(d2).alias("_d")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_d").asc(), F.col("neighbor_id").asc()
    )
    n_truth = (
        scored.withColumn("_r", F.row_number().over(w)).filter("_r <= 10").count()
    )
    t_brute = round(time.time() - t0, 2)
    assert n_truth == 50

    # the twins' STORED codes, read once through the manifest (for the
    # tie-aware quality metric below)
    import numpy as np

    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_read,
    )

    twin_rows = (
        snapshot_read(spark, store)
        .filter(F.col("vec_id") >= n)
        .select("vec_id", "name", "code")
        .collect()
    )
    twin_codes = {
        r["vec_id"]: (int(r["name"].split("=")[1]),
                      np.asarray(r["code"], dtype=np.int64))
        for r in twin_rows
    }
    midx = np.arange(m)

    sweep = []
    for n_probe in (2, 4, 8, 16, n_cells):
        t0 = time.time()
        got = ivfpq_search(spark, store, probes, k=10, n_probe=n_probe).collect()
        wall = round(time.time() - t0, 2)
        rows = len(got)
        probed_cells, tables = _probe_cell_tables(
            probe_rows, coarse, codebook, n_probe, 1e6, "vec_id", "embedding"
        )
        # tie-aware planted-twin recall: ADC resolution is m codes per
        # vector, so a 1e-3-offset twin quantizes to the SAME codes as
        # hundreds of cluster members — exact top-10 membership is then
        # decided by the deterministic id tie-break, which says nothing
        # about the index. A twin counts as FOUND iff its cell is probed
        # AND its exact integer ADC distance ties into the probe's
        # top-10 (dist_u <= the rank-10 dist_u) — the quantity the
        # router + ADC actually control.
        worst = {}
        for r in got:
            worst[r["probe_id"]] = max(
                worst.get(r["probe_id"], -1), r["dist_u"]
            )
        found = 0
        for pid, cells in probed_cells.items():
            for j in range(10):
                cell, code = twin_codes[n + pid * 10 + j]
                if cell not in cells:
                    continue
                dist = int(tables[(pid, cell)][midx, code].sum())
                if dist <= worst.get(pid, -1):
                    found += 1
        recall = round(found / 50.0, 3)
        probed_names = sorted(
            {f"cell={c:04d}" for cells in probed_cells.values() for c in cells}
        )
        opened = sum(1 for f in data_files if name_overlaps(f, probed_names))
        sweep.append(
            {
                "cells_probed": len(probed_names),
                "cell_fraction": round(len(probed_names) / n_cells, 3),
                "n_probe": n_probe,
                "wall_s": wall,
                "rows": rows,
                "twin_recall_tieaware": recall,
                "files_opened": opened,
                "file_fraction": round(opened / n_files, 3) if n_files else None,
                "probe_fraction": round(n_probe / n_cells, 3),
            }
        )

    # append-then-search: 10% new vectors against the frozen quantizers
    batch = _vectors(spark, n // 10, offset=n + 1000)  # past the twin id block
    t0 = time.time()
    ivfpq_append(spark, store, batch)
    t_append = round(time.time() - t0, 2)
    t0 = time.time()
    rows_after = ivfpq_search(spark, store, probes, k=10, n_probe=4).count()
    t_after = round(time.time() - t0, 2)

    twin_ids = [n + pid * 10 + j for pid in range(5) for j in range(10)]
    prod = production_phase(
        spark, vecs, probes, probe_rows, twin_ids, n, n_cells
    )

    print(
        json.dumps(
            {
                "n_vectors": n,
                "n_cells": n_cells,
                "m": m,
                "k_codes": k_codes,
                "build_wall_s": t_build,
                "index_data_files": n_files,
                "index_bytes": index_bytes,
                "raw_vector_bytes": raw_bytes,
                "at_rest_ratio": round(index_bytes / raw_bytes, 4),
                "exact_scan_wall_s": t_brute,
                "probe_sweep": sweep,
                "append_10pct_wall_s": t_append,
                "search_after_append_wall_s": t_after,
                "rows_after_append": rows_after,
                "production_geometry": prod,
            }
        )
    )


if __name__ == "__main__":
    main()
