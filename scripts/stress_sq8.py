#!/usr/bin/env python
"""Scale stress for the SQ8 scalar-quantized index (pipeline/sq.py).

Claims under test:

1. **Compressed at rest**: one int code per dimension in a bit-packed
   parquet int list ≈ 1 byte/dim vs 8 for the raw float64 arrays —
   reported as measured store bytes / raw vector bytes (and vs the raw
   vectors' own parquet files, the honest baseline since parquet
   compresses floats too).
2. **Quantization preserves neighbor structure on clustered data**:
   planted near-twins (corpus vectors + ~0.1% perturbation) must come
   back rank-1 from sq8_topk on the clustered corpus
   (stress_ivfpq's corpus rationale: uniform vectors have no neighbor
   structure to preserve — distance concentration makes recall noise).
3. **Search wall scales with the corpus scan, not worse**: the distance
   stage is the Arrow-batched numpy kernel emitting per-batch top-k
   rows (the position-explode equi-join form was measured first at
   92.8 s/1M and replaced — sq.py module docstring, EXPLAIN §49).

Prints one JSON line for BASELINE.md.

Usage: python scripts/stress_sq8.py [N_SMALL] [N_LARGE]
(defaults 100_000 / 1_000_000).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from prometheus_parquet_server_spark import get_spark
from prometheus_parquet_server_spark.pipeline.sq import (
    sq8_build,
    sq8_rerank_topk,
    sq8_topk,
)
from prometheus_parquet_server_spark.sources.manifest import resolve_tip

DIM = 64
N_TWINS = 20


def _vectors(spark, n, n_clusters=96):
    """stress_ivfpq's deterministic clustered pseudo-embeddings."""
    cid = F.pmod(F.col("id"), F.lit(n_clusters))
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (F.pmod(F.xxhash64(cid, i), F.lit(2000)) - 1000)
        / F.lit(1000.0)
        + (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) - 1000)
        / F.lit(20000.0),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), comp.alias("embedding")
    )


def run(spark, n):
    base = _vectors(spark, n)
    # planted near-twins: ids n..n+N_TWINS−1 are ids 0..N_TWINS−1 plus a
    # ~0.1%-scale deterministic perturbation
    twins = _vectors(spark, N_TWINS).select(
        (F.col("vec_id") + n).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x + (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(200)) - 100)
            / F.lit(100000.0),
        ).alias("embedding"),
    )
    vecs = base.unionByName(twins).localCheckpoint()

    raw_dir = tempfile.mkdtemp(prefix="sq8_raw_")
    vecs.write.mode("overwrite").parquet(raw_dir)

    store = f"file://{tempfile.mkdtemp(prefix='stress_sq8_')}/index"
    t0 = time.time()
    sq8_build(spark, store, vecs, dim=DIM)
    t_build = round(time.time() - t0, 2)

    _, manifest = resolve_tip(store)
    index_bytes = sum(int(f.get("n_bytes", 0)) for f in manifest["files"])
    raw_f64_bytes = (n + N_TWINS) * DIM * 8
    raw_parquet_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fns in os.walk(raw_dir) for f in fns
        if f.endswith(".parquet")
    )

    probes = base.filter(F.col("vec_id") < N_TWINS)
    t0 = time.time()
    approx = {
        r["probe_id"]: r["neighbor_id"]
        for r in sq8_topk(spark, store, probes, k=1).collect()
    }
    t_search = round(time.time() - t0, 2)
    recall1 = sum(
        1 for pid, nid in approx.items() if nid == pid + n
    ) / float(N_TWINS)

    t0 = time.time()
    rr = {
        r["probe_id"]: r["neighbor_id"]
        for r in sq8_rerank_topk(
            spark, store, probes, vecs, k=1, k_adc=20
        ).collect()
    }
    t_rerank = round(time.time() - t0, 2)
    recall1_rr = sum(
        1 for pid, nid in rr.items() if nid == pid + n
    ) / float(N_TWINS)

    # celled variant (round 13): same codes, Voronoi cells on the name
    # axis, search scans ONLY manifest-pruned probed cells — the claim
    # is the per-batch wall drops toward n_probe/n_cells of the flat
    # scan while twin recall holds (the probe's own cell is always
    # probed: it is its own cosine rank-1)
    from prometheus_parquet_server_spark.pipeline.sq import (
        ivfsq8_build,
        ivfsq8_topk,
    )

    cstore = f"file://{tempfile.mkdtemp(prefix='stress_ivfsq8_')}/index"
    t0 = time.time()
    ivfsq8_build(
        spark, cstore, vecs, n_cells=64, n_probe_default=8,
        kmeans_iterations=0, dim=DIM,
    )
    t_cbuild = round(time.time() - t0, 2)
    t0 = time.time()
    capprox = {
        r["probe_id"]: r["neighbor_id"]
        for r in ivfsq8_topk(spark, cstore, probes, k=1, n_probe=8).collect()
    }
    t_csearch = round(time.time() - t0, 2)
    recall1_c = sum(
        1 for pid, nid in capprox.items() if nid == pid + n
    ) / float(N_TWINS)

    # serving-batch phase: at 20 probes both searches are dominated by
    # scan and fixed overheads; at a production batch (500 probes) the
    # distance work is probes × rows and the celled index should win by
    # ~n_cells/n_probe on the kernel term
    big_probes = base.filter(F.col("vec_id") < 500)
    t0 = time.time()
    n_flat = sq8_topk(spark, store, big_probes, k=1).count()
    t_flat500 = round(time.time() - t0, 2)
    t0 = time.time()
    n_cell = ivfsq8_topk(spark, cstore, big_probes, k=1, n_probe=8).count()
    t_cell500 = round(time.time() - t0, 2)
    assert n_flat == n_cell == 500, (n_flat, n_cell)

    return {
        "n": n,
        "walls_s": {"build": t_build, "topk": t_search, "rerank": t_rerank,
                    "ivfsq8_build": t_cbuild, "ivfsq8_topk": t_csearch,
                    "topk_500probes": t_flat500,
                    "ivfsq8_topk_500probes": t_cell500},
        "bytes": {
            "index": index_bytes,
            "raw_f64": raw_f64_bytes,
            "raw_parquet": raw_parquet_bytes,
            "index_over_raw_f64": round(index_bytes / raw_f64_bytes, 4),
            "index_over_raw_parquet": round(
                index_bytes / raw_parquet_bytes, 4
            ),
        },
        "twin_recall_at1": {"sq8": recall1, "sq8_rerank": recall1_rr,
                            "ivfsq8_nprobe8_of64": recall1_c},
    }


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_large = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark("stress-sq8")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"small": run(spark, n_small), "large": run(spark, n_large)}
    for stage in out["small"]["walls_s"]:
        s, l = out["small"]["walls_s"][stage], out["large"]["walls_s"][stage]
        out.setdefault("scale_ratio", {})[stage] = round(l / max(s, 1e-9), 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
