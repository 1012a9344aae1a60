#!/usr/bin/env python
"""Scale stress for the persisted IVF index (pipeline/ann_store).

Synthesizes N deterministic 64-d vectors (spark.range + hash-derived
components — no I/O bias, no RNG), builds the index once, then compares:

1. ivf_search with n_probe << n_centroids — the pruned path (manifest
   file pruning + cell-join). Probes are a SMALL burst (5) — the serving
   shape where pruning pays; a 10⁴-probe batch union-touches every cell
   and degrades to the full scan by design;
2. ivf_search with n_probe == n_centroids — same machinery, zero pruning
   (isolates how much the pruning itself buys);
3. brute_force_topk over the raw vectors — the exact baseline.

Also reports the index file count and how many files the pruned search's
manifest decision actually opens. BASELINE.md records the numbers.
Usage: python scripts/stress_ann_store.py [N] [K_CENTROIDS]
(defaults 1_000_000 / 64).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from prometheus_parquet_server_spark import get_spark
from prometheus_parquet_server_spark.pipeline.ann_store import (
    CENTROID_NAME,
    ivf_build,
    ivf_search,
)
from prometheus_parquet_server_spark.pipeline.similarity import brute_force_topk
from prometheus_parquet_server_spark.sources.manifest import name_overlaps, resolve_tip

DIM = 64


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k_cent = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = get_spark("stress-ann-store")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic pseudo-embeddings: component i of vector v is a
    # hash-derived value in [-1, 1] — fixed across runs, engine-agnostic
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) - 1000)
        / F.lit(1000.0),
    )
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"), comp.alias("embedding")
    ).cache()
    vecs.count()

    store = f"file://{tempfile.mkdtemp(prefix='stress_ivf_')}/index"
    t0 = time.time()
    ivf_build(spark, store, vecs, n_centroids=k_cent, kmeans_iterations=1, dim=DIM)
    t_build = time.time() - t0

    _, m = resolve_tip(store)
    n_files = len(m["files"])

    probes = vecs.limit(5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    ).cache()
    probes.count()

    def run(n_probe):
        t0 = time.time()
        out = ivf_search(spark, store, probes, k=10, n_probe=n_probe)
        rows = out.count()
        return rows, round(time.time() - t0, 2)

    rows_pruned, t_pruned = run(4)
    rows_full, t_full = run(k_cent)

    # the pruning decision for the pruned run: union of probed cell names
    from prometheus_parquet_server_spark.pipeline.similarity import (
        centroid_cells_udf,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import snapshot_read

    cents = (
        snapshot_read(spark, store, names=[CENTROID_NAME]).orderBy("vec_id").collect()
    )
    centroids = [list(r["embedding"]) for r in cents]
    probed = sorted(
        {
            f"cell={c:04d}"
            for r in probes.withColumn(
                "cs", centroid_cells_udf(centroids, 4)(F.col("probe_vec"))
            ).collect()
            for c in r["cs"]
        }
    )
    opened = sum(1 for f in m["files"] if name_overlaps(f, probed))

    t0 = time.time()
    brute = brute_force_topk(vecs, probes, k=10)
    rows_brute = brute.count()
    t_brute = round(time.time() - t0, 2)

    print(
        json.dumps(
            {
                "n_vectors": n,
                "n_centroids": k_cent,
                "build_wall_s": round(t_build, 2),
                "index_files": n_files,
                "pruned_search_wall_s": t_pruned,
                "pruned_files_opened": opened,
                "full_probe_search_wall_s": t_full,
                "brute_force_wall_s": t_brute,
                "rows": [rows_pruned, rows_full, rows_brute],
            }
        )
    )


if __name__ == "__main__":
    main()
