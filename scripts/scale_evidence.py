#!/usr/bin/env python
"""Core-scaling evidence (VERDICT r14 next #8): the sf0.1 bench rows are
fixed-overhead-bound (every 8c/32c ratio ≤ 1.21), so they cannot certify
the 100 TB posture. This script times three genuinely shuffle/compute-
heavy operator workloads on synthetic data big enough to parallelize, so
the low-core/high-core wall ratio shows whether the plans actually scale
with cores. Run it once per core count:

    SPARK_GRAFT_CPUS=8  python scripts/scale_evidence.py plans/r15/scale_c8.json
    SPARK_GRAFT_CPUS=32 python scripts/scale_evidence.py plans/r15/scale_c32.json

Workloads (deterministic synthetic inputs, no testdata dependence):
- resample_rate: 480k series x ~8 samples -> 84-slot grid resample + rate
  (the promql core: one wide shuffle + windows over ~10M output rows)
- minhash_band: MinHash signatures + banding + candidate self-join over
  240k short docs (explode + hash aggregate + band equi-join)
- edit_dp: threshold-banded Levenshtein over ~60k planted pairs of ~1.5KB
  texts (pure JVM compute, the widest CPU fan-out in the engine)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from prometheus_parquet_server_spark import get_spark


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def w_resample_rate(spark) -> None:
    from prometheus_parquet_server_spark.operators.grid import RegularTimeRange
    from prometheus_parquet_server_spark.operators.rate import rate_to_grid

    n_series, n_samples = 480_000, 8
    base = spark.range(n_series * n_samples).select(
        (F.col("id") % n_series).cast("string").alias("skey"),
        (
            F.lit(1000.0)
            + (F.col("id") / n_series).cast("long").cast("double") * 120.0
            + F.pmod(F.xxhash64("id"), 97).cast("double")
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(1)), 1000).cast("double").alias("value"),
    )
    m = base.select(
        F.lit("m").alias("name"),
        F.create_map(F.lit("k"), F.col("skey")).alias("labels"),
        "ts",
        "value",
    ).groupBy("name", "labels", "ts").agg(F.max("value").alias("value"))
    grid = RegularTimeRange(1000.0, 1000.0 + 83 * 15.0, 15.0)
    _noop(rate_to_grid(m, grid.to_df(spark), over_range=300.0, grid=grid))


def w_minhash_band(spark) -> None:
    from prometheus_parquet_server_spark.pipeline.dedup import (
        lsh_candidate_pairs,
    )

    words = F.array(*[F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(j)), 5000).cast("string")) for j in range(30)])
    docs = spark.range(240_000).select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    )
    _noop(lsh_candidate_pairs(docs, num_perm=8, bands=4, shingle_n=2, max_bucket=200))


def w_edit_dp(spark) -> None:
    from prometheus_parquet_server_spark.pipeline.dedup import (
        edit_distance_pairs,
    )

    n = 60_000
    mk = F.concat(*[F.pmod(F.xxhash64("id", F.lit(j)), 100000).cast("string") for j in range(150)])
    docs = spark.range(n).select(F.col("id").alias("doc_id"), mk.alias("text"))
    pairs = spark.range(n // 2).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    _noop(edit_distance_pairs(docs, pairs, max_dist=400))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_evidence.json"
    spark = get_spark("scale-evidence")
    spark.range(10).count()  # JVM warm
    results = {}
    warm = {}
    for name, fn in [
        ("resample_rate", w_resample_rate),
        ("minhash_band", w_minhash_band),
        ("edit_dp", w_edit_dp),
    ]:
        spark.sparkContext.setJobDescription(f"scale_evidence: {name}")
        t0 = time.time()
        fn(spark)
        results[name] = round(time.time() - t0, 2)
        # second run in the same session: codegen/JIT warm, so this is the
        # data term — the number whose core-count ratio certifies scaling
        # (the cold number mixes in the compile cost, which is fixed per
        # session and does not scale with cores)
        t0 = time.time()
        fn(spark)
        warm[name] = round(time.time() - t0, 2)
        print(f"{name}: cold {results[name]}s warm {warm[name]}s", flush=True)
    payload = {
        "cpus": spark.sparkContext.defaultParallelism,
        "queries": results,
        "queries_warm": warm,
        "total": round(sum(results.values()), 2),
        "total_warm": round(sum(warm.values()), 2),
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
