"""Integrity digest of the name-partitioned plain sink.

The manifest digest is multiplicity-sensitive (the XOR blind spot).
"""

from __future__ import annotations

from prometheus_parquet_server_spark.sources.store import (
    store_manifest,
    write_store,
)


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "name string, labels map<string,string>, ts double, value double"
    )


def test_manifest_sum_catches_even_multiplicity_swap(spark, tmp_path):
    """The ADVICE XOR blind spot: {R1,R1,R2} vs {R2,R2,R2} have equal row
    counts and equal XOR digests (both reduce to h(R2)); the wrapping-sum
    digest must distinguish them."""
    s1, s2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    r1, r2 = ("m", {}, 1.0, 1.0), ("m", {}, 2.0, 2.0)
    write_store(mk(spark, [r1, r1, r2]), s1)
    write_store(mk(spark, [r2, r2, r2]), s2)
    m1 = store_manifest(spark, s1).collect()[0]
    m2 = store_manifest(spark, s2).collect()[0]
    assert m1["n_rows"] == m2["n_rows"] == 3
    assert m1["content_hash"] != m2["content_hash"]
