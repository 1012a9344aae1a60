"""Rollup cascade: re-aggregated partials must equal direct aggregation."""

import math

import pytest
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.operators.rollup import (
    rollup_cascade,
    time_bucket_partials,
)
from prometheus_parquet_server_spark.sources.ingest import epoch_micros

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def base(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    return ev.select(
        "event_type", (epoch_micros(ev) / F.lit(1e6)).alias("ts"), "value"
    ).cache()


def _collect(df):
    return {
        (r["event_type"], r["bucket_ts"]): (
            r["n"], r["sum_v"], r["min_v"], r["max_v"]
        )
        for r in df.collect()
    }


def test_cascade_equals_direct(base):
    levels = rollup_cascade(base, (60.0, 3600.0, 86400.0), by=("event_type",))
    for width in (3600.0, 86400.0):
        direct = _collect(
            time_bucket_partials(base, width, by=("event_type",))
        )
        cascaded = _collect(levels[width])
        assert set(direct) == set(cascaded)
        for key, (n, s, mn, mx) in direct.items():
            cn, cs, cmn, cmx = cascaded[key]
            assert cn == n and cmn == mn and cmx == mx
            # sums re-combine in a different order — equal to float tolerance
            assert math.isclose(cs, s, rel_tol=1e-12)


def test_level_row_counts_decrease(base):
    levels = rollup_cascade(base, (60.0, 3600.0, 86400.0), by=("event_type",))
    counts = [levels[w].count() for w in (60.0, 3600.0, 86400.0)]
    assert counts[0] > counts[1] > counts[2] > 0
    # total event count is preserved through every level
    raw = base.count()
    for w in (60.0, 3600.0, 86400.0):
        assert levels[w].agg(F.sum("n")).first()[0] == raw


def test_bad_widths(base):
    with pytest.raises(ValueError, match="nest"):
        rollup_cascade(base, (60.0, 90.0))
    with pytest.raises(ValueError, match="width_s"):
        time_bucket_partials(base, 0)
    with pytest.raises(ValueError, match="at least one"):
        rollup_cascade(base, ())


def test_inexact_float_widths_rejected(base):
    """floor(ts/0.1)*0.1 buckets do NOT nest inside 0.3 buckets (0.3/0.1
    is 2.999… in doubles, and 0.1*3 != 0.3 bit-for-bit) — rows would
    silently migrate between coarse buckets, so the cascade must refuse."""
    with pytest.raises(ValueError, match="nest"):
        rollup_cascade(base, (0.1, 0.3), by=("event_type",))
    # exact float nesting (0.25 → 0.5 → 1.0) is fine
    levels = rollup_cascade(base, (0.25, 0.5, 1.0), by=("event_type",))
    assert levels[1.0].count() > 0


def test_exact_rollup_rejects_nonfinite(spark):
    """exact=True sums DECIMAL — NaN/Inf would cast to NULL and silently
    vanish; the guarded cast must fail the job loudly instead."""
    import pytest
    from prometheus_parquet_server_spark.operators.rollup import rollup_cascade

    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 20.0, float("nan"))],
        "event_type string, ts double, value double",
    )
    levels = rollup_cascade(df, (60.0,), by=("event_type",), exact=True)
    with pytest.raises(Exception, match="finite"):
        levels[60.0].collect()
    # the float path keeps NaN-poisoning semantics untouched
    rows = rollup_cascade(df, (60.0,), by=("event_type",))[60.0].collect()
    import math
    assert math.isnan(rows[0]["sum_v"])


def test_rollup_ingest_incremental_equals_one_shot(spark, tmp_path):
    """N rollup_ingest batches must equal ONE ingest of the union, bit for
    bit (decimal partials end-to-end), and equal rollup_cascade over the
    raw union; untouched metrics' files carry over by reference."""
    import pytest
    from prometheus_parquet_server_spark.operators.rollup import (
        rollup_cascade,
        rollup_ingest,
        rollup_read,
    )
    from prometheus_parquet_server_spark.sources.manifest import resolve_tip
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_expire,
    )

    rows = [
        ("click", 10.0 + 37.0 * i, float((i * 13) % 97) / 7.0) for i in range(200)
    ] + [("view", 100000.0 + 61.0 * i, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "event_type string, ts double, value double")

    inc = f"file://{tmp_path}/inc"
    for band in range(3):
        from pyspark.sql import functions as F

        rollup_ingest(
            spark, inc, df.filter(F.floor(F.col("ts")).cast("long") % 3 == band)
        )
    one = f"file://{tmp_path}/one"
    rollup_ingest(spark, one, df)

    def snap(store, width=None):
        return sorted(
            tuple(r) for r in rollup_read(spark, store, width_s=width).collect()
        )

    assert snap(inc) == snap(one)  # minute level, exact decimal equality
    assert snap(inc, 3600.0) == snap(one, 3600.0)

    # equals the in-memory cascade over the union (decimal partials)
    direct = rollup_cascade(df, (60.0,), by=("event_type",), exact=True)[60.0]
    want = sorted(
        (r["event_type"], r["bucket_ts"], r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in direct.collect()
    )
    assert snap(inc) == want

    # a batch touching ONLY 'view' must carry 'click' files by reference
    _, before = resolve_tip(inc)
    click_files_before = {
        f["path"] for f in before["files"] if f["max_name"] <= "click"
    }
    more = spark.createDataFrame(
        [("view", 100000.0, 5.0)], "event_type string, ts double, value double"
    )
    rollup_ingest(spark, inc, more)
    _, after = resolve_tip(inc)
    assert click_files_before <= {f["path"] for f in after["files"]}

    # retention composes: manifest-level expire on the partial store
    v = snapshot_expire(spark, inc, min_ts=100000.0)
    assert v is not None
    left = {r[0] for r in snap(inc)}
    assert left == {"view"}


def test_rollup_store_width_pinned_and_validated(spark, tmp_path):
    """The ingest width is a store property: a second ingest at a
    different width raises (mixing granularities), and rollup_read rejects
    a serving width that does not nest exactly; NaN ts fails the ingest
    loudly instead of folding into the epoch-0 bucket."""
    import pytest
    from prometheus_parquet_server_spark.operators.rollup import (
        rollup_ingest,
        rollup_read,
    )

    store = f"file://{tmp_path}/w"
    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 70.0, 2.0)],
        "event_type string, ts double, value double",
    )
    rollup_ingest(spark, store, df, width_s=60.0)
    with pytest.raises(ValueError, match="properties conflict"):
        rollup_ingest(spark, store, df, width_s=30.0)
    with pytest.raises(ValueError, match="nest exactly"):
        rollup_read(spark, store, width_s=90.0).collect()
    assert rollup_read(spark, store, width_s=120.0).count() == 1

    bad = spark.createDataFrame(
        [("a", float("nan"), 1.0)], "event_type string, ts double, value double"
    )
    with pytest.raises(Exception, match="NaN ts"):
        rollup_ingest(spark, store, bad, width_s=60.0)
    # the store is untouched by the failed ingest
    assert rollup_read(spark, store).count() == 2


def test_rollup_store_full_lifecycle_stays_exact(spark, tmp_path):
    """10 incremental ingests + compaction + vacuum on the partial store
    must leave exactly the direct aggregation — the continuous-aggregate
    story composes with every maintenance pass."""
    from pyspark.sql import functions as F

    from prometheus_parquet_server_spark.operators.rollup import (
        rollup_cascade,
        rollup_ingest,
        rollup_read,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_compact,
        snapshot_vacuum,
        snapshot_version,
    )

    rows = [
        (("click", "view")[i % 2], 5.0 + 11.0 * i, float((i * 17) % 31))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "event_type string, ts double, value double")
    store = f"file://{tmp_path}/life"
    for b in range(10):
        rollup_ingest(spark, store, df.filter(F.floor("ts").cast("long") % 10 == b))
    assert snapshot_version(spark, store) == 10
    snapshot_compact(spark, store, target_file_bytes=64 * 1024 * 1024)
    deleted = snapshot_vacuum(spark, store, keep_last=1, min_age_s=0)
    assert deleted  # old versions + superseded data files reclaimed

    got = sorted(tuple(r) for r in rollup_read(spark, store).collect())
    direct = rollup_cascade(df, (60.0,), by=("event_type",), exact=True)[60.0]
    want = sorted(
        (r["event_type"], r["bucket_ts"], r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in direct.collect()
    )
    assert got == want


def test_rollup_ingest_txn_redelivery_is_idempotent(spark, tmp_path):
    """The foreachBatch redelivery hazard: a batch whose fold COMMITTED but
    whose streaming offsets didn't is delivered again. With txn=(app, id)
    the marker rides the same manifest as the fold, so the replay is a
    version-preserving no-op; without it the same replay double-counts."""
    import pytest
    from prometheus_parquet_server_spark.operators.rollup import (
        rollup_ingest,
        rollup_read,
    )
    from prometheus_parquet_server_spark.sources.snapshot_store import (
        snapshot_properties,
        snapshot_version,
    )

    rows = [("click", 10.0 + 7.0 * i, float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "event_type string, ts double, value double")
    b0 = df.filter(F.col("ts") < 150.0)
    b1 = df.filter(F.col("ts") >= 150.0)
    store = f"file://{tmp_path}/txn"

    v0 = rollup_ingest(spark, store, b0, txn=("app", 0))
    after_first = sorted(tuple(r) for r in rollup_read(spark, store).collect())
    # exact redelivery of batch 0: same version, same rows, marker intact
    assert rollup_ingest(spark, store, b0, txn=("app", 0)) == v0
    assert sorted(tuple(r) for r in rollup_read(spark, store).collect()) == after_first
    assert snapshot_properties(spark, store)["txn_app"] == 0

    v1 = rollup_ingest(spark, store, b1, txn=("app", 1))
    assert v1 > v0 and snapshot_properties(spark, store)["txn_app"] == 1
    after_second = sorted(tuple(r) for r in rollup_read(spark, store).collect())
    # stale redelivery of batch 0 AFTER batch 1 landed: still a no-op
    assert rollup_ingest(spark, store, b0, txn=("app", 0)) == v1
    assert sorted(tuple(r) for r in rollup_read(spark, store).collect()) == after_second

    # a DIFFERENT writer's ids are tracked independently (its version 0
    # must not be confused with app's) — and the fold really applies
    v2 = rollup_ingest(spark, store, b0, txn=("other", 0))
    assert v2 > v1 and snapshot_properties(spark, store)["txn_other"] == 0
    doubled = sorted(tuple(r) for r in rollup_read(spark, store).collect())
    assert doubled != after_second  # b0 folded twice on purpose this time

    with pytest.raises(ValueError):
        rollup_ingest(spark, store, b1, txn=("", 5))
    assert snapshot_version(spark, store) == v2
