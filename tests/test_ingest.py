"""Ingest pipeline tests against the FIXTURES.md §1 wide tables
(reference src/metricstore.rs:104-187, 389-519)."""

import os
import zipfile

import pandas as pd
import pytest

from prometheus_parquet_server_spark.sources import (
    IngestError,
    MetricType,
    classify_metric_type,
    ingest_zip,
    read_mapping,
    wide_to_long,
)
from prometheus_parquet_server_spark.sources.classify import classify_columns
from prometheus_parquet_server_spark.sources.ingest import check_monotonic
from prometheus_parquet_server_spark.sources.retag import member_prefix
from prometheus_parquet_server_spark.sources.store import time_range, write_store
from prometheus_parquet_server_spark.sources.zipsource import metric_base_name


def gauge_pdf():
    return pd.DataFrame(
        {
            "time": [1.0, 2.0, 3.0, 1.0, 2.0],
            "host": ["a", "a", "a", "b", "b"],
            "env": ["prod"] * 5,
            "gauge_value": [1.0, 2.0, 3.0, 10.0, 20.0],
        }
    )


def multi_pdf():
    return pd.DataFrame(
        {
            "timestamp": [1.0, 2.0],
            "region": ["eu", "eu"],
            "value": [5.0, 6.0],
            "errors": [1.0, None],
            "retries": [0.0, 2.0],
        }
    )


def histo_pdf(with_inf=True, with_count=False):
    d = {
        "__time__": [1.0, 2.0],
        "timing": ["transport", "transport"],
        "Le0.1": [1.0, 2.0],
        "Le0.5": [3.0, 4.0],
        "Le1.0E1": [5.0, 6.0],
        "sum": [9.9, 11.1],
        "max": [0.4, 9.0],
    }
    if with_inf:
        d["Le+Inf"] = [6.0, 7.0]
    if with_count:
        d["count"] = [6.0, 7.0]
    return pd.DataFrame(d)


def test_classify_metric_types():
    assert classify_metric_type(["v"]) == MetricType.SINGLE
    assert classify_metric_type(["value", "errors"]) == MetricType.MULTI
    assert classify_metric_type(["Le0.5", "Le+Inf", "count", "sum"]) == MetricType.HISTOGRAM
    with pytest.raises(IngestError, match="mixes"):
        classify_metric_type(["Le0.5", "other"])


def test_classify_columns_rules(spark):
    c = classify_columns(spark.createDataFrame(gauge_pdf()).schema)
    assert c.time_column == "time"
    assert c.value_columns == ("gauge_value",)
    assert set(c.label_columns) == {"host", "env"}

    with pytest.raises(IngestError, match="boolean"):
        classify_columns(
            spark.createDataFrame([(1.0, True)], "time double, flag boolean").schema
        )
    with pytest.raises(IngestError, match="exactly one time"):
        classify_columns(
            spark.createDataFrame([(1.0, 2.0, 3.0)], "time double, timestamp double, v double").schema
        )


def test_single_column_ingest(spark):
    out = wide_to_long(spark.createDataFrame(gauge_pdf()), "m_gauge").collect()
    assert len(out) == 5
    assert {r["name"] for r in out} == {"m_gauge"}
    byhost = {(r["labels"]["host"], r["ts"]): r["value"] for r in out}
    assert byhost[("a", 2.0)] == 2.0 and byhost[("b", 2.0)] == 20.0
    assert all(r["labels"]["env"] == "prod" for r in out)


def test_multi_column_ingest_naming_and_nan(spark):
    out = wide_to_long(spark.createDataFrame(multi_pdf()), "m_requests").collect()
    names = {r["name"] for r in out}
    # 'value' keeps the bare name (metricstore.rs:446-462)
    assert names == {"m_requests", "m_requests_errors", "m_requests_retries"}
    nan_rows = [r for r in out if r["name"] == "m_requests_errors" and r["ts"] == 2.0]
    import math

    assert math.isnan(nan_rows[0]["value"])  # NULL → NaN (metricstore.rs:203-233)


def test_histogram_ingest_with_inf_synthesizes_count(spark):
    out = wide_to_long(spark.createDataFrame(histo_pdf(with_inf=True)), "m_duration").collect()
    names = {r["name"] for r in out}
    assert names == {"m_duration_bucket", "m_duration_sum", "m_duration_max", "m_duration_count"}
    buckets = {r["labels"]["Le"] for r in out if r["name"] == "m_duration_bucket"}
    assert buckets == {"0.1", "0.5", "1.0E1", "+Inf"}
    count = {r["ts"]: r["value"] for r in out if r["name"] == "m_duration_count"}
    assert count == {1.0: 6.0, 2.0: 7.0}  # synthesized from Le+Inf
    assert all(
        r["labels"].get("Le") is None
        for r in out
        if r["name"] != "m_duration_bucket"
    )


def test_histogram_ingest_count_synthesizes_inf(spark):
    out = wide_to_long(
        spark.createDataFrame(histo_pdf(with_inf=False, with_count=True)), "m_duration"
    ).collect()
    inf_rows = {
        r["ts"]: r["value"]
        for r in out
        if r["name"] == "m_duration_bucket" and r["labels"]["Le"] == "+Inf"
    }
    assert inf_rows == {1.0: 6.0, 2.0: 7.0}  # synthesized from count


def test_fixed_labels_and_row_override(spark):
    out = wide_to_long(
        spark.createDataFrame(gauge_pdf()), "m_gauge", {"dc": "ams", "env": "fixed"}
    ).collect()
    # row-level env overrides the fixed one; dc applies everywhere
    assert all(r["labels"]["dc"] == "ams" for r in out)
    assert all(r["labels"]["env"] == "prod" for r in out)


def test_check_monotonic_rejects_duplicates(spark):
    df = wide_to_long(
        spark.createDataFrame(
            pd.DataFrame({"time": [1.0, 1.0], "host": ["a", "a"], "v": [1.0, 2.0]})
        ),
        "m",
    )
    with pytest.raises(IngestError, match="duplicate timestamp"):
        check_monotonic(df)
    check_monotonic(wide_to_long(spark.createDataFrame(gauge_pdf()), "m"))


def test_zip_ingest_with_retag(spark, tmp_path):
    gauge_pdf().to_parquet(tmp_path / "m_gauge.parquet")
    multi_pdf().to_parquet(tmp_path / "m_requests.parquet")
    zpath = tmp_path / "data.parquet.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.write(tmp_path / "m_gauge.parquet", "runA/m-gauge.parquet")
        z.write(tmp_path / "m_requests.parquet", "m_requests.parquet")
        z.writestr("skipped/other.parquet", b"not really parquet")
    ypath = tmp_path / "retag.yaml"
    ypath.write_text(
        "config:\n  skip-unmapped: true\n"
        "mapping:\n  runA:\n    tags:\n      run: A\n  __root__:\n    tags: {}\n"
    )
    mapping = read_mapping(ypath)
    assert mapping == {"runA": {"run": "A"}, "__root__": {}}
    assert member_prefix("runA/m-gauge.parquet") == "runA"
    assert member_prefix("m_requests.parquet") == "__root__"
    assert metric_base_name("runA/m-gauge.parquet") == "m_gauge"  # legalized

    out = ingest_zip(spark, zpath, mapping, scratch_dir=str(tmp_path / "scratch"))
    rows = out.collect()
    names = {r["name"] for r in rows}
    # 'skipped/' prefix is unmapped → member skipped; bad parquet would be
    # skipped non-fatally anyway
    assert names == {"m_gauge", "m_requests", "m_requests_errors", "m_requests_retries"}
    assert all(r["labels"]["run"] == "A" for r in rows if r["name"] == "m_gauge")


#: text that the unpivot's SQL must carry verbatim: a variable reference
#: (Spark SQL turns an unknown one into ""), a quote, a backslash, a
#: backtick, a unicode escape, a newline, non-ASCII
HOSTILE = ["${no.such.key}", "q'uote", "back\\slash", "tick`", "\\u0041",
           "new\nline", "ünï—☃"]


def test_zip_ingest_hostile_names_exact_rows(spark, tmp_path):
    """Label column names, re-tag keys and values, value column names and
    the member file name all reach wide_to_long's SQL text: every one must
    come out verbatim (no ``${...}`` substitution, no unescaping)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        {h: f"{h}!" for h in HOSTILE},
        {h: None if h == HOSTILE[0] else h for h in HOSTILE},  # NULL → absent
    ]
    table = {"time": [1.0, 2.0]}
    table.update({h: [r[h] for r in rows] for h in HOSTILE})
    table["value"] = [1.5, None]
    table["e${no.such.key}"] = [3.0, 4.0]
    pq.write_table(pa.table(table), tmp_path / "m.parquet")
    with zipfile.ZipFile(tmp_path / "z.zip", "w") as z:
        # no braces: Spark reads the extracted member as a glob pattern
        z.write(tmp_path / "m.parquet", "run/m$'`ü.parquet")
    # ${spark.app.name} only here: Spark's Parquet reader itself reads a
    # column of that name as NULL (the app name is a Hadoop conf key)
    fixed = {f"k{h}": f"v{h}" for h in [*HOSTILE, "${spark.app.name}"]}
    fixed[HOSTILE[0]] = "fixed"  # kept where the row's value is NULL
    fixed[HOSTILE[1]] = "fixed"  # the row's value wins

    out = ingest_zip(spark, tmp_path / "z.zip", {"run": fixed},
                     scratch_dir=str(tmp_path / "x"))

    def key(name, labels, ts, value):
        return repr((name, sorted(labels.items()), ts,
                     "NaN" if math.isnan(value) else value))

    base = "m____"
    want = []
    for ts, row, v, e in zip((1.0, 2.0), rows, (1.5, math.nan), (3.0, 4.0)):
        labels = {**fixed, **{h: x for h, x in row.items() if x is not None}}
        want += [key(base, labels, ts, v),
                 key(f"{base}_e__no_such_key_", labels, ts, e)]
    got = [key(r["name"], r["labels"], r["ts"], r["value"]) for r in out.collect()]
    assert sorted(got) == sorted(want)


def test_store_roundtrip(spark, tmp_path):
    df = wide_to_long(spark.createDataFrame(gauge_pdf()), "m_gauge")
    write_store(df, str(tmp_path / "store"))
    from prometheus_parquet_server_spark.sources.store import read_store

    back = read_store(spark, str(tmp_path / "store"))
    assert back.count() == 5
    assert time_range(back) == (1.0, 3.0)
    assert set(back.columns) == {"name", "labels", "ts", "value"}
    # partition pruning by name: the name=... directory exists
    assert (tmp_path / "store" / "name=m_gauge").exists()


def test_timestamp_time_column(spark):
    # parquet TIMESTAMP / TIMESTAMP_NTZ time columns are numeric per the
    # reference's physical-type rule (INT64/INT96) → epoch-seconds doubles
    import datetime

    pdf = pd.DataFrame(
        {
            "time": pd.to_datetime(["2024-01-01T00:00:00", "2024-01-01T00:01:00"]),
            "host": ["a", "a"],
            "v": [1.0, 2.0],
        }
    )
    out = wide_to_long(spark.createDataFrame(pdf), "m").collect()
    ts = sorted(r["ts"] for r in out)
    assert ts == [1704067200.0, 1704067260.0]


def test_store_manifest_detects_tampering(spark, tmp_path):
    from prometheus_parquet_server_spark.sources.store import (
        store_manifest,
        verify_store_manifest,
        write_store,
    )

    mk = lambda rows: spark.createDataFrame(
        rows, "name string, labels map<string,string>, ts double, value double"
    )
    rows = [("a", {}, 1.0, 1.0), ("a", {}, 2.0, 2.0), ("b", {}, 1.0, 3.0)]
    store = str(tmp_path / "store")
    write_store(mk(rows), store)
    # materialize to literal rows (as a persisted manifest would be) —
    # keeping it as a live plan over the same path would let Spark's
    # cache-plan matching serve stale data to BOTH sides of the diff
    manifest = spark.createDataFrame(
        store_manifest(spark, store).collect(),
        "name string, n_rows long, content_hash decimal(20,0)",
    )

    # the same rows under a different file layout must NOT trip it
    write_store(mk(rows).repartition(3), store)
    assert verify_store_manifest(spark, store, manifest).collect() == []

    # extra parquet written straight into a partition dir: 'a' changed,
    # 'b' intact and absent from the diff
    mk([("a", {}, 9.0, 9.0)]).drop("name").write.mode("append").parquet(
        f"{store}/name=a"
    )
    diff = verify_store_manifest(spark, store, manifest).collect()
    assert [(r["name"], r["status"]) for r in diff] == [("a", "changed")]

    # value flip detected even at identical row count
    mk([("b", {}, 1.0, 999.0)]).drop("name").write.mode("overwrite").parquet(
        f"{store}/name=b"
    )
    diff2 = {r["name"]: r["status"] for r in
             verify_store_manifest(spark, store, manifest).collect()}
    assert diff2 == {"a": "changed", "b": "changed"}


def test_store_manifest_null_labels_digest(spark, tmp_path):
    """A NULL label map keys as the empty set, so a NULL-labels row hashes
    like the same row with ``{}`` labels (earlier versions keyed it NULL, so
    their manifests of such stores now verify as ``changed``)."""
    from prometheus_parquet_server_spark.sources.store import store_manifest

    digests = []
    for labels in (None, {}):
        store = str(tmp_path / f"store{len(digests)}")
        write_store(
            spark.createDataFrame(
                [("a", labels, 1.0, 2.0)],
                "name string, labels map<string,string>, ts double, value double",
            ),
            store,
        )
        (row,) = store_manifest(spark, store).collect()
        digests.append((row["n_rows"], int(row["content_hash"])))
    assert digests == [(1, NULL_LABELS_DIGEST)] * 2


NULL_LABELS_DIGEST = 16581603958427627685


def test_metric_type_map_serving_types(spark):
    """ingest.metric_type_map: the histogram family reports "histogram"
    for every derived name; scalar tables report "unknown" (the Le-regex
    knows bucket structure, never counter-vs-gauge)."""
    from prometheus_parquet_server_spark.sources.ingest import metric_type_map

    hdf = spark.createDataFrame(histo_pdf(with_inf=True))
    tm = metric_type_map(hdf.schema, "m_duration")
    assert tm == {
        "m_duration_bucket": "histogram",
        "m_duration_sum": "histogram",
        "m_duration_max": "histogram",
        "m_duration_count": "histogram",
    }
    sdf = spark.createDataFrame([(1.0, 2.0)], "time double, value double")
    assert metric_type_map(sdf.schema, "m_plain") == {"m_plain": "unknown"}


def test_zip_members_with_glob_characters_are_ingested(spark, tmp_path):
    """Spark reads a path as a glob pattern, so a member extracted under its
    own name holding ``{ } [ ] * ?`` was not found and was skipped. Each
    member is extracted under a generated name; the metric keeps the
    member's base name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    members = ["run/a{b}.parquet", "run/c[d].parquet", "run/e*f?.parquet", "run/g{h,i}.parquet"]
    with zipfile.ZipFile(tmp_path / "z.zip", "w") as z:
        for i, member in enumerate(members):
            path = tmp_path / f"{i}.parquet"
            pq.write_table(pa.table({"time": [1.0, 2.0], "value": [float(i), 10.0 + i]}), path)
            z.write(path, member)
    out = ingest_zip(spark, tmp_path / "z.zip", scratch_dir=str(tmp_path / "x"))
    got = sorted((r["name"], str(r["labels"]), r["ts"], r["value"]) for r in out.collect())
    want = sorted(
        (metric_base_name(m), "{}", ts, v)
        for i, m in enumerate(members)
        for ts, v in ((1.0, float(i)), (2.0, 10.0 + i))
    )
    assert got == want
    assert len({r[0] for r in got}) == len(members)
