"""Zip-of-Parquet source (S1 in SURVEY.md §2.1).

Reference parity: /root/reference/src/metricstore.rs:29-102, 548-568 —
open the ``.zip``, enumerate ``*.parquet`` members, derive each metric's
base name from the member file name (strip ``.parquet``, legalize,
metricstore.rs:189-201), apply the re-tag mapping by directory prefix, and
ingest every member; per-file failures are logged and skipped, not fatal
(metricstore.rs:556-565).

Spark stance (SURVEY §2.1 S1): unzip once to a scratch directory and let
``spark.read.parquet`` scan plain files — zips are not a splittable format,
so keeping them zipped would serialize the scan through one reader. Each
member is written under a generated file name in a fresh directory:
Spark reads a path as a glob pattern, so a member's own name holding
``{ } [ ] * ?`` would not be found. At 100 TB the ingest job reads an
already-unzipped object-store prefix and this module is only the
compatibility shim for the reference's input layout.

Building the frame runs no Spark job: each member's schema is converted
from its Parquet footer on the driver (:func:`.footer.read_parquet`) and
handed to the reader, instead of one schema-inference job per member. A
member written by Spark, or one whose footer cannot be converted, is
inferred as before; a corrupt member fails either way and is skipped.
"""

from __future__ import annotations

import logging
import shutil
import tempfile
import zipfile
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from prometheus_parquet_server_spark.labels import legalize_metric_name
from prometheus_parquet_server_spark.sources.footer import read_parquet
from prometheus_parquet_server_spark.sources.ingest import wide_to_long
from prometheus_parquet_server_spark.sources.retag import member_prefix

log = logging.getLogger(__name__)


def metric_base_name(member_name: str) -> str:
    """File stem → legal metric name (metricstore.rs:189-201)."""
    stem = member_name.replace("\\", "/").rsplit("/", 1)[-1]
    if stem.endswith(".parquet"):
        stem = stem[: -len(".parquet")]
    return legalize_metric_name(stem)


def ingest_zip(
    spark: SparkSession,
    zip_path: str | Path,
    mapping: dict[str, dict[str, str]] | None = None,
    scratch_dir: str | None = None,
    types_out: dict[str, str] | None = None,
) -> DataFrame:
    """Ingest every ``*.parquet`` member of the zip into one canonical long
    DataFrame. ``mapping`` (from retag.read_mapping) gates members: a member
    whose directory prefix is unmapped is SKIPPED (metricstore.rs:82-84);
    ``mapping=None`` ingests everything with no fixed labels.
    ``types_out`` (optional dict, mutated in place) collects the
    ingest-time Prometheus metadata type per canonical metric name
    (ingest.metric_type_map) — hand it to
    MetricsHTTPServer(metric_types=...) so /api/v1/metadata reports
    histograms as histograms.
    """
    if scratch_dir is not None:
        Path(scratch_dir).mkdir(parents=True, exist_ok=True)
    # a fresh directory per call: the frames read their files lazily, so a
    # later call must not overwrite them
    scratch = Path(tempfile.mkdtemp(prefix="pps_zip_", dir=scratch_dir))
    frames: list[DataFrame] = []
    with zipfile.ZipFile(zip_path) as zf:
        members = [m for m in zf.namelist() if m.endswith(".parquet")]
        for i, member in enumerate(members):
            prefix = member_prefix(member)
            if mapping is not None and prefix not in mapping:
                log.info("skipping %s: unmapped prefix %r", member, prefix)
                continue
            fixed = (mapping or {}).get(prefix, {})
            try:
                # a generated name: Spark reads a path as a glob pattern, so
                # a member name holding { } [ ] * ? would not be found
                extracted = scratch / f"member-{i:05d}.parquet"
                with zf.open(member) as src, open(extracted, "wb") as dst:
                    shutil.copyfileobj(src, dst)
                wide = read_parquet(spark, str(extracted))
                if types_out is not None:
                    from prometheus_parquet_server_spark.sources.ingest import (
                        metric_type_map,
                    )

                    types_out.update(
                        metric_type_map(wide.schema, metric_base_name(member))
                    )
                frames.append(wide_to_long(wide, metric_base_name(member), fixed))
            except Exception as exc:  # per-file failure is non-fatal
                log.warning("skipping %s: %s", member, exc)
    if not frames:
        return spark.createDataFrame(
            [], "name string, labels map<string,string>, ts double, value double"
        )
    return reduce(lambda a, b: a.unionByName(b), frames)
