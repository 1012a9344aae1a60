"""Parquet footer readers — metadata the sources layer needs without a
Spark job.

Every Parquet file ends in a footer that holds its schema, its row count
and per-row-group column min/max statistics. Two driver-side readers use
it:

* :func:`footer_schema` converts a file's Parquet schema to a Spark
  schema with Spark's own ``ParquetToSparkSchemaConverter`` and the
  session's SQL conf, so ``nanosAsLong``, ``inferTimestampNTZ``,
  ``binaryAsString`` and ``int96AsTimestamp`` apply exactly as in
  schema inference. Handing that schema to ``spark.read.schema(...)``
  skips the inference job ``spark.read.parquet`` runs per path.
* :func:`footer_stats` reads the row count and the ``name``/``ts``
  min/max of a snapshot-store data file with pyarrow, for the file's
  manifest entry — in place of a scan of the files just written.

Both return None when the footer cannot answer; callers then fall back
to the Spark job the footer replaces.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from prometheus_parquet_server_spark.sources.manifest import local_path

#: footer key under which Spark records the writing frame's schema; its
#: inference prefers that schema over converting the Parquet one
SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema ``spark.read.parquet(path)`` would infer for one
    file, read from its footer on the driver. None when the file was
    written by Spark (inference takes the schema recorded under
    :data:`SPARK_ROW_METADATA` instead) or when the footer cannot be read
    or converted."""
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    try:
        source = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
        )
        meta = parquet.ParquetFooterReader.readFooter(
            source, skip_row_groups
        ).getFileMetaData()
        if meta.getKeyValueMetaData().containsKey(SPARK_ROW_METADATA):
            return None
        converter = parquet.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        )
        converted = converter.convert(meta.getSchema()).json()
        return StructType.fromJson(json.loads(converted))
    except Py4JJavaError:  # corrupt footer, unsupported type: let inference decide
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for one file, with the schema taken
    from its footer when :func:`footer_schema` can convert it (no
    inference job) and inferred otherwise."""
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def footer_stats(uri: str) -> tuple | None:
    """``(n_rows, min_name, max_name, min_ts, max_ts)`` of the local
    Parquet file at ``uri`` (a bare path or a manifest entry path, see
    :func:`.manifest.data_file_path`), combined over its non-empty row
    groups; the bounds of a zero-row file are None. The two columns are
    found by leaf path, so nested columns such as the ``labels`` map do
    not shift them. None when the footer cannot answer: a non-empty row
    group carries no min/max for either column (parquet-mr drops binary
    statistics above 4 KB), or the file cannot be opened or is not
    local — pyarrow resolves object stores with its own credentials, not
    the Hadoop conf the data was written with."""
    import pyarrow.parquet as pq

    lp = local_path(uri)
    if lp is None:
        return None
    try:
        md = pq.read_metadata(lp)
    except (OSError, ValueError):  # missing or corrupt: the scan decides
        return None
    if not md.num_rows:
        return (0, None, None, None, None)
    bounds: dict[str, list] = {"name": [], "ts": []}
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        if not rg.num_rows:
            continue
        for i in range(rg.num_columns):
            col = rg.column(i)
            if col.path_in_schema in bounds:
                s = col.statistics
                if s is None or not s.has_min_max:
                    return None
                bounds[col.path_in_schema].append((s.min, s.max))
    names, ts = bounds["name"], bounds["ts"]
    if (
        not names
        or not ts
        or not all(isinstance(v, str) for b in names for v in b)
        or not all(isinstance(v, float) for b in ts for v in b)
    ):
        return None
    # + 0.0: parquet writes a zero bound as -0.0 (min) / +0.0 (max)
    return (
        md.num_rows,
        min(lo for lo, _ in names),
        max(hi for _, hi in names),
        min(lo for lo, _ in ts) + 0.0,
        max(hi for _, hi in ts) + 0.0,
    )
