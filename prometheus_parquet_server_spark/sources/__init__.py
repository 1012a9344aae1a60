from prometheus_parquet_server_spark.sources.classify import (
    ColumnClassification,
    IngestError,
    MetricType,
    classify_columns,
    classify_metric_type,
)
from prometheus_parquet_server_spark.sources.filesource import (
    ingest_directory,
    ingest_file,
    read_wide_quarantine,
)
from prometheus_parquet_server_spark.sources.ingest import wide_to_long
from prometheus_parquet_server_spark.sources.retag import read_mapping
from prometheus_parquet_server_spark.sources.snapshot_store import (
    ConcurrentWriteError,
    read_any_store,
    snapshot_as_of,
    snapshot_select,
    snapshot_compact,
    snapshot_expire,
    snapshot_history,
    snapshot_read,
    snapshot_upsert,
    snapshot_vacuum,
    snapshot_version,
    snapshot_write,
)
from prometheus_parquet_server_spark.sources.store import (
    read_store,
    store_manifest,
    verify_store_manifest,
    write_store,
)
from prometheus_parquet_server_spark.sources.zipsource import ingest_zip

__all__ = [
    "ColumnClassification",
    "IngestError",
    "MetricType",
    "classify_columns",
    "classify_metric_type",
    "wide_to_long",
    "ingest_directory",
    "ingest_file",
    "read_mapping",
    "read_store",
    "write_store",
    "read_wide_quarantine",
    "store_manifest",
    "verify_store_manifest",
    "ingest_zip",
    "ConcurrentWriteError",
    "read_any_store",
    "snapshot_as_of",
    "snapshot_select",
    "snapshot_expire",
    "snapshot_compact",
    "snapshot_history",
    "snapshot_read",
    "snapshot_upsert",
    "snapshot_vacuum",
    "snapshot_version",
    "snapshot_write",
]
