"""Spark 4 Python Data Source over the snapshot store.

Registers the snapshot store (``sources/snapshot_store.py``) as a
first-class ``spark.read.format(...)`` source via the public
``pyspark.sql.datasource`` API, so the table format plugs into the
standard reader/readStream surface instead of requiring the library's
own ``snapshot_read`` entry points:

    from prometheus_parquet_server_spark.sources.pyds import (
        register_snapshot_source)
    register_snapshot_source(spark)
    df = spark.read.format("pps_snapshot").load(store_path)
    live = spark.readStream.format("pps_snapshot").load(store_path)
    df.write.format("pps_snapshot").mode("append").save(store_path)
    stream.writeStream.format("pps_snapshot").option(
        "txn_app_id", "my-sink").start(store_path)

Batch read
    * ``version`` option time-travels exactly like ``snapshot_read``;
      ``timestamp_as_of`` (epoch seconds) resolves the version as of a
      wall-clock instant, the ``snapshot_as_of`` rule. Mutually
      exclusive.
    * ``pushFilters`` receives Catalyst's typed filters; equality / IN
      on ``name`` and range comparisons on ``ts`` drive MANIFEST-level
      file pruning (min/max stats recorded at commit time — no footer
      is opened for a pruned file). Every filter is yielded back as
      unhandled, so Spark re-applies the exact row-level predicate:
      pruning is a conservative plan optimization, never a semantics
      change.
    * one :class:`InputPartition` per surviving data file; ``read``
      yields pyarrow record batches (Arrow transfer, not row tuples).

Streaming read (the version tail)
    The store's commit log doubles as a change feed — the same public
    pattern as Delta's streaming source. Offsets are manifest versions;
    each micro-batch delivers the files ADDED by commits in
    ``(start, end]``:

    * ``append`` commits deliver ``files(v) − files(parent)``;
    * data-preserving / data-removing maintenance (``compact``,
      ``expire``) delivers nothing — no new rows exist;
    * row-rewriting commits (``overwrite`` / ``upsert`` / ``merge``)
      RAISE by default. With ``ignore_changes=true`` their new files
      are delivered whole — which re-delivers rewritten old rows
      alongside genuinely new ones. That is the public Delta
      ``ignoreChanges`` contract: at-least-once on updated rows,
      never silent loss.
    * ``starting_version`` option: ``latest`` tails only commits made
      after the stream starts; an integer N replays from version N
      (inclusive). Default replays the full history from v1, so the
      first micro-batch carries the initial table content.
    * ``max_files_per_trigger`` option (the Delta pattern): cap how
      many data files a micro-batch delivers, so a long-running stream
      ingests bursts of commits in bounded batches (a version always
      admits whole — the cap bounds batches, it never splits a commit).
      Caveat: the FIRST batch after a (re)start is uncapped — Spark
      asks for the latest offset before the source can learn the
      committed offset, and a capped guess could land below it, which
      would re-plan processed versions (the JVM ReadLimit API that
      solves this isn't exposed to Python sources). Pacing engages
      from the second trigger on.

    Offsets checkpoint as ``{"version": N}``; ``partitions(start,
    end)`` is a pure function of the immutable manifests, so recovery
    after a crash re-plans the identical batch (exactly-once with an
    idempotent sink, e.g. ``snapshot_write(txn=...)``).

Write (batch and streaming)
    ``df.write.format("pps_snapshot")`` commits one atomic manifest per
    job: executor tasks stream their Arrow batches into one parquet
    file each (stats measured on the same pass that writes the bytes;
    NULL/NaN keys fail the task so nothing commits, and each entry,
    built by ``manifest.file_entry`` like snapshot_write's, records
    ``null_free``), and the driver
    commits the manifest through :mod:`.manifest`, the one protocol
    ``snapshot_write`` and every other JVM-side verb commit through —
    exclusive publish into the CAS slot, junk-slot skipping, append
    rebase on a moved tip, the same append schema gate — so
    Python-committed and JVM-committed versions interleave safely on
    one store, also across processes. The streaming sink appends one
    commit per micro-batch; option ``txn_app_id`` rides the store's
    Delta-style txn marker keyed by the batch id, making redelivered
    batches no-ops (exactly-once output). Data files are written with
    local I/O, so the writer takes local/file: stores only; the
    manifest module also commits to object stores with a registered
    ``CommitBackend``.

Scale notes: planning reads only the JSON manifests (driver-side,
O(files) smallness); executors touch exactly the surviving parquet
files and stream them as Arrow batches. The Python worker hop costs
more per byte than the JVM parquet scan — ``snapshot_select`` remains
the hot serving path; this source buys the standard-API integration
and the incremental change-feed consumption the native path lacks.

Reference parity: the reference server has no table format or change
feed (its store is a directory of parquet files, src/metricstore.rs);
this module is part of the beyond-reference storage layer SURVEY §2.1
documents.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from prometheus_parquet_server_spark.sources.manifest import (
    append,
    commit,
    commit_properties,
    data_file_path,
    file_entry,
    local_path,
    new_manifest,
    prune,
    read_manifest,
    resolve,
    resolve_tip,
    validated_append_schema,
    version_as_of,
)

# Manifest access is Spark-free (:mod:`.manifest`): DataSource planning
# and commits run in Python worker processes with no JVM handle.


def _resolve_batch_manifest(options) -> dict:
    """The manifest a batch read plans against: ``version`` (exact),
    ``timestamp_as_of`` (epoch seconds — the snapshot_as_of rule: highest
    readable version committed at or before the instant; pre-commit-time
    manifests count as infinitely old), or the tip. The two time-travel
    options are mutually exclusive."""
    root = options.get("path")
    if not root:
        raise ValueError("pps_snapshot: a store path is required")
    v = options.get("version")
    ts = options.get("timestamp_as_of")
    if v is not None and ts is not None:
        raise ValueError(
            "pps_snapshot: version and timestamp_as_of are mutually "
            "exclusive time-travel options"
        )
    if ts is not None:
        _, m = version_as_of(root, float(ts))
        if m is None:
            raise FileNotFoundError(
                f"no snapshot of {root} existed at epoch {float(ts)}"
            )
        return m
    return resolve(root, int(v) if v is not None else None)[1]


def _extract_bounds(filters):
    """(names | None, ts_lo, ts_hi) from Catalyst's typed pushdown
    filters. Only top-level ``name`` / ``ts`` predicates narrow the
    plan; everything else is ignored here and re-applied by Spark.
    EqualTo(NaN) never arrives (Catalyst folds NaN comparisons), and
    the bounds only ever SHRINK the candidate range, so an unrecognized
    shape degrades to a full-file-list scan, not a wrong answer."""
    names = None
    ts_lo, ts_hi = float("-inf"), float("inf")
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr == ("name",):
            if isinstance(f, EqualTo) and isinstance(f.value, str):
                names = [f.value] if names is None else [
                    n for n in names if n == f.value
                ]
            elif isinstance(f, In) and all(
                isinstance(v, str) for v in f.value
            ):
                vs = list(f.value)
                names = vs if names is None else [n for n in names if n in vs]
        elif attr == ("ts",):
            v = getattr(f, "value", None)  # e.g. IsNotNull carries none
            if not isinstance(v, (int, float)) or v != v:
                continue
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                ts_lo = max(ts_lo, float(v))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                ts_hi = min(ts_hi, float(v))
            elif isinstance(f, EqualTo):
                ts_lo = max(ts_lo, float(v))
                ts_hi = min(ts_hi, float(v))
    return names, ts_lo, ts_hi


class _FilePartition(InputPartition):
    """One immutable data file. Carries only what read() needs — the
    partition pickles to executors."""

    def __init__(self, path: str):
        self.path = path


def _read_file(path: str, schema: StructType) -> Iterator:
    """Stream one parquet file as Arrow batches with columns in Spark's
    schema order (the DS contract matches by position). A column the
    file predates (additive schema evolution via merge_schema) is
    null-filled at the recorded type, matching the JVM reader's pinned
    scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    columns = [f.name for f in schema.fields]
    lp = local_path(path)
    if lp is not None:
        have = set(pq.read_schema(lp).names)
        table = pq.read_table(lp, columns=[c for c in columns if c in have])
    else:
        from pyarrow import fs as pafs

        afs, p = pafs.FileSystem.from_uri(path)
        have = set(pq.read_schema(p, filesystem=afs).names)
        table = pq.read_table(
            p, columns=[c for c in columns if c in have], filesystem=afs
        )
    target = to_arrow_schema(schema)
    for c in columns:
        if c not in have:
            table = table.append_column(
                target.field(c),
                pa.nulls(table.num_rows, type=target.field(c).type),
            )
    yield from table.select(columns).to_batches()


# ---------------------------------------------------------------------------
# Batch
# ---------------------------------------------------------------------------


class SnapshotBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._options = dict(options)
        if not options.get("path"):
            raise ValueError("pps_snapshot: a store path is required")
        self._names = None
        self._ts_lo, self._ts_hi = float("-inf"), float("inf")

    def pushFilters(self, filters):
        self._names, self._ts_lo, self._ts_hi = _extract_bounds(filters)
        # everything is re-applied by Spark — stat pruning is conservative
        yield from filters

    def partitions(self):
        m = _resolve_batch_manifest(self._options)
        files = prune(m["files"], self._names, self._ts_lo, self._ts_hi)
        # Spark requires ≥1 partition; an empty store/prune reads nothing
        return [_FilePartition(f["path"]) for f in files] or [
            _FilePartition("")
        ]

    def read(self, partition):
        if not partition.path:
            return
        yield from _read_file(partition.path, self._schema)


# ---------------------------------------------------------------------------
# Streaming (version tail / change feed)
# ---------------------------------------------------------------------------


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._root = options.get("path")
        if not self._root:
            raise ValueError("pps_snapshot: a store path is required")
        self._starting = options.get("starting_version")
        self._ignore_changes = str(
            options.get("ignore_changes", "false")
        ).lower() in ("true", "1", "yes")
        # admission control (the Delta maxFilesPerTrigger pattern): cap
        # how many data files one micro-batch may deliver, so a stream
        # that falls behind a big store catches up in bounded batches
        # instead of one giant replay. 0/absent = unbounded.
        self._max_files = int(options.get("max_files_per_trigger", 0) or 0)
        self._cursor: int | None = None  # last batch-end version we planned
        self._delta_cache: dict[int, list[str]] = {}  # manifests immutable

    def initialOffset(self) -> dict:
        if self._starting is None:
            return {"version": 0}  # replay from v1: first batch = table
        if str(self._starting).lower() == "latest":
            return {"version": resolve_tip(self._root)[0] or 0}
        return {"version": max(0, int(self._starting) - 1)}

    def latestOffset(self) -> dict:
        tip = resolve_tip(self._root)[0] or 0
        if not self._max_files or self._cursor is None:
            # Unbounded — or the FIRST trigger after (re)start. Spark asks
            # for the latest offset before the source ever learns the
            # committed offset (initialOffset comes later, and only on
            # fresh queries), so a capped first answer could fall BELOW
            # the checkpointed offset; offsets compare by equality only,
            # and a below-committed answer re-plans already-processed
            # versions. The safe floor is the tip: the first batch
            # carries the backlog uncapped, pacing engages from the
            # second trigger on. (The JVM admission-control API that
            # solves this — ReadLimit — is not exposed to Python
            # sources; re-checked against pyspark 4.1.2 in round 10:
            # DataSourceStreamReader.latestOffset still takes no limit
            # argument and pyspark.sql.datasource defines no ReadLimit
            # type, so the documented limitation stands.)
            self._cursor = tip
            return {"version": tip}
        v, files = self._cursor, 0
        while v < tip:
            step = len(self._delta_files(v + 1))
            if files and files + step > self._max_files:
                break  # budget hit — but always admit >=1 version
            files += step
            v += 1
        self._cursor = v
        return {"version": v}

    def _delta_files(self, v: int) -> list[str]:
        """Paths ADDED by version v, per the module contract above.
        Manifests are immutable, so results memoize per version — the
        pacing walk in latestOffset and the batch plan in partitions
        would otherwise re-parse the same file lists every trigger."""
        cached = self._delta_cache.get(v)
        if cached is not None:
            return cached
        try:
            m = read_manifest(self._root, v)
        except FileNotFoundError as e:
            # a MISSING manifest is vacuumed history under a lagging
            # stream — silent skip here would be silent data loss
            raise RuntimeError(
                f"pps_snapshot stream: manifest v{v} no longer exists "
                f"(vacuumed under a lagging stream?) — cannot stream the "
                f"gap; reprocess the store as a batch"
            ) from e
        except (ValueError, KeyError):
            # torn junk slot (unparseable bytes) — never readable, and
            # writers numbered past it; nothing was committed at v
            self._delta_cache[v] = []
            return []
        op = m.get("operation", "append")
        if op in ("compact", "expire"):
            self._delta_cache[v] = []
            return []  # rewrites/removes existing rows; nothing new
        initial = op == "overwrite" and m.get("parent") is None
        if op != "append" and not initial and not self._ignore_changes:
            # upsert / merge / non-initial overwrite (or an op this reader
            # predates) rewrite rows — fail loudly rather than guess
            raise RuntimeError(
                f"pps_snapshot stream: version {v} is a row-rewriting "
                f"'{op}' commit; restart with option ignore_changes=true "
                f"to deliver its new files (re-delivers rewritten rows) "
                f"or reprocess the store as a batch"
            )
        parent = m.get("parent")
        if parent is None:
            delta = [f["path"] for f in m["files"]]
            self._delta_cache[v] = delta
            return delta
        try:
            pm = read_manifest(self._root, parent)
        except Exception as e:
            raise RuntimeError(
                f"pps_snapshot stream: parent manifest v{parent} of v{v} "
                f"is unreadable (expired under a lagging stream?) — "
                f"cannot compute the added-file delta"
            ) from e
        seen = {f["path"] for f in pm["files"]}
        delta = [f["path"] for f in m["files"] if f["path"] not in seen]
        self._delta_cache[v] = delta
        return delta

    def partitions(self, start: dict, end: dict):
        # a planned batch end is a floor for pacing — never pace below it
        v = int(end["version"])
        if self._cursor is None or v > self._cursor:
            self._cursor = v
        paths: list[str] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            paths.extend(self._delta_files(v))
        return [_FilePartition(p) for p in paths] or [_FilePartition("")]

    def read(self, partition):
        if not partition.path:
            return
        yield from _read_file(partition.path, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in the sink checkpoint; track the committed end so
        # pacing after a restart resumes from truth, not from the tip
        v = int(end["version"])
        if self._cursor is None or v > self._cursor:
            self._cursor = v

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# Write path. Executors stream their Arrow batches straight into one
# parquet file each under a fresh tx dir (no shuffle, no JVM hop back);
# the driver's commit() gathers the manifest entries the tasks built
# (manifest.file_entry, the builder snapshot_write's entries come from
# too) and commits them through manifest.commit/append, the protocol
# every snapshot_store verb uses. Layout note: the Python writer
# keeps whatever partitioning the upstream plan produced — callers wanting the
# store's name-clustered pruning layout should repartitionByRange("name",
# "ts") first; stats stay exact either way, pruning just gets wider
# per-file ranges.
# ---------------------------------------------------------------------------


@dataclass
class _FileCommit(WriterCommitMessage):
    entry: dict | None  # the file's manifest entry; None for an empty task


def _write_task(iterator, tx_uri: str, columns: list[str]) -> _FileCommit:
    """One executor task → at most one parquet file + its manifest entry
    with exact stats. NULL name / NULL-or-NaN ts rows fail the TASK (so
    the job aborts and nothing commits) — the same dirty-batch rejection
    snapshot_write enforces, measured on the same pass that writes the
    bytes, which is what lets the entry attest ``null_free``."""
    import math
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = data_file_path(f"{tx_uri}/part-{_uuid.uuid4().hex}.parquet")
    lp = local_path(path)
    if lp is None:
        raise NotImplementedError(
            "pps_snapshot write supports local/file: stores (the JVM-side "
            "snapshot_write covers Hadoop filesystems)"
        )
    writer = None
    n_rows = 0
    min_name = max_name = None
    min_ts, max_ts = math.inf, -math.inf
    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                os.makedirs(os.path.dirname(lp), exist_ok=True)
                writer = pq.ParquetWriter(lp, batch.schema)
            names = batch.column(columns.index("name"))
            ts = batch.column(columns.index("ts"))
            nan_ts = (
                pa.types.is_floating(ts.type)
                and pc.any(pc.is_nan(ts)).as_py()
            )
            if names.null_count or ts.null_count or nan_ts:
                raise ValueError(
                    "pps_snapshot write rejected: NULL name, NULL ts, or "
                    "NaN ts — the canonical model requires non-null "
                    "finite keys; clean the batch before committing"
                )
            writer.write_batch(batch)
            n_rows += batch.num_rows
            lo, hi = pc.min(names).as_py(), pc.max(names).as_py()
            min_name = lo if min_name is None else min(min_name, lo)
            max_name = hi if max_name is None else max(max_name, hi)
            min_ts = min(min_ts, pc.min(ts).as_py())
            max_ts = max(max_ts, pc.max(ts).as_py())
    except Exception:
        if writer is not None:
            writer.close()
            os.unlink(lp)
        raise
    if writer is None:  # empty task — no file, no manifest entry
        return _FileCommit(None)
    writer.close()
    return _FileCommit(
        file_entry(
            path, n_rows, os.path.getsize(lp), min_name, max_name, min_ts, max_ts
        )
    )


class SnapshotBatchWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options, overwrite: bool):
        import uuid as _uuid

        self._root = options.get("path")
        if not self._root:
            raise ValueError("pps_snapshot: a store path is required")
        if local_path(self._root) is None:
            raise NotImplementedError(
                "pps_snapshot write supports local/file: stores"
            )
        cols = [f.name for f in schema.fields]
        for required in ("name", "ts"):
            if required not in cols:
                raise ValueError(
                    f"pps_snapshot write: frame must carry the store's "
                    f"canonical '{required}' column, got {cols}"
                )
        self._columns = cols
        self._schema = schema
        # option merge_schema=true admits additive evolution like
        # snapshot_write(merge_schema=True); the default is strict
        self._merge = str(options.get("merge_schema", "")).lower() in (
            "true",
            "1",
        )
        if not overwrite:
            # gate at prepare time, before any task writes a file; the
            # commit re-gates against the tip it lands on
            _, tip_m = resolve_tip(self._root)
            validated_append_schema(
                (tip_m or {}).get("schema"), schema, self._merge
            )
        self._overwrite = overwrite
        self._tx = f"{self._root}/data/tx_{_uuid.uuid4().hex[:12]}"

    def write(self, iterator):
        return _write_task(iterator, self._tx, self._columns)

    def _entries(self, messages) -> list[dict]:
        return [
            m.entry for m in messages if m is not None and m.entry is not None
        ]

    def _commit(self, new_files: list[dict], txn: tuple[str, int] | None):
        tip = resolve_tip(self._root)
        if self._overwrite:
            manifest = new_manifest(
                "overwrite", json.loads(self._schema.json()), new_files
            )
            commit(self._root, tip[0], manifest)
            return
        if commit_properties("append", tip[1], txn=txn) is None:
            # a redelivered micro-batch drops its files; append re-checks
            # the marker against whichever parent it lands on
            self._drop(new_files)
            return
        append(
            self._root, new_files, self._schema, self._merge, tip=tip, txn=txn
        )

    def commit(self, messages):
        self._commit(self._entries(messages), txn=None)

    def _drop(self, files: list[dict]) -> None:
        for f in files:
            lp = local_path(f["path"])
            if lp and os.path.exists(lp):
                os.unlink(lp)

    def abort(self, messages):
        self._drop(self._entries(messages))


class SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink without foreachBatch glue: every micro-batch is one
    atomic append commit. With option ``txn_app_id`` the commit carries
    the store's Delta-style txn marker keyed by the micro-batch id, so a
    replayed (committed-but-unacknowledged) batch lands as a no-op —
    exactly-once output on top of Spark's at-least-once redelivery.
    The marker is lineage-scoped: reset the checkpoint, change the id."""

    def __init__(self, schema: StructType, options, overwrite: bool):
        if overwrite:
            raise ValueError(
                "pps_snapshot streaming sink is append-only (outputMode "
                "'append'); use batch mode('overwrite') for rebuilds"
            )
        self._delegate = SnapshotBatchWriter(schema, options, False)
        self._app_id = options.get("txn_app_id")

    def write(self, iterator):
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int):
        txn = (self._app_id, batchId) if self._app_id else None
        self._delegate._commit(self._delegate._entries(messages), txn=txn)

    def abort(self, messages, batchId: int):
        self._delegate.abort(messages)


# ---------------------------------------------------------------------------
# DataSource
# ---------------------------------------------------------------------------


class SnapshotDataSource(DataSource):
    """``format("pps_snapshot")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "pps_snapshot"

    def schema(self) -> StructType:
        m = _resolve_batch_manifest(self.options)
        if m.get("schema") is not None:
            return StructType.fromJson(m["schema"])
        # pre-schema manifest (external tooling): borrow a footer
        if m["files"]:
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import from_arrow_schema

            path0 = m["files"][0]["path"]
            lp = local_path(path0)
            if lp is not None:
                return from_arrow_schema(pq.read_schema(lp))
            from pyarrow import fs as pafs

            afs, p = pafs.FileSystem.from_uri(path0)
            return from_arrow_schema(pq.read_schema(p, filesystem=afs))
        raise FileNotFoundError(
            f"snapshot of {self.options.get('path')} is empty and "
            f"predates recorded schemas"
        )

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        return SnapshotBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        return SnapshotStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotBatchWriter:
        return SnapshotBatchWriter(schema, self.options, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> SnapshotStreamWriter:
        return SnapshotStreamWriter(schema, self.options, overwrite)


def register_snapshot_source(spark) -> None:
    """Idempotently register ``format('pps_snapshot')`` on a session and
    enable Python-source filter pushdown (off by default in Spark 4.1;
    without it an implemented ``pushFilters`` is an analysis error, and
    with it the manifest pruning actually engages)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)
