"""Snapshot store — a commit-protocol table format for object-store safety.

The plain sink (:mod:`.store`) writes a name-partitioned parquet directory
once and has no maintenance: rewriting it in place would leave readers a
window of half-written data wherever rename is not atomic. This module is
the store that is maintained — upsert, compact, expire, vacuum — and the
table-format answer the 100 TB deployment on an object store needs (the
pattern behind Delta/Iceberg, re-implemented minimally from public
knowledge): data files are IMMUTABLE and never renamed; every change
publishes a new single-file JSON manifest whose appearance is the commit
point. Readers resolve the highest readable manifest and read exactly the
files it lists — a half-finished writer is invisible because its manifest
was never published, regardless of filesystem rename semantics.

Layout::

    <root>/data/tx_<uuid>/part-*.parquet   immutable data files
    <root>/_snapshots/v0000000001.json     manifest (the commit)

Manifest: ``{"version", "parent", "operation", "schema", "files":
[{"path", "n_rows", "n_bytes", "min_name", "max_name", "min_ts",
"max_ts"}]}``. Per-file name/ts ranges give MANIFEST-LEVEL FILE PRUNING: a
selector for one metric or time range plans a scan over only the
intersecting files — the same planning-time pruning Hive partitioning
gives the plain sink, without relying on directory layout (and it
composes: data files are written name-clustered, so a one-metric read
usually touches one file per commit). The recorded schema makes a
legitimately EMPTY snapshot (everything expired / empty overwrite)
readable as an empty frame instead of an error.

Maintenance: every rewriting verb (upsert, merge, compact, expire,
delete, update) is a ``pick`` of the entries to drop or read back plus a
``transform`` of what it read, run by one rewrite commit
(:func:`_rewrite`): resolve the tip, read through the recorded schema,
write with the inherited layout, and commit the parent's schema and
properties (:func:`.manifest.commit_properties`). Z-order shares its
reader and commit tail; clone and restore only commit. Entries record
each data file's literal, normalised path
(:func:`.manifest.data_file_path`); vacuum matches files by its path
component (:func:`.manifest.data_file_key`).

Concurrency: every read and write of ``_snapshots/`` goes through the
Spark-free manifest protocol (:mod:`.manifest`), which the Python data
source's writers (:mod:`.pyds`) share. A commit prepared against a parent
claims the smallest free slot above it with an exclusive create (a hard
link of a complete temp file locally, a conditional put on an object
store with a registered backend), so two writers racing to version N+1
see exactly one winner and a slot is either absent or complete. Appends
retry against the new tip (their file list is valid under any parent);
conflicting upserts/overwrites raise :class:`ConcurrentWriteError` for
the caller to retry at the merge level (serializable semantics, no lost
updates). Readers skip any unreadable version file (legacy torn writes)
rather than wedging, and writers number PAST such junk.

Reference parity: same canonical long model as the plain sink
(``TimeSeriesCollection``, src/timeseries.rs:396-445); this is the sink
side scaled past the reference's single-node filesystem assumptions.
"""

from __future__ import annotations

import json
import time
import uuid
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.model import series_key_sql, series_key_str
from prometheus_parquet_server_spark.sources.footer import footer_stats, read_parquet
from prometheus_parquet_server_spark.sources.manifest import (
    ConcurrentWriteError,  # re-exported: callers import it from here
    append,
    commit,
    commit_properties,
    contained,
    data_file_key,
    data_file_path,
    file_entry,
    history,
    list_versions,
    manifest_path,
    name_overlaps,
    new_manifest,
    prune,
    read_manifest,
    resolve,
    resolve_tip,
    stale_temps,
    validated_append_schema,
    version_as_of,
)
from prometheus_parquet_server_spark.sources.store import read_store
from prometheus_parquet_server_spark.sqltext import sql_double


class _StoreFS:
    """Data-file I/O of this module — the census of a tx dir, vacuum's
    deletes — routed through the Hadoop ``FileSystem`` API of the session
    JVM (``Path.getFileSystem``), so the same code runs against any
    Hadoop-supported scheme. Manifests are read and published by
    :mod:`.manifest`, never through the JVM."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self.root = self._jvm.org.apache.hadoop.fs.Path(path)
        self.fs = self.root.getFileSystem(spark._jsc.hadoopConfiguration())

    def jpath(self, s: str):
        return self._jvm.org.apache.hadoop.fs.Path(s)

    def exists(self, p) -> bool:
        return bool(self.fs.exists(p if not isinstance(p, str) else self.jpath(p)))

    def delete(self, p) -> None:
        p = p if not isinstance(p, str) else self.jpath(p)
        self.fs.delete(p, True)  # recursive

    def subdirs(self, p=None) -> list[str]:
        """Child directory paths of ``p`` (default: store root), sorted by
        basename. One listStatus round-trip — no recursive walk."""
        p = self.root if p is None else (self.jpath(p) if isinstance(p, str) else p)
        if not self.fs.exists(p):
            return []
        out = [
            str(st.getPath())
            for st in self.fs.listStatus(p)
            if st.isDirectory()
        ]
        return sorted(out, key=_basename)

    def parquet_files(self, p) -> list[tuple[str, int]]:
        """Recursive (path, bytes) census of ``*.parquet`` under ``p`` via
        ``listFiles(recursive=True)`` — on object stores this is one LIST
        call per 1000 keys, not a per-directory walk. Paths are in the
        form manifest entries record (:func:`.manifest.data_file_path`)."""
        p = self.jpath(p) if isinstance(p, str) else p
        it = self.fs.listFiles(p, True)
        files: list[tuple[str, int]] = []
        while it.hasNext():
            st = it.next()
            fp = str(st.getPath())
            if fp.endswith(".parquet"):
                files.append((data_file_path(fp), int(st.getLen())))
        return files


def _basename(path_str: str) -> str:
    return path_str.rstrip("/").rsplit("/", 1)[-1]


def _schema_json(df: DataFrame) -> dict:
    return json.loads(df.schema.json())


def snapshot_version(spark: SparkSession, path: str) -> int | None:
    """Highest readable committed version, or None for an uninitialized
    store."""
    return resolve_tip(path)[0]


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """(version, parent, operation, n_files, n_rows) per readable
    committed snapshot — the audit trail time travel reads."""
    rows = [
        (
            v,
            m.get("parent"),
            m.get("operation", "?"),
            len(m["files"]),
            sum(f["n_rows"] for f in m["files"]),
        )
        for v, m in reversed(list(history(path)))
    ]
    return spark.createDataFrame(
        rows, "version long, parent long, operation string, n_files long, n_rows long"
    )


def _key_guard(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with the commit's key guard attached: an ``Observation``
    counting rows with a NULL name, NULL ts or NaN ts. NULL/NaN keys must
    never commit — they would publish JSON-null (or NaN) min/max stats,
    and every later pruned read, expire and upsert comparison on that
    manifest then breaks; one dirty batch would wedge the store
    permanently. Attach it after the last shuffle and sort, so the count
    rides the write stage itself (not the range partitioner's sampling
    job) and sees each row once."""
    guard = Observation()
    bad = F.expr("count_if(name IS NULL OR ts IS NULL OR isnan(ts)) AS n_bad")
    return df.observe(guard, bad), guard


def _write_data_files(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    time_chunk_s: float | None = None,
    num_partitions: int | None = None,
) -> list[dict]:
    """Write ``df`` as immutable name-clustered data files under a fresh
    tx dir and return their manifest entries (see
    :func:`_tx_manifest_entries`: per-file row count, size and name/ts
    ranges from the written footers; the key guard rides the write job).

    ``time_chunk_s`` switches the layout from name-major to
    name-then-time-major (the hypertable chunking pattern): the range key
    becomes (name, floor(ts/chunk), series, ts), so within a name the
    files are TIME-contiguous chunks instead of series-contiguous full
    histories. Name pruning is unchanged (still order-preserving on
    name); ts pruning becomes effective at chunk granularity — the
    name-major default gives each multi-series file a near-full-span ts
    range, which defeats manifest ts pruning for exactly the
    time-slice-over-many-series scans the grid operators issue."""
    tx = f"{path}/data/tx_{uuid.uuid4().hex[:12]}"
    if time_chunk_s is not None and not time_chunk_s > 0:
        raise ValueError(f"time_chunk_s must be > 0, got {time_chunk_s}")
    range_key = (
        ["name", "_tc", "_sk", "ts"] if time_chunk_s is not None else ["name", "_sk", "ts"]
    )
    staging = {"_sk": series_key_sql() if "labels" in df.columns else "name"}
    if time_chunk_s is not None:
        # NaN ts would floor to chunk 0 and silently mis-cluster — but the
        # key guard rejects any NaN-ts batch wholesale before its manifest
        # is built, so the bucket value never reaches a committed manifest.
        staging["_tc"] = f"floor(ts / {sql_double(time_chunk_s)})"
    staged = df.withColumns({c: F.expr(e) for c, e in staging.items()})
    range_args = ([num_partitions] if num_partitions is not None else []) + range_key
    guarded, guard = _key_guard(
        # RANGE partitioning, not hash-on-name: files stay name-contiguous
        # (tight min/max name ranges → effective manifest pruning) while a
        # hot metric still splits across tasks by series key instead of
        # funneling into one writer — hash repartition("name") would be
        # the skew wall at exactly the backfill sizes that matter.
        # Frames without a labels column (e.g. rollup partial stores,
        # which carry only the canonical name/ts keys) cluster on name
        # alone — ts inside the range key keeps hot names splittable.
        # num_partitions (compaction) overrides AQE's advisory sizing so
        # outputs can GRADUATE past a caller's size threshold
        staged.repartitionByRange(*range_args).sortWithinPartitions(*range_key)
    )
    writer = guarded.drop("_sk").write.mode("overwrite")
    if time_chunk_s is not None:
        # partitionBy, not just the range key: each chunk gets its OWN
        # files regardless of how AQE coalesces the shuffle, so a chunk
        # file's manifest ts range is tight by construction. The _tc
        # value lives in the directory name only; manifest reads address
        # concrete files, so the column never resurfaces.
        writer = writer.partitionBy("_tc")
    writer.parquet(tx)
    return _tx_manifest_entries(spark, path, tx, guard)


def _scan_stats(spark: SparkSession, paths: list[str]) -> dict[str, tuple]:
    """entry path → ``(n_rows, min_name, max_name, min_ts, max_ts)`` of
    the non-empty files among ``paths``, by one narrow aggregate over
    them — the fallback for files whose footers cannot answer
    (:func:`.footer.footer_stats`)."""
    rows = (
        spark.read.parquet(*paths)
        .groupBy(F.input_file_name().alias("path"))
        .agg(
            F.count("*"),
            F.min("name"),
            F.max("name"),
            F.min("ts"),
            F.max("ts"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        # input_file_name() percent-encodes the path (file:///a%20b/f)
        u = urlsplit(r[0])
        out[data_file_path(f"{u.scheme}://{u.netloc}{unquote(u.path)}")] = tuple(r[1:])
    return out


def _tx_manifest_entries(
    spark: SparkSession, path: str, tx: str, guard: Observation
) -> list[dict]:
    """Shared post-write half of :func:`_write_data_files`: list the tx
    dir, reject the batch wholesale when ``guard`` (:func:`_key_guard`,
    attached to the write) counted a dirty key, and return one manifest
    entry per non-empty file. Row counts and name/ts ranges come from the
    files' footers, read on the driver; only a file whose footer cannot
    answer (no name stats above 4 KB, a non-local scheme) is scanned.
    Every rewrite flavor (append/overwrite staging, compaction, z-order)
    funnels here so the stats/NULL-key contract cannot drift between
    them."""
    fs = _StoreFS(spark, path)
    listed = fs.parquet_files(tx)
    stats: dict[str, tuple] = {}
    rescan: list[str] = []
    for p, _sz in listed:
        st = footer_stats(p)
        if st is None:
            rescan.append(p)
        elif st[0]:
            stats[p] = st
    if not stats and not rescan:
        # an empty batch is a legal no-op file set, not an error: the
        # flat layout writes one schema-bearing empty part file, an empty
        # partitionBy write only _SUCCESS. Either way the tx dir must not
        # be left orphaned (frequent empty streaming micro-batches would
        # accumulate unreferenced dirs until vacuum). The guard is not
        # consulted: no row reached the write.
        fs.delete(tx)
        return []
    n_bad = guard.get["n_bad"]
    if n_bad:
        fs.delete(tx)  # nothing references the tx dir yet — take it back
        raise ValueError(
            f"snapshot write rejected: {n_bad} row(s) with NULL name, NULL "
            f"ts, or NaN ts — the canonical model requires non-null finite "
            f"keys; clean the batch before committing"
        )
    if rescan:
        scanned = _scan_stats(spark, rescan)
        stats.update((p, scanned[p]) for p in rescan if p in scanned)
    if not stats:
        fs.delete(tx)
        return []
    return [
        file_entry(p, stats[p][0], sz, *stats[p][1:])
        for p, sz in listed
        if p in stats
    ]


def _pinned_reader(spark: SparkSession, m: dict | None):
    """A reader pinned to the manifest-recorded schema when one exists —
    every read of a manifest's files goes through it, or a
    schema-evolved store's heterogeneous files make the result depend on
    which footer Spark sampled (and a file predating a merged column
    would DROP that column from rewritten rows)."""
    if m is not None and m.get("schema") is not None:
        from pyspark.sql import types as T

        return spark.read.schema(T.StructType.fromJson(m["schema"]))
    return spark.read


def _inherited_chunk(parent_m: dict | None) -> float | None:
    """The store's pinned ``time_chunk_s`` layout property, if any — a
    rewrite must re-apply it or the rewritten files silently fall back
    to the name-major layout."""
    tc = ((parent_m or {}).get("properties") or {}).get("time_chunk_s")
    return float(tc) if tc is not None else None


def _commit_like(
    path: str,
    parent: int | None,
    like: dict | None,
    operation: str,
    files: list[dict],
    schema: dict | None = None,
    props: dict | None = None,
    **extra,
) -> int:
    """Commit ``files`` as ``operation`` on ``parent``, recording
    ``like``'s schema (else ``schema``) and ``like``'s properties (or
    ``props`` when the caller already merged them) — the tail every
    maintenance verb shares. ``like`` is the parent manifest, or the
    manifest a clone or restore copies."""
    if props is None:
        props = commit_properties(operation, like)
    schema = (like or {}).get("schema") or schema
    return commit(path, parent, new_manifest(operation, schema, files, props, **extra))


def _rewrite(
    spark: SparkSession,
    path: str,
    operation: str,
    pick,
    transform,
    *,
    tip: tuple[int | None, dict | None] | None = None,
    props: dict | None = None,
    num_partitions: int | None = None,
    refusal: str | None = None,
) -> int | None:
    """One rewriting commit, the path every maintenance verb but z-order
    takes: resolve the tip (unless the caller passes ``tip``); ask
    ``pick(files)`` for ``(drop, rewrite)`` — entries that leave without
    a scan and entries to read back — or None when there is nothing to
    do; read ``rewrite`` through :func:`_pinned_reader` (None when
    empty) and write ``transform(existing)`` unless it is None, with the
    inherited ``time_chunk_s``; commit the files nobody picked plus the
    new ones on the parent's schema (else the output's) and properties
    (or ``props``). ``refusal`` replaces the write's NULL-key rejection
    text with the verb's own. Returns the version, or None."""
    parent, parent_m = resolve_tip(path) if tip is None else tip
    base: list[dict] = parent_m["files"] if parent_m else []
    picked = pick(base)
    if picked is None:
        return None
    drop, rewrite = picked
    # set-of-paths membership: a list `in` is O(files x picked) full-dict
    # comparisons — quadratic at the ~1e5-file stores the manifest targets
    gone = {f["path"] for f in drop} | {f["path"] for f in rewrite}
    files = [f for f in base if f["path"] not in gone]
    existing = (
        _pinned_reader(spark, parent_m).parquet(*[f["path"] for f in rewrite])
        if rewrite
        else None
    )
    out = transform(existing)
    schema = None
    if out is not None:
        schema = _schema_json(out)
        try:
            files += _write_data_files(
                spark, path, out, time_chunk_s=_inherited_chunk(parent_m),
                num_partitions=num_partitions,
            )
        except ValueError as e:
            if refusal is None or "NULL name" not in str(e):
                raise
            raise ValueError(f"{refusal} Original: {e}") from e
    return _commit_like(path, parent, parent_m, operation, files, schema, props)


def _surviving(cond):
    """A :func:`_rewrite` transform keeping the rows where ``cond``
    holds; with nothing to rewrite it writes nothing."""
    return lambda existing: None if existing is None else existing.filter(cond)


def snapshot_write(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    mode: str = "append",
    time_chunk_s: float | None = None,
    txn: tuple[str, int] | None = None,
    properties: dict | None = None,
    require_parent: int | None = None,
    merge_schema: bool = False,
) -> int:
    """Commit ``df`` as a new snapshot. ``mode='append'`` adds its files to
    the current file set (and survives commit races by rebasing onto the
    new tip — an append's file list is valid against any parent);
    ``mode='overwrite'`` replaces the file set entirely (a race raises
    :class:`ConcurrentWriteError`). Returns the committed version.

    Appends are schema-validated against the store's recorded schema
    BEFORE any data file is written (see
    :func:`.manifest.validated_append_schema`): same-name columns must
    type-match in every mode; the column set must match exactly unless
    ``merge_schema=True``, which admits additive evolution (new columns
    join the recorded schema, old files null-fill; missing columns
    null-fill the new files) — type conflicts stay fatal because a
    committed conflict fails every later read of the store.

    ``time_chunk_s`` opts the new files into the time-chunked layout (see
    :func:`_write_data_files`) and pins the width as the store property
    ``time_chunk_s`` so later appends keep the layout without restating
    it; pass it explicitly to change the width (layout is physical, not
    semantic — mixed widths degrade pruning, never correctness).

    ``txn=(app_id, version)`` makes an APPEND idempotent per writer — the
    same Delta txnAppId/txnVersion pattern :func:`snapshot_merge` carries:
    the manifest property ``txn_<app_id>`` records the highest version
    committed by that writer, an append whose version is ≤ the recorded
    value returns the current tip WITHOUT writing (the foreachBatch
    redelivery dedupe for append-shaped sinks, e.g. streaming vector
    ingest where replayed rows would otherwise duplicate), and the marker
    rides the same atomic manifest as the data. Overwrite + txn raises —
    an overwrite replaces history, so "already committed" has no meaning
    for it. The marker is only meaningful within ONE writer lineage
    (e.g. one streaming checkpoint): resetting the checkpoint restarts
    batch ids at 0 against a store that remembers higher ones — callers
    MUST change the app_id when they reset the lineage.

    ``properties``: extra manifest properties for this commit. On append
    they merge over the inherited set and a CONFLICTING re-declaration
    raises (the snapshot_merge rule); on overwrite they become the fresh
    store's property set — the hook a rebuild uses to carry txn markers
    forward across the history reset.

    ``require_parent`` (append only): CAS the append against an expected
    parent version — if the tip moved, raise :class:`ConcurrentWriteError`
    instead of rebasing. For appends whose CONTENT depends on what they
    read from the store (e.g. vectors clustered under the tip's
    centroids), a blind rebase would commit rows that are silently wrong
    against the new tip."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    if require_parent is not None and mode != "append":
        raise ValueError("snapshot_write: require_parent is append-only")
    if txn is not None and mode != "append":
        raise ValueError("snapshot_write: txn markers are append-only")
    # one tip resolve serves both layout inheritance and the commit's
    # expected-parent check — appends run per streaming micro-batch, so
    # a second directory listing + manifest read per call is real driver
    # I/O, not noise
    expected, expected_m = resolve_tip(path)
    if mode == "overwrite":
        # a fresh start: no inherited properties
        props = commit_properties("overwrite", None, properties, None, time_chunk_s)
        new_files = _write_data_files(spark, path, df, time_chunk_s=time_chunk_s)
        manifest = new_manifest("overwrite", _schema_json(df), new_files, props)
        return commit(path, expected, manifest)
    if time_chunk_s is None:
        time_chunk_s = _inherited_chunk(expected_m)
    # validate BEFORE writing data files — a redelivered batch, a
    # conflicting property or a rejected schema must not leave a tx dir
    # for vacuum to sweep
    if commit_properties("append", expected_m, properties, txn, time_chunk_s) is None:
        return expected  # already committed — redelivery no-op, no write
    validated_append_schema((expected_m or {}).get("schema"), df.schema, merge_schema)
    new_files = _write_data_files(spark, path, df, time_chunk_s=time_chunk_s)
    # a rebase lands on a DIFFERENT parent: manifest.append re-gates the
    # schema and re-applies the property/txn policy there
    return append(
        path, new_files, df.schema, merge_schema,
        tip=(expected, expected_m), properties=properties, txn=txn,
        require_parent=require_parent, time_chunk_s=time_chunk_s,
    )


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    names: list[str] | None = None,
    ts_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Read a snapshot (latest readable, or ``version`` for time travel),
    planning the scan over only the files whose manifest name/ts ranges
    intersect the ``names`` / ``ts_range`` predicates — file pruning at
    the driver from manifest stats alone, before any footer is opened.
    The residual row-level filter is applied too, so the result is exact.
    An empty snapshot (everything expired, empty overwrite) returns an
    empty frame with the manifest-recorded schema."""
    version, m = resolve(path, version)
    lo, hi = ts_range if ts_range is not None else (float("-inf"), float("inf"))
    files = prune(m["files"], names, lo, hi)
    if not files:
        from pyspark.sql import types as T

        if m.get("schema") is not None:
            return spark.createDataFrame([], T.StructType.fromJson(m["schema"]))
        if m["files"]:  # pruned to nothing: borrow any base file's schema
            schema = read_parquet(spark, m["files"][0]["path"]).schema
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"snapshot v{version} of {path} is empty and predates recorded schemas"
        )
    df = _pinned_reader(spark, m).parquet(*[f["path"] for f in files])
    if names is not None:
        df = df.filter(F.col("name").isin(names))
    if ts_range is not None:
        df = df.filter(F.col("ts").between(ts_range[0], ts_range[1]))
    return df


def snapshot_upsert(spark: SparkSession, path: str, updates: DataFrame) -> int:
    """Merge ``updates`` (replace same (series key, ts); append new) and
    commit. Only files whose name range intersects the touched metrics are
    rewritten; every other file carries over by reference — the rewrite
    cost is proportional to the touched data, not the store. A commit race
    raises :class:`ConcurrentWriteError` (the merge read a tip that moved;
    blind rebase could lose the racer's rows)."""
    v = _merge(spark, path, updates, _replace_by_key, "upsert", gate_updates=True)
    return (snapshot_version(spark, path) or 0) if v is None else v


def _replace_by_key(existing: DataFrame | None, updates: DataFrame) -> DataFrame:
    """:func:`snapshot_upsert`'s combine: an update replaces the stored
    sample with the same (series key, ts); among duplicate updates the
    highest value wins, whatever the shuffle layout."""
    merged = updates.withColumn("_prio", F.lit(0))
    if existing is not None:
        merged = merged.unionByName(
            existing.withColumn("_prio", F.lit(1)).select(*merged.columns)
        )
    merged = merged.withColumn("_sk", series_key_str())
    w = Window.partitionBy("_sk", "ts").orderBy("_prio", F.col("value").desc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn", "_sk")
    )


def _merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    combine,
    operation: str,
    *,
    properties: dict | None = None,
    txn: tuple[str, int] | None = None,
    num_partitions: int | None = None,
    gate_updates: bool = False,
) -> int | None:
    """The touched-files rewrite behind :func:`snapshot_merge` and
    :func:`snapshot_upsert`: files whose name range meets the updates'
    names are replaced by ``combine(existing, updates)``, gated against
    the recorded schema (and, with ``gate_updates``, so are the updates
    themselves, before anything is read). Returns None for an empty
    update batch."""
    verb = f"snapshot_{operation}"
    updates = updates.cache()
    try:
        names = [r["name"] for r in updates.select("name").distinct().collect()]
        # the contract _write_data_files enforces, surfaced before any
        # work happens: NULL names have no place in the canonical model
        if any(n is None for n in names):
            raise ValueError(
                f"{verb}: updates contain NULL metric names — "
                "clean the batch before committing"
            )
        if not names:
            return None
        tip = parent, parent_m = resolve_tip(path)
        props = commit_properties(verb, parent_m, properties, txn)
        if props is None:
            return parent  # this batch already folded — redelivery no-op
        recorded = (parent_m or {}).get("schema")
        if gate_updates:
            # updates that dropped a store column would silently erase it
            # from every rewritten row of the touched files
            validated_append_schema(recorded, updates.schema, merge_schema=False)

        def fold(existing):
            out = combine(existing, updates)
            # the combined frame replaces the touched files — a schema
            # drift here (combine dropped or retyped a column) is the same
            # wedge/erasure hazard the append gate closes
            validated_append_schema(recorded, out.schema, merge_schema=False)
            return out

        return _rewrite(
            spark, path, operation,
            lambda files: ([], [f for f in files if name_overlaps(f, names)]),
            fold, tip=tip, props=props, num_partitions=num_partitions,
        )
    finally:
        updates.unpersist()


def snapshot_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    combine,
    properties: dict | None = None,
    txn: tuple[str, int] | None = None,
    num_partitions: int | None = None,
) -> int:
    """Generalized read-modify-write commit — the primitive behind
    incremental materialized aggregates (operators/rollup.py
    rollup_ingest): files whose manifest name range intersects the
    updates' metric names are read back as ``existing`` and REPLACED by
    ``combine(existing, updates)`` (``existing`` is None when nothing
    intersects — a fresh store or disjoint names); every other file
    carries over by reference, so the rewrite cost is proportional to the
    touched data, not the store. Unlike :func:`snapshot_upsert` (which
    fixes replace-by-(series, ts) semantics) the merge function is the
    caller's — additive partial folding, counters, CRDT-style joins.

    **Combine contract:** files are touched by NAME-RANGE overlap, so
    ``existing`` can contain rows for metric names OUTSIDE ``updates``
    (bystanders sharing a file with a touched name). ``combine`` MUST
    preserve every ``existing`` row it does not intentionally replace —
    a combine that only emits rows for the updated names silently deletes
    the bystanders from the committed snapshot. Union-then-regroup shapes
    (rollup_ingest's additive fold) satisfy this by construction.

    ``properties`` (a small JSON-able dict) is recorded in the manifest
    and inherited by later commits; supplying a value that CONFLICTS with
    the parent manifest's recorded value raises — the immutability hook
    rollup stores use to pin their ingest width. Read back via
    :func:`snapshot_properties`.

    ``txn=(app_id, version)`` makes the commit IDEMPOTENT per writer —
    the public Delta-Lake txnAppId/txnVersion pattern: the manifest
    property ``txn_<app_id>`` records the highest version committed by
    that writer, and a merge whose ``version`` is ≤ the recorded value
    returns the current tip WITHOUT folding (the batch already landed;
    this is the redelivery dedupe a ``foreachBatch`` sink needs when a
    fold commits but the streaming offsets don't). Unlike ``properties``
    keys, the txn marker is deliberately monotonic — it bypasses the
    conflict check and rides the SAME atomic manifest as the folded data,
    so there is no window where the data is applied but the marker isn't.

    A commit race raises :class:`ConcurrentWriteError` (blind rebase could
    lose the racer's contribution to the combined rows). An empty update
    batch is a no-op returning the current version — and raises
    FileNotFoundError on an uninitialized store (there is no version to
    return, and silently answering 0 would name a nonexistent snapshot).

    ``num_partitions`` is the caller's write-width hint for BOUNDED stores
    (r15): a merge whose combined frame is capped by construction (e.g. a
    DSIR counts store holds ≤ m rows per side at ANY corpus size) should
    write that many files, not ``spark.sql.shuffle.partitions`` range
    slices — the default 32-way range sampling + 32 tiny files is pure
    overhead per commit and multiplies the files every later read-back
    opens. None keeps the adaptive default (unbounded stores).
    """
    v = _merge(
        spark, path, updates, combine, "merge",
        properties=properties, txn=txn, num_partitions=num_partitions,
    )
    if v is None:
        v = snapshot_version(spark, path)
    if v is None:
        raise FileNotFoundError(
            f"snapshot_merge: empty updates on uninitialized store "
            f"{path} — nothing to commit and no version to return"
        )
    return v


def snapshot_stats(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    names: list[str] | None = None,
    ts_range: tuple[float, float] | None = None,
) -> dict:
    """Metadata-query fast path: exact ``{n_rows, n_files, n_bytes,
    min_name, max_name, min_ts, max_ts}`` for a (possibly filtered)
    snapshot, answered from MANIFEST ARITHMETIC wherever possible.

    A file is CONTAINED when every row it can hold satisfies the
    predicate (:func:`.manifest.contained`). Contained files contribute their recorded
    ``n_rows``/ranges without being opened; only BOUNDARY files (ranges
    intersect the predicate but are not contained, or null stats) are
    scanned with the residual row filter. So an UNFILTERED stats query
    opens ZERO data files at any store size — the answer to "how many
    rows / what time span does this 100 TB table cover" is O(manifest) —
    and a filtered one opens only the predicate's edge. This is the
    library-level stand-in for DSv2 aggregate pushdown, which the Python
    DataSource API does not expose (no SupportsPushDownAggregates
    equivalent — documented upstream limitation); the JVM v1 path does
    not engage footer-stat aggregates either (measured, round-7 ledger).

    ``n_bytes``/``n_files`` count every predicate-INTERSECTING file (the
    I/O a real scan would plan), not just contained ones."""
    version, m = resolve(path, version)
    lo, hi = ts_range if ts_range is not None else (float("-inf"), float("inf"))
    files = prune(m["files"], names, lo, hi)
    inside = [f for f in files if contained(f, names, ts_range)]
    boundary = [f for f in files if not contained(f, names, ts_range)]

    n_rows = sum(f["n_rows"] for f in inside)
    mins_n = [f["min_name"] for f in inside if f.get("min_name") is not None]
    maxs_n = [f["max_name"] for f in inside if f.get("max_name") is not None]
    mins_t = [f["min_ts"] for f in inside if f.get("min_ts") is not None]
    maxs_t = [f["max_ts"] for f in inside if f.get("max_ts") is not None]

    if boundary:
        df = _pinned_reader(spark, m).parquet(*[f["path"] for f in boundary])
        if names is not None:
            df = df.filter(F.col("name").isin(list(names)))
        if ts_range is not None:
            df = df.filter(F.col("ts").between(lo, hi))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("name").alias("mn_n"),
            F.max("name").alias("mx_n"),
            F.min("ts").alias("mn_t"),
            F.max("ts").alias("mx_t"),
        ).first()
        n_rows += row["n"]
        if row["mn_n"] is not None:
            mins_n.append(row["mn_n"])
            maxs_n.append(row["mx_n"])
        if row["mn_t"] is not None:
            mins_t.append(row["mn_t"])
            maxs_t.append(row["mx_t"])

    return {
        "version": version,
        "n_rows": n_rows,
        "n_files": len(files),
        "n_bytes": sum(f.get("n_bytes", 0) for f in files),
        "n_files_scanned": len(boundary),
        "min_name": min(mins_n) if mins_n else None,
        "max_name": max(maxs_n) if maxs_n else None,
        "min_ts": min(mins_t) if mins_t else None,
        "max_ts": max(maxs_t) if maxs_t else None,
    }


def snapshot_properties(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """The recorded ``properties`` dict ({} when none) of the tip
    manifest — or of ``version``, for callers that pinned one and must
    not mix reads across a concurrent commit — small caller-defined
    facts that travel with the store (e.g. a rollup store's ingest
    width). Inherited commit-to-commit by :func:`snapshot_merge`, which
    rejects conflicting re-declarations."""
    m = resolve_tip(path)[1] if version is None else read_manifest(path, version)
    return (m or {}).get("properties") or {}


def snapshot_compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> int | None:
    """Rewrite the UNDER-SIZED files into ~target-sized name-clustered
    files and commit; files already at or above the target carry over by
    reference — compaction cost is proportional to the small-file debt,
    never to store size (a 100 TB store with a few fragmented recent
    commits rewrites only those). Content is identical (same rows, new
    layout); old versions still read the old files (time travel keeps
    working until :func:`snapshot_vacuum` reclaims them). Files from
    manifests without a recorded size are treated as small (rewritten
    once, gaining a size entry). Returns the new version, or None if
    there was nothing to compact."""
    tip = resolve_tip(path)
    base = tip[1]["files"] if tip[1] else []
    small = [f for f in base if f.get("n_bytes", 0) < target_file_bytes]
    if tip[0] is None or len(small) < min_files_to_compact:
        return None
    # aim the rewrite at ~target-sized OUTPUT files: without an explicit
    # partition count, AQE's ~64 MB advisory keeps every output below a
    # 128 MB target forever, so each later compaction re-reads the same
    # bytes as "still small" — the quadratic-I/O failure mode. ceil(total
    # small bytes / target) partitions lets merged files graduate past
    # the threshold and carry over by reference next time.
    small_bytes = sum(f.get("n_bytes", 0) for f in small)
    n_out = max(1, -(-small_bytes // target_file_bytes)) if small_bytes else 1
    return _rewrite(
        spark, path, "compact", lambda files: ([], small), lambda df: df,
        tip=tip, num_partitions=n_out,
    )


def snapshot_zorder(
    spark: SparkSession,
    path: str,
    bits: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int | None:
    """OPTIMIZE ZORDER over (name, ts): rewrite the tip's data files
    clustered on the interleaved-bit rank of BOTH keys, so manifest
    min/max pruning is effective for name-only, ts-only AND combined
    predicates at once — the multi-dimensional answer to the layout
    trade the writer makes (name-major files have near-full-span ts
    ranges; time-chunked files trade name tightness inside a chunk).
    The Delta/Iceberg OPTIMIZE ZORDER analog, expressed Spark-first.

    Per-key ranks come from Spark's own distributed range partitioner
    (``repartitionByRange(2^bits, key)`` + ``spark_partition_id()`` —
    sampled quantile buckets, no driver-side value collection, works for
    strings and doubles alike); the z-value interleaves the two
    ``bits``-wide bucket ids, and the rewrite range-partitions on it.
    Three shuffles of the store — an explicit maintenance operation, same
    cost class as a full compaction.

    Content is identical (same rows, new layout); time travel keeps
    serving old versions until vacuum. Stores with a time-chunk layout
    property refuse (their directory chunking IS a clustering contract;
    z-ordering would silently break the chunk-per-file ts-tightness
    invariant). Returns the new version, or None on an empty store.
    """
    if not 1 <= bits <= 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    parent, parent_m = resolve_tip(path)
    if parent is None:
        return None
    if _inherited_chunk(parent_m) is not None:
        raise ValueError(
            "snapshot_zorder refuses a time-chunked store: the chunk "
            "layout is a clustering contract of its own (rebuild the "
            "store without time_chunk_s to z-order it)"
        )
    if not parent_m["files"]:
        return None
    df = _pinned_reader(spark, parent_m).parquet(*[f["path"] for f in parent_m["files"]])

    b = 1 << bits
    # rank buckets via the range partitioner: partition ids are ordered by
    # range, so spark_partition_id() IS the per-key quantile bucket
    staged = df.repartitionByRange(b, "name").withColumn(
        "_zb_n", F.spark_partition_id().cast("long")
    )
    staged = staged.repartitionByRange(b, "ts").withColumn(
        "_zb_t", F.spark_partition_id().cast("long")
    )
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright("_zb_n", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright("_zb_t", i).bitwiseAND(F.lit(1)), 2 * i)
        )
    total_bytes = sum(f.get("n_bytes", 0) for f in parent_m["files"])
    n_out = max(1, -(-total_bytes // target_file_bytes)) if total_bytes else 1
    tx = f"{path}/data/tx_{uuid.uuid4().hex[:12]}"
    guarded, guard = _key_guard(
        staged.withColumn("_z", z)
        .repartitionByRange(n_out, "_z")
        .sortWithinPartitions("_z", "name", "ts")
    )
    guarded.drop("_zb_n", "_zb_t", "_z").write.mode("overwrite").parquet(tx)
    new_files = _tx_manifest_entries(spark, path, tx, guard)
    return _commit_like(path, parent, parent_m, "zorder", new_files, _schema_json(df))


def snapshot_as_of(spark: SparkSession, path: str, ts: float) -> int | None:
    """Time travel by wall clock: the highest readable version whose
    commit time is <= ``ts`` (epoch seconds) — "the store as it was at
    2 a.m.". Versions without a recorded commit time (pre-round-6) are
    treated as infinitely old, i.e. always eligible."""
    return version_as_of(path, ts)[0]


def snapshot_clone(
    spark: SparkSession,
    source: str,
    dest: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE: create a new store at ``dest`` whose v1 manifest
    references the SOURCE's data files by absolute path — a zero-copy
    table fork (the Delta ``CREATE TABLE ... SHALLOW CLONE`` verb) for
    sandboxing experiments against production data. O(manifest), no data
    read or written.

    Divergence is safe by construction: writes to the clone stage files
    under the CLONE's own ``data/`` dir; the clone's vacuum lists only
    that dir, so it can never delete source files, and a clone compaction
    gradually materializes source-referenced content into clone-owned
    files. The one cross-store hazard is the source's own vacuum — it
    cannot see clone manifests, so reclaiming source history can orphan a
    clone still referencing it (Delta's documented shallow-clone caveat);
    clone from a version you retain, or compact the clone to detach it.

    ``version`` clones a historical snapshot (defaults to the tip).
    ``dest`` must not already hold a committed store. Returns the clone's
    version: 1, unless junk occupies that slot."""
    version, m = resolve(source, version)
    if resolve_tip(dest)[0] is not None:
        raise ValueError(
            f"snapshot_clone refuses: {dest} already holds a committed "
            f"store (cloning over it would orphan its history)"
        )
    return _commit_like(
        dest, None, m, "clone", m["files"],
        cloned_from={"path": source, "version": version},
    )


def snapshot_restore(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE: make an old version the new tip as a FORWARD commit (the
    Delta ``RESTORE TO VERSION`` verb) — pure manifest arithmetic: the
    new manifest references ``version``'s file list (plus its schema and
    properties); no data file is read, written, or deleted, so restore is
    O(1) regardless of store size and the rolled-back-over history stays
    time-travelable until vacuum. Raises if ``version`` is unreadable
    (never committed, or its files already vacuumed — restoring it would
    publish a tip that cannot be scanned)."""
    parent, _parent_m = resolve_tip(path)
    if parent is None:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    if version == parent:
        return parent  # restoring the tip is a no-op, not a new commit
    try:
        m = read_manifest(path, version)
    except (FileNotFoundError, ValueError):
        raise ValueError(
            f"cannot restore v{version}: not committed, or its data files "
            f"were vacuumed (an unreadable tip would wedge every reader)"
        ) from None
    return _commit_like(
        path, parent, m, "restore", m["files"], restored_version=version
    )


def snapshot_select(
    spark: SparkSession,
    path: str,
    matchers,
    version: int | None = None,
    ts_range: tuple[float, float] | None = None,
) -> DataFrame:
    """PromQL-style selector over a snapshot store: equality ``__name__``
    matchers prune files at the MANIFEST level (driver-side, before any
    footer opens — the snapshot store's analogue of the plain sink's
    Hive partition pruning), then every matcher applies exactly via the
    engine's selector (operators/select.py select_series). The query
    surface and the table format compose: a one-metric selector on a
    10^5-file store plans a scan over the handful of files whose name
    range covers that metric. ``ts_range`` adds the time dimension — on a
    time-chunked store (snapshot_write(time_chunk_s=...)) a grid query's
    window prunes to the touched chunks' files."""
    from prometheus_parquet_server_spark.labels import NAME_LABEL
    from prometheus_parquet_server_spark.operators.select import select_series

    names = [
        m.value for m in matchers if m.label == NAME_LABEL and m.op == "="
    ] or None
    df = snapshot_read(spark, path, version=version, names=names, ts_range=ts_range)
    return select_series(df, list(matchers))


def read_any_store(spark: SparkSession, path: str) -> DataFrame:
    """Unified store reader: a path with committed snapshots under
    ``_snapshots/`` resolves to :func:`snapshot_read` at the latest
    version; anything else reads as the Hive name-partitioned plain sink
    (:func:`.store.write_store`). Lets query-side code accept either
    store format without caring which one wrote it."""
    if resolve_tip(path)[0] is not None:
        return snapshot_read(spark, path)
    return read_store(spark, path)


def snapshot_expire(
    spark: SparkSession, path: str, min_ts: float
) -> int | None:
    """Retention commit: drop every sample with ``ts < min_ts``. Files
    whose manifest ``max_ts`` is already below the cutoff are dropped
    WITHOUT ANY DATA SCAN — pure manifest arithmetic at the driver, which
    is the point of carrying per-file ts ranges: steady-state retention on
    an append-mostly store is O(metadata), not O(data). Only files
    STRADDLING the cutoff are read and rewritten filtered; untouched files
    carry over by reference. Expiring EVERYTHING is a legal commit (the
    empty snapshot stays readable via its recorded schema). Returns the
    committed version, or None if nothing was expirable."""
    def pick(files):
        # null-stat entries (pre-guard manifests) can never be proven dead
        # — they fall into the straddle set and are read+rewritten, the
        # safe side
        dead = [
            f for f in files if f.get("max_ts") is not None and f["max_ts"] < min_ts
        ]
        dp = {f["path"] for f in dead}
        straddle = [
            f
            for f in files
            if f["path"] not in dp
            and (
                f.get("min_ts") is None
                or f.get("max_ts") is None
                or f["min_ts"] < min_ts <= f["max_ts"]
            )
        ]
        return (dead, straddle) if dead or straddle else None

    return _rewrite(spark, path, "expire", pick, _surviving(F.col("ts") >= min_ts))


def snapshot_delete(
    spark: SparkSession,
    path: str,
    names: list[str] | None = None,
    ts_range: tuple[float, float] | None = None,
) -> int | None:
    """Predicate DELETE (the Delta ``DELETE WHERE`` verb): drop every row
    with ``name ∈ names`` (when given) AND ``ts ∈ [lo, hi]`` (when
    given), by the same manifest arithmetic :func:`snapshot_expire`
    uses for retention — files the stats PROVE fully-matching drop
    without any data scan, files the stats prove disjoint carry over by
    reference, and only predicate-STRADDLING files are read and
    rewritten with the negated row filter (null-stat legacy entries land
    on the rewrite side, the safe one). At 100 TB a targeted delete
    ("remove this leaked metric", "redact one day of one source")
    touches O(matching files), not O(store).

    At least one predicate is required: an unbounded delete is an
    overwrite-with-empty and must be said explicitly. Time travel to
    pre-delete versions still serves the rows (deletes make new
    manifests, never mutate files); ``snapshot_vacuum`` reclaims the
    superseded bytes. Returns the committed version, or None when
    nothing matched."""
    if names is None and ts_range is None:
        raise ValueError(
            "snapshot_delete needs names and/or ts_range — an unbounded "
            "delete is snapshot_write(mode='overwrite') of an empty "
            "frame; say that explicitly"
        )
    lo, hi = ts_range if ts_range is not None else (float("-inf"), float("inf"))

    def pick(files):
        overlapping = prune(files, names, lo, hi)
        # zero-scan drop ONLY for files attested null-key-free at write
        # time: min/max stats ignore NULLs, so a foreign file whose range
        # is fully contained could still hold NULL-key rows — rows the
        # delete predicate can never match. Unattested files fall through
        # to the straddle rewrite, where the null-safe negated filter
        # keeps them row by row.
        dead = [
            f for f in overlapping if f.get("null_free") and contained(f, names, ts_range)
        ]
        dp = {f["path"] for f in dead}
        straddle = [f for f in overlapping if f["path"] not in dp]
        return (dead, straddle) if overlapping else None

    # A NULL-key row never matches the (null-safe) predicate, so it
    # reaches the survivor rewrite, whose commit gate then REFUSES (the
    # store invariant: NULL keys never commit). The refusal turns that
    # write-side message into the actionable delete-side one: the store
    # is out of contract and must be repaired first, which beats both
    # silently deleting the row and silently committing an invalid store.
    return _rewrite(
        spark, path, "delete", pick, _surviving(~_matches(names, ts_range)),
        refusal=(
            f"snapshot_delete refused: a rewritten file under {path} "
            f"holds NULL/NaN-key row(s) the delete predicate cannot "
            f"match — the store violates the non-null key contract "
            f"(foreign/legacy data file); repair or drop that file "
            f"before deleting."
        ),
    )


def _matches(names: list[str] | None, ts_range: tuple[float, float] | None):
    """The DML row predicate ``name ∈ names AND ts ∈ ts_range`` (each
    when given), NULL-safe: under three-valued logic a NULL name/ts row
    would make it NULL, and ``filter(~NULL)`` would silently drop a row
    that does not match — coalescing to False makes such a row a
    non-match."""
    pred = F.lit(True)
    if names is not None:
        pred = pred & F.col("name").isin(list(names))
    if ts_range is not None:
        pred = pred & F.col("ts").between(*ts_range)
    return F.coalesce(pred, F.lit(False))


def snapshot_update(
    spark: SparkSession,
    path: str,
    assignments: dict[str, str],
    names: list[str] | None = None,
    ts_range: tuple[float, float] | None = None,
) -> int | None:
    """Predicate UPDATE (the Delta ``UPDATE ... SET`` verb), completing
    the DML trio next to :func:`snapshot_delete` and the upsert/merge
    verbs: for every row matching ``name ∈ names`` (when given) AND
    ``ts ∈ [lo, hi]`` (when given), apply each ``assignments`` entry
    ``column -> SQL expression`` (evaluated per row with the full row in
    scope, e.g. ``{"value": "value * 2"}``); all other rows pass through
    byte-identical.

    Scale shape mirrors snapshot_delete's rewrite half: files the
    manifest stats prove DISJOINT from the predicate carry over by
    reference (a targeted update touches O(matching files), not
    O(store)); every predicate-intersecting file is read once and
    rewritten with one CASE projection. There is no zero-scan arm — an
    update must materialize new bytes for matching rows by definition.
    The predicate is evaluated null-safely (a NULL-key row in a foreign
    file never matches, and if one reaches a rewrite the no-NULL-keys
    commit gate refuses, as in snapshot_delete). Rewrites go through
    :func:`_write_data_files`, so stats/clustering/chunking are
    recomputed — assignments may legally touch ``name``/``ts`` and the
    manifest stays truthful; assignments that produce NULL/NaN keys are
    refused by the same gate.

    At least one predicate is required (an unbounded update is a
    rewrite of the whole store — say it as read-transform-overwrite).
    Time travel still serves pre-update rows; vacuum reclaims superseded
    bytes. Returns the committed version, or None when no file
    intersects the predicate. Raises :class:`ConcurrentWriteError` if
    the tip moves between resolve and commit (rewrites cannot be rebased
    blindly)."""
    if not assignments:
        raise ValueError("snapshot_update needs at least one assignment")
    if names is None and ts_range is None:
        raise ValueError(
            "snapshot_update needs names and/or ts_range — an unbounded "
            "update is a read-transform-overwrite; say that explicitly"
        )
    tip = parent, parent_m = resolve_tip(path)
    if parent is None:
        return None
    lo, hi = ts_range if ts_range is not None else (float("-inf"), float("inf"))
    schema_cols = [f["name"] for f in (parent_m.get("schema") or {}).get("fields", [])]
    for col in assignments:
        if schema_cols and col not in schema_cols:
            raise ValueError(
                f"snapshot_update: column {col!r} is not in the store "
                f"schema {schema_cols} — UPDATE cannot add columns (use "
                f"merge_schema append for evolution)"
            )
    pred = _matches(names, ts_range)

    def assign(src):
        # schema-less manifests (legacy/foreign stores) validate against
        # the READ columns instead — otherwise a typo'd assignment column
        # would silently rewrite every touched file byte-identically and
        # commit a version that changed nothing
        if not schema_cols:
            unknown = sorted(set(assignments) - set(src.columns))
            if unknown:
                raise ValueError(
                    f"snapshot_update: column(s) {unknown} are not in the "
                    f"store's columns {sorted(src.columns)} — UPDATE cannot "
                    f"add columns"
                )
        return src.select(*[
            F.when(pred, F.expr(expr)).otherwise(F.col(c)).alias(c)
            if (expr := assignments.get(c)) is not None
            else F.col(c)
            for c in src.columns
        ])

    # the refusal points the operator at the real artifact (an
    # out-of-contract store file or a key-NULLing assignment), not a
    # non-existent "batch"
    return _rewrite(
        spark, path, "update",
        lambda files: ([], touched) if (touched := prune(files, names, lo, hi)) else None,
        assign, tip=tip,
        refusal=(
            f"snapshot_update refused: the rewrite under {path} produced "
            f"or preserved NULL/NaN-key row(s) — either an assignment "
            f"NULLs a key column or a foreign/legacy data file violates "
            f"the non-null key contract; fix the assignment or repair the "
            f"file."
        ),
    )


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Semantic row diff between two committed versions (the
    ``table_changes(v1, v2)`` analog that also covers REWRITES — the
    change feed serves pure appends; this verb answers "what changed"
    across delete/update/upsert/merge/compaction history): every data
    column of ``to_version`` not in ``from_version`` as
    ``_change='insert'`` and the reverse as ``_change='delete'``, as a
    MULTISET diff (k extra copies of an identical row report k changes;
    an UPDATE appears as its delete+insert pair).

    Scale shape — file-aware first, rows second: files present in BOTH
    manifests (carried by reference across commits) cancel exactly and
    are never read; only the symmetric difference of the file lists
    scans. Row-level cancellation then runs as ONE hash aggregate
    grouped on the rows' EXACT canonical identity — per column a
    (null-flag, value-string) pair; no lossy 64-bit pre-hash whose
    collisions could cancel a real change — counting per side and
    emitting the surplus: compaction-style rewrites that only re-binned
    rows cancel to an empty diff without any join. Rows explode back
    with ``explode(sequence)`` per surplus count; no driver
    materialization anywhere. Reads use the schema of the NEWER of the
    two versions (under additive-only evolution that is the superset,
    so a reverse diff across an evolution sees the evolved columns and
    stays the exact label-swap of the forward diff)."""
    m_from = read_manifest(path, from_version)
    m_to = read_manifest(path, to_version)
    files_from = {f["path"] for f in m_from["files"]}
    files_to = {f["path"] for f in m_to["files"]}
    only_from = sorted(files_from - files_to)
    only_to = sorted(files_to - files_from)
    # the NEWER version's schema is the superset under additive-only
    # evolution — reading both sides with it keeps reverse diffs exact
    m_new = m_to if to_version >= from_version else m_from
    m_old = m_from if to_version >= from_version else m_to
    schema_m = m_new.get("schema") or m_old.get("schema")
    from pyspark.sql import types as T

    if schema_m is None:
        raise ValueError(
            f"snapshot_diff needs a recorded schema on v{from_version} or "
            f"v{to_version} of {path} (pre-schema legacy manifests cannot "
            f"diff deterministically across heterogeneous files)"
        )
    schema = T.StructType.fromJson(schema_m)
    reserved = {"_d", "_net", "_row", "_n", "_change"} | {
        f"_hf{i}" for i in range(len(schema.fields))
    } | {f"_hv{i}" for i in range(len(schema.fields))}
    clash = reserved & {f.name for f in schema.fields}
    if clash:
        raise ValueError(
            f"snapshot_diff: store columns {sorted(clash)} clash with the "
            f"diff's working/output columns"
        )
    # fresh StructType — StructType.add MUTATES in place (the round-8
    # pyds finding), which would smuggle a phantom _change column into
    # the data-read schema below
    out_schema = T.StructType(
        list(schema.fields) + [T.StructField("_change", T.StringType())]
    )
    if not only_from and not only_to:
        return spark.createDataFrame([], out_schema)

    def side(paths: list[str], delta: int) -> DataFrame:
        if not paths:
            return None
        df = spark.read.schema(schema).parquet(*paths)
        return df.withColumn("_d", F.lit(delta))

    cols = [f.name for f in schema.fields]
    frames = [s for s in (side(only_to, 1), side(only_from, -1)) if s is not None]
    both = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    # MAP columns cannot be grouping keys — group on the canonical
    # per-row identity instead and keep one exemplar row per group
    # (identical rows are interchangeable by definition of the multiset)
    def _cell(c: str):
        dt = schema[c].dataType
        if isinstance(dt, (T.MapType, T.ArrayType, T.StructType)):
            return F.to_json(F.col(c))
        if isinstance(dt, T.BinaryType):
            # cast-to-string would lossily UTF-8-decode (distinct payloads
            # collapsing onto replacement characters); base64 is injective
            return F.base64(F.col(c))
        return F.col(c).cast("string")

    # per column: (is-null flag, value-as-string) - the flag keeps NULL
    # distinct from any real string without a collidable sentinel; the
    # double->string cast is Java shortest-roundtrip (injective). The
    # grouping key is the EXACT identity tuple, not a 64-bit hash of it
    # - at billions of rows a birthday collision between a from-row and
    # a to-row would silently cancel a real change out of the diff.
    ident_cols = []
    for i, c in enumerate(cols):
        ident_cols.append(F.col(c).isNull().cast("int").alias(f"_hf{i}"))
        ident_cols.append(F.coalesce(_cell(c), F.lit("")).alias(f"_hv{i}"))
    key_names = [e for i in range(len(cols)) for e in (f"_hf{i}", f"_hv{i}")]
    agg = (
        both.select(*ident_cols, F.struct(*cols).alias("_row"), "_d")
        .groupBy(*key_names)
        .agg(
            F.sum("_d").alias("_net"),
            F.first("_row").alias("_row"),
        )
        .filter(F.col("_net") != 0)
    )
    return agg.select(
        F.col("_row.*"),
        F.when(F.col("_net") > 0, F.lit("insert"))
        .otherwise(F.lit("delete"))
        .alias("_change"),
        F.explode(
            F.sequence(F.lit(1), F.abs(F.col("_net")).cast("int"))
        ).alias("_n"),
    ).drop("_n")


def snapshot_vacuum(
    spark: SparkSession,
    path: str,
    keep_last: int = 1,
    min_age_s: float = 24 * 3600.0,
) -> list[str]:
    """Reclaim storage: drop all but the last ``keep_last`` manifests and
    delete every data file (and empty tx dir) no kept manifest references.
    This is the ONLY operation that deletes data, and it only deletes what
    no committed-and-kept snapshot can reach.

    ``min_age_s`` is the in-flight-writer guard (the same reason Delta's
    VACUUM has a retention window): a writer that has staged data files
    but not yet committed its manifest looks exactly like a crashed
    orphan, so unreferenced files YOUNGER than the threshold are left
    alone — only files old enough that no live transaction can still be
    about to reference them are reclaimed. Lower it (or pass 0) only when
    no writer can be active. Returns deleted paths."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if min_age_s < 0:
        raise ValueError(f"min_age_s must be >= 0, got {min_age_s}")
    fs = _StoreFS(spark, path)
    versions = list_versions(path)
    manifests = dict(history(path))
    if not manifests:
        # every manifest is torn/tampered — exactly the state readers are
        # built to survive and an operator can repair. An empty live set
        # here would delete every manifest and (past min_age_s) every data
        # file: vacuum must never turn a repairable store into data loss.
        return []
    kept_versions = sorted(manifests)[-keep_last:]
    live = {
        data_file_key(f["path"])
        for v in kept_versions
        for f in manifests[v]["files"]
    }
    deleted: list[str] = []
    # delete only BELOW the kept floor — never a slot BETWEEN kept
    # versions (only unreadable junk can sit there): slot numbers are
    # never reused, so the retained junk stays invisible to readers and
    # writers keep skipping it
    for v in versions:
        if v < kept_versions[0]:
            fs.delete(manifest_path(path, v))
            deleted.append(manifest_path(path, v))
    cutoff = time.time() - min_age_s
    # stale publish temps: a writer that crashed between staging and
    # linking leaves .tmp_v*.json junk (harmless — invisible to version
    # listing — but it accumulates); reclaim it under the same age guard
    for tmp in stale_temps(path, cutoff):
        fs.delete(tmp)
        deleted.append(tmp)
    cutoff_ms = cutoff * 1000.0
    data_root = f"{path}/data"
    if fs.exists(data_root):
        for tx in fs.subdirs(data_root):
            files = fs.parquet_files(tx)
            dead = []
            for p, _sz in files:
                if data_file_key(p) in live:
                    continue
                mtime = fs.fs.getFileStatus(fs.jpath(p)).getModificationTime()
                if mtime <= cutoff_ms:
                    dead.append(p)
            for p in dead:
                fs.delete(p)
                deleted.append(p)
            if files and len(dead) == len(files):
                fs.delete(tx)  # tx dir fully unreferenced
    return deleted

