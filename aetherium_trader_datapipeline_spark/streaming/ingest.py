"""Live ingestion pipeline (ops S1 + V1 + B1 + K1).

Reference pipeline: subscribe → buffer (1000 ticks / 5 s flush,
di.rs:41-42; services.rs:36-75) → Arrow batch → hourly-rotated parquet
files per symbol (parquet.rs:45-57,150-205).

Spark-first: the micro-batcher IS Structured Streaming's trigger, and the
validation, layout columns and per-batch counts are DataFrame
expressions. The hourly file rotation is one Arrow writer shared by the
live sink (``ingest_stream``) and the batch sink (``ingest_batch``):
``with_partition_cols`` → one ``mapInArrow`` action in which each task
groups its rows by (symbol, date, hour) and writes one Parquet file per
key with pyarrow, in the reference's own types (INT64
TIMESTAMP(MICROS, UTC), DECIMAL(10,4)).

Task-commit protocol (the reference's tmp → rename, IDD.md:26-28, keyed
by epoch as in Structured Streaming's idempotent sinks):

1. Tasks write into ``<root>/_staging/<write id>/symbol=…/date=…/hour=…/``.
   Readers skip names that start with ``_`` or ``.``, so staged files are
   never read.
2. A task attempt ends by writing an empty ``_done-<task>-<attempt>``
   marker there. Only after the action succeeds does the driver list the
   staging directory and move the files of one marked attempt per task
   into the lake, with local file operations through one ``pyarrow.fs``
   filesystem (no Spark job, no py4j call per file). A failed job commits
   nothing, and files an attempt left without its marker are never moved.
3. A stream batch's write id is ``<queryId>-<batchId>``. Its replay
   first clears whatever an earlier attempt left staged under that id
   (the driver may have died before removing it). In every key directory
   it touches, the commit first deletes the ``part-<queryId>-<batchId>-*``
   files of an earlier attempt of that batch, then moves its files in as ``part-<queryId>-<batchId>-<n>``,
   ``n`` numbering them in task order. A replayed batch therefore replaces
   exactly its own files, however its rows were split into tasks, and two
   queries writing one lake never collide. The checkpoint persists the
   query id, and Spark writes the batch's commit entry only after this
   commit returns.
4. A batch write (a random write id) replaces each key directory it
   touches, like Spark's dynamic partition overwrite.

The lake keeps no ``_spark_metadata`` log, so batch-written days (a
backfill into a streamed lake) are visible to every reader.

Each writer task first drops the Python worker's cached ``zipimporter``s
(``_drop_zip_importers``): pyspark invalidates import caches before every
task, and on CPython < 3.13 that re-reads every cached zip archive
(pyspark.zip, the spark-core jar) in full, about 130 ms CPU per task.
"""

from __future__ import annotations

import os
import re
import sys
import uuid
import zipimport
from functools import partial
from itertools import groupby

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aetherium_trader_datapipeline_spark.operators.merge import (
    _hadoop_fs,
    reject_stream_sink_root,
)
from aetherium_trader_datapipeline_spark.operators.validate import (
    TICK_SCHEMA_DDL,
    tick_valid_expr,
)

# The writer runs in Python workers, which cannot import this package when
# the driver put it on sys.path itself: ship this module's code by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

FLUSH_INTERVAL_SECONDS = 5  # reference flush_interval (di.rs:41-42)

# What the sinks below write: tick columns plus the date/hour layout columns.
LAKE_SCHEMA_DDL = TICK_SCHEMA_DDL + ", date DATE, hour INT"


def read_lake(spark: SparkSession, data_dir: str) -> DataFrame:
    """The lake the sinks below write. The schema is passed, not inferred,
    so an empty directory reads as empty instead of UNABLE_TO_INFER_SCHEMA;
    a missing one is probed explicitly and is empty too. Any other read
    failure raises: a broad except once turned a transient FS error into
    "empty lake" and a re-fetch of every partition (r10 review finding)."""
    fs, root = _hadoop_fs(spark, data_dir)
    if not fs.exists(root):
        return spark.createDataFrame([], LAKE_SCHEMA_DDL)
    return spark.read.schema(LAKE_SCHEMA_DDL).parquet(data_dir)


def with_partition_cols(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Hour-granularity layout columns (reference file rotation,
    parquet.rs:45-48: one file per {symbol}_{YYYYMMDD}_{HH})."""
    return df.withColumn("date", F.to_date(ts_col)).withColumn("hour", F.hour(ts_col))


# -- the lake writer -----------------------------------------------------

PARTITION_COLS = ("symbol", "date", "hour")
STAGING_DIR = "_staging"
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# ExternalCatalogUtils.charToEscape off Windows: ASCII controls 0x01-0x1F,
# DEL and "#%'*/:=?\{[]^
_ESCAPED = frozenset([*map(chr, range(1, 32)), *'"#%\'*/:=?\\\x7f{[]^'])
# store_schema=False: the ARROW:schema footer blob nearly doubles a small
# file's footer, and no reader here needs it
_PARQUET_OPTS = dict(
    use_dictionary=False,
    store_schema=False,
    column_encoding={"timestamp": "DELTA_BINARY_PACKED"},
)


def partition_path(col: str, value) -> str:
    """``col=value`` exactly as Spark's ``ExternalCatalogUtils
    .getPartitionPathString`` names it: null and ``""`` are
    ``__HIVE_DEFAULT_PARTITION__``, escaped characters are ``%XX``. Spark's
    partition discovery unescapes the same way, so a value round-trips."""
    text = None if value is None else str(value)
    if not text:
        return f"{col}={HIVE_DEFAULT_PARTITION}"
    return col + "=" + "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in text)


def lake_fs(root: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem and path of a lake root; a path without a
    scheme is local. ``ValueError`` if pyarrow cannot resolve it."""
    if not re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", root):
        root = os.path.abspath(root)
    try:
        fs, path = pafs.FileSystem.from_uri(root)
    except (pa.ArrowException, OSError, ValueError) as e:
        raise ValueError(f"cannot resolve lake root {root!r}: {e}") from e
    return fs, path.rstrip("/")


def _drop_zip_importers() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``.

    A Python worker runs ``importlib.invalidate_caches()`` before each
    task, and before CPython 3.13 a cached ``zipimporter`` answers that by
    re-reading its archive's whole directory. A reused worker holds
    several over pyspark.zip and the spark-core jar, ~28,000 entries per
    task. Without them the invalidation has nothing to re-read; an import
    that needs an archive again builds a new importer from
    ``zipimport._zip_directory_cache``, as 3.13's lazy invalidation does."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def _stage_files(batches, fs: pafs.FileSystem, staging: str, name: str):
    """``mapInArrow`` body: one Parquet file per (symbol, date, hour) of the
    task's rows, ``<staging>/<key dirs>/<name>-<task>-<attempt>.parquet``,
    rows sorted by timestamp; then the empty marker
    ``<staging>/_done-<task>-<attempt>``, whose presence means every file
    of that attempt is complete. Yields no rows."""
    from pyspark import TaskContext

    # this worker's next task then skips the archive re-reads
    _drop_zip_importers()
    batches = list(batches)
    if not sum(b.num_rows for b in batches):
        return
    keys = list(PARTITION_COLS)
    table = pa.Table.from_batches(batches)
    table = table.sort_by([(k, "ascending") for k in (*keys, "timestamp")])
    # a run of equal keys starts wherever any key differs from the row
    # before it (two nulls are equal)
    starts = np.zeros(table.num_rows, dtype=bool)
    starts[0] = True
    for k in keys:
        this, prev = table[k].slice(1), table[k].slice(0, table.num_rows - 1)
        differs = pc.coalesce(pc.not_equal(this, prev),
                              pc.xor(pc.is_null(this), pc.is_null(prev)))
        starts[1:] |= differs.to_numpy(zero_copy_only=False)
    bounds = [*np.flatnonzero(starts).tolist(), table.num_rows]
    by_dir: dict[str, list[pa.Table]] = {}
    for key, lo, hi in zip(table.select(keys).take(bounds[:-1]).to_pylist(), bounds, bounds[1:]):
        d = "/".join(partition_path(k, key[k]) for k in keys)
        by_dir.setdefault(d, []).append(table.slice(lo, hi - lo))
    data_cols = [c for c in table.column_names if c not in keys]
    ctx = TaskContext.get()
    attempt = f"{ctx.partitionId()}-{ctx.attemptNumber()}"
    for d, parts in by_dir.items():
        # null and "" symbols share the default partition's directory
        out = parts[0] if len(parts) == 1 else pa.concat_tables(parts).sort_by("timestamp")
        fs.create_dir(f"{staging}/{d}")
        pq.write_table(out.select(data_cols), f"{staging}/{d}/{name}-{attempt}.parquet",
                       filesystem=fs, **_PARQUET_OPTS)
    fs.open_output_stream(f"{staging}/_done-{attempt}").close()
    yield from ()


def _staged_files(fs: pafs.FileSystem, staging: str, name: str) -> list[tuple[str, int, str]]:
    """``(key dir, task, path)`` of every file staged by one complete
    attempt per task: a failed or duplicate attempt of a task may have
    left files too, complete or not."""
    infos = fs.get_file_info(pafs.FileSelector(staging, allow_not_found=True, recursive=True))
    done = {}
    for info in infos:
        if info.base_name.startswith("_done-"):
            task, attempt = info.base_name[len("_done-"):].split("-")
            done[task] = attempt
    files = []
    for info in infos:
        if info.extension == "parquet":
            task, attempt = info.base_name[len(name) + 1:-len(".parquet")].split("-")
            if done.get(task) == attempt:
                key_dir = os.path.dirname(info.path[len(staging) + 1:])
                files.append((key_dir, int(task), info.path))
    return files


def _write_lake(frame: DataFrame, fs: pafs.FileSystem, root: str, write_id: str,
                replace_dirs: bool) -> None:
    """Write ``frame`` (tick columns plus the layout columns) into the lake
    at ``root`` in one Spark action, then commit the staged files (see the
    module docstring). ``replace_dirs`` empties each touched key directory
    first; otherwise only files of an earlier attempt of ``write_id`` go."""
    staging = f"{root}/{STAGING_DIR}/{write_id}"
    name = f"part-{write_id}"
    # only a replay of a stream batch reuses a write id: what an earlier
    # attempt staged before its driver died must not pass for this one's
    fs.delete_dir_contents(staging, missing_dir_ok=True)
    try:
        # the tasks' output is their staged files; the action returns nothing
        (frame.mapInArrow(partial(_stage_files, fs=fs, staging=staging, name=name), frame.schema)
         .write.format("noop").mode("overwrite").save())
        for d, dir_files in groupby(sorted(_staged_files(fs, staging, name)), key=lambda f: f[0]):
            target = f"{root}/{d}"
            if replace_dirs:
                fs.delete_dir_contents(target, missing_dir_ok=True)
            else:
                stale = pafs.FileSelector(target, allow_not_found=True)
                for info in fs.get_file_info(stale):
                    if info.base_name.startswith(name + "-"):
                        fs.delete_file(info.path)
            fs.create_dir(target)
            # n numbers the write's files in the directory in task order: a
            # replay whose rows were split differently keeps its names as
            # long as the directory's rows still come from as many tasks
            for n, (_d, _task, path) in enumerate(dir_files):
                fs.move(path, f"{target}/{name}-{n:05d}.parquet")
    finally:
        if fs.get_file_info(staging).type != pafs.FileType.NotFound:
            fs.delete_dir(staging)


def ingest_stream(
    ticks: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = FLUSH_INTERVAL_SECONDS,
    available_now: bool = False,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Start the ingestion query: validation filter → partitioned parquet.

    ``available_now=True`` gives the bounded smoke-run form (reference
    ingestion_test binary: bounded 15 s run, ingestion_test.rs:15-42).
    Invalid rows are dropped unless ``quarantine_dir`` is given, in which
    case a second query routes them there (separate checkpoint).

    Every micro-batch reports observed metrics ``ingest.rows`` /
    ``ingest.invalid_rows`` (StreamingQueryProgress.observedMetrics) — the
    reference's per-flush count logging (services.rs:79-94) computed
    inline by the running query, no second pass, no extra action: the
    sink runs exactly one action per batch (a second would count every
    row twice).

    Raises ``ValueError`` before any query starts if a root cannot be
    resolved (``lake_fs``).
    """
    ticks = ticks.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(tick_valid_expr(), 0).otherwise(1)).alias("invalid_rows"),
    )

    # One sink for both queries, so the quarantine query always gets the
    # main query's trigger: a hardcoded availableNow trigger there drained
    # only the data present at startup and then stopped, silently dropping
    # every later invalid row of a continuous run.
    lakes = {d: lake_fs(d) for d in (out_dir, quarantine_dir) if d is not None}

    def start_sink(frame: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
        fs, root = lakes[path]

        def commit(batch: DataFrame, batch_id: int) -> None:
            # the stream thread's query id, which the checkpoint persists
            query_id = batch.sparkSession.sparkContext.getLocalProperty(
                "sql.streaming.queryId"
            )
            _write_lake(batch, fs, root, f"{query_id}-{batch_id}", replace_dirs=False)

        writer = (
            with_partition_cols(frame)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            return writer.trigger(availableNow=True).start()
        return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()

    q = start_sink(ticks.where(tick_valid_expr()), out_dir, checkpoint_dir)
    # the quarantine handle rides on the returned query as a plain Python
    # attribute so callers can await/stop it alongside the main query
    q.quarantine_query = None
    if quarantine_dir is not None:
        q.quarantine_query = start_sink(
            ticks.where(~tick_valid_expr()),
            quarantine_dir,
            checkpoint_dir + "_quarantine",
        )
    return q


def ingest_batch(ticks: DataFrame, out_dir: str) -> tuple[int, int | None]:
    """Batch form of the same sink (backfill persist path, op P2): replace
    the (symbol, date, hour) directories the valid rows touch, as dynamic
    partition overwrite does, so a re-run of the same days is idempotent.

    Returns ``(rows_written, max_ts_us)`` measured by ``observe()`` ON THE
    WRITE ACTION ITSELF — the persisted, validity-filtered rows in ONE
    pass.  The backfill loop previously recomputed count/max(ts) on the
    UNFILTERED source plan in two extra actions, so (a) a day whose last
    rows were invalid advanced the cursor past data that was never
    persisted, and (b) a non-deterministic live fetch was executed three
    times with three potentially different answers (r10 review).

    Raises ``ValueError`` before any Spark work if ``out_dir`` cannot be
    resolved (``lake_fs``) or holds a streaming file sink's log
    (``reject_stream_sink_root``)."""
    from pyspark.sql import Observation

    fs, root = lake_fs(out_dir)
    reject_stream_sink_root(ticks.sparkSession, out_dir)
    obs = Observation()
    out = with_partition_cols(ticks.where(tick_valid_expr())).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.max(F.unix_micros("timestamp")).alias("max_ts_us"),
    )
    _write_lake(out, fs, root, uuid.uuid4().hex, replace_dirs=True)
    got = obs.get
    return int(got["rows"]), got["max_ts_us"]
