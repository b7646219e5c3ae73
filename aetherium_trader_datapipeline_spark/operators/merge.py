"""Keyed merge-upsert and small-file compaction on plain parquet tables.

The reference's storage layer appends immutable hourly files
(`repositories/parquet.rs:45-57`) and relies on instance-stamped filenames
for idempotent re-runs (IDD `:181,227`). A full pipeline also needs the two
table-maintenance operations that layer on top:

- **merge_upsert** — CDC-style upsert of a change batch into a keyed table
  (insert new keys, replace matched keys, optionally delete tombstones).
  Without a transaction log (Delta/Iceberg aren't in this environment) the
  unit of atomicity is the partition directory: we rewrite ONLY the
  partitions the change batch touches (dynamic partition overwrite), which
  is also the 100 TB answer — work scales with the changed partitions, not
  the table. Spark's task-commit protocol keeps each partition swap atomic.

- **compact_partitions** — bin-packs a partition's many small files (the
  natural residue of 5 s streaming triggers, `di.rs:41-42`) into
  target-size files, preserving the in-file sort (symbol, ts) so parquet
  min/max footer pruning keeps working.

Scale notes: merge shuffles only the change batch plus the touched
partitions (partition-pruned scan, pushed filter on the partition column);
compaction sizes its shuffle from a filesystem LISTING (no data scan) and
salts large partitions so no single task rewrites a whole partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for any scheme the session's Hadoop conf knows —
    local, hdfs://, s3a://.  Driver-local os.path calls silently miss
    non-local schemes (an r10 review finding against compaction's sizing)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def reject_stream_sink_root(spark: SparkSession, root_path: str) -> None:
    """Refuse a batch overwrite of a root that Spark's streaming file sink
    wrote.  Readers of such a root list only the files named in its
    ``_spark_metadata`` log: a batch-written partition there is never read,
    and a dynamic overwrite deletes files the log still lists, so every
    later read fails with FILE_NOT_EXIST.  The engine's own stream sink
    (``streaming.ingest``) keeps no log, so only legacy lakes, written
    before it, or roots of other file-sink queries are refused."""
    fs, root = _hadoop_fs(spark, root_path)
    log = spark._jvm.org.apache.hadoop.fs.Path(root, "_spark_metadata")
    if fs.exists(log):
        raise ValueError(
            f"{log.toString()} exists: {root_path} is written by a streaming "
            "file sink, whose readers skip batch-written files and fail on "
            "files a batch overwrite deletes"
        )


def _catalog_utils(spark: SparkSession):
    """Spark's own partition-path escaping (ExternalCatalogUtils): a raw
    f-string path like ``d=2024-01-01 10:00:00`` misses the on-disk
    ``10%3A00%3A00`` form and NULL's ``__HIVE_DEFAULT_PARTITION__``."""
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils


def _partition_dir(spark: SparkSession, partition_col: str, value) -> str:
    u = _catalog_utils(spark)
    if value is None:
        return f"{partition_col}={u.DEFAULT_PARTITION_NAME()}"
    return f"{partition_col}={u.escapePathName(str(value))}"


def _table_has_data(fs, root, partition_col: str) -> bool:
    """True iff the table root holds at least one partition directory or
    data file.  A table fully drained by a tombstone batch leaves the root
    with only _SUCCESS (emptied-partition cleanup removed the dirs); bare
    ``fs.exists(root)`` would classify that as an existing table and the
    subsequent read would die on schema inference instead of taking the
    new-table insert path (r10 advice).

    A root that exists but holds ONLY foreign content — partition dirs
    keyed by a different column, or arbitrary subdirectories — raises
    instead of returning False: taking the new-table insert path there
    would silently write a second partition layout alongside the old one
    (a caller typo'd partition_col, or the table's layout changed), which
    is the same silent-reclassify hazard the explicit existence probe was
    introduced to remove (r11 advice)."""
    if not fs.exists(root):
        return False
    prefix = f"{partition_col}="
    has_data = False
    foreign: list[str] = []
    # classify EVERY entry before deciding: an early return on the first
    # matching dir would let a MIXED root (d=... alongside dd=... — one
    # bad historical merge, or external writes) pass as healthy and keep
    # accreting the second layout (r12 review)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            has_data = True
        elif st.isFile() and not name.startswith(("_", ".")):
            has_data = True
        elif st.isDirectory() and not name.startswith(("_", ".")):
            foreign.append(name)
    if foreign:
        raise ValueError(
            f"table root {root} contains directories that are not "
            f"'{partition_col}=' partitions: {sorted(foreign)[:5]} — refusing "
            f"to {'merge into' if has_data else 'treat as new'} a root with "
            f"a foreign partition layout (wrong partition_col, or a layout "
            f"change?). Merge into the table's actual partition column, or "
            f"point merge_upsert at an empty/absent root."
        )
    return has_data


def merge_upsert(
    spark: SparkSession,
    table_path: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_col: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
) -> dict:
    """Upsert `changes` into the parquet table at `table_path`.

    Matched keys take the change row (last-writer-wins inside a batch is
    the caller's responsibility — dedupe first); unmatched keys insert.
    Rows with `delete_col = true` are tombstones: the key is removed.
    Only partitions present in `changes` are rewritten.

    ``seq_col``: when given, the column is persisted in the table and a
    matched key is replaced (or tombstoned) only if the change's sequence
    is >= the stored one — out-of-order change feeds can no longer clobber
    newer state with older values (ties prefer the change).

    PRECONDITION — stable key→partition mapping: a change row must carry
    the SAME partition value as the stored row for its key (the normal
    CDC shape: the partition column derives from the key or an immutable
    attribute).  A change that "moves" a key to a different partition
    inserts there without removing the old row — partition-pruned merge
    cannot see partitions the batch doesn't touch, by design (that
    pruning is what makes the merge O(changed), not O(table)).
    """
    tmp_spill: str | None = None
    try:
        touched = [r[0] for r in changes.select(partition_col).distinct().collect()]

        def minus_tombstones(df: DataFrame) -> DataFrame:
            if delete_col is None:
                return df
            return df.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
                delete_col
            )

        def touched_pred():
            # isin() is NULL-blind (NULL partition rows would be dropped
            # from `keep` while the write still overwrites the
            # __HIVE_DEFAULT_PARTITION__ directory — silent row loss)
            non_null = [t for t in touched if t is not None]
            pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
            if any(t is None for t in touched):
                pred = pred | F.col(partition_col).isNull()
            return pred

        # Existence is probed EXPLICITLY: a broad except around the read
        # used to reclassify ANY failure (missing seq column, transient FS
        # error) as "new table" and silently overwrite touched partitions
        # with only the change rows (r10 review finding).  The probe is a
        # LISTING, not a bare exists(): a fully-drained table (all
        # partitions tombstoned away) leaves the root with only _SUCCESS,
        # which must take the new-table path, not a schema-inference crash.
        fs, root = _hadoop_fs(spark, table_path)
        if _table_has_data(fs, root, partition_col):
            # mergeSchema: after an additive-evolution merge the footer
            # Spark samples for the schema may predate the new column,
            # which would silently NULL it for every kept row
            current = (
                spark.read.option("mergeSchema", "true")
                .parquet(table_path)
                .where(touched_pred())
            )
            eff = changes
            if seq_col is not None:
                cur_seq = current.select(
                    *key_cols, F.col(seq_col).alias("__cur_seq")
                )
                eff = (
                    changes.join(cur_seq, on=key_cols, how="left")
                    .where(
                        F.col("__cur_seq").isNull()
                        | (F.col(seq_col) >= F.col("__cur_seq"))
                    )
                    .drop("__cur_seq")
                )
            # keep current rows whose key has no surviving row (upsert OR
            # tombstone) in the change batch
            keep = current.join(
                eff.select(*key_cols).distinct(), on=key_cols, how="left_anti"
            )
            # allowMissingColumns: additive schema evolution — a change
            # batch may carry new columns (old rows get NULL) and old
            # columns the batch lacks survive as NULL on the new rows.
            merged = keep.unionByName(minus_tombstones(eff), allowMissingColumns=True)
        else:  # table does not exist yet → plain insert
            merged = minus_tombstones(changes)
        # Materialize ONCE: the plan below is consumed twice (the
        # `surviving` collect, then the write), and the write's dynamic
        # overwrite deletes the very files the plan reads — truncating the
        # lineage here both halves the cost and removes the self-overwrite
        # read hazard.  localCheckpoint stores blocks on executors only:
        # under dynamic allocation or executor loss those blocks are
        # unrecoverable and a large production merge fails mid-write (no
        # data loss — the overwrite hasn't committed — but fragile exactly
        # when executors churn).  When the session has a checkpoint dir
        # configured, spill to a TEMP PARQUET under it and read back — the
        # durability of a reliable DataFrame.checkpoint() WITHOUT its leak
        # (Spark deletes reliable checkpoint files only under
        # referenceTracking.cleanCheckpoints + driver GC; a per-micro-batch
        # merge would otherwise accumulate one full table copy per batch).
        # The spill is deleted in this function's finally.  localCheckpoint
        # stays the fast path for local mode / unconfigured sessions.
        ck_dir = spark.sparkContext.getCheckpointDir()
        if ck_dir is not None:
            import uuid

            tmp_spill = f"{ck_dir.rstrip('/')}/merge-spill-{uuid.uuid4().hex}"
            merged.write.parquet(tmp_spill)
            merged = spark.read.parquet(tmp_spill)
        else:
            merged = merged.localCheckpoint()
        # Dynamic overwrite only replaces partitions PRESENT in the output;
        # a partition fully emptied by tombstones writes no rows, so its old
        # files would survive.
        surviving = {r[0] for r in merged.select(partition_col).distinct().collect()}
        (
            merged.repartition(F.col(partition_col))
            .sortWithinPartitions(*key_cols)
            .write.mode("overwrite")
            # scoped to THIS write: a session-wide conf set/restore races
            # with a concurrent merge (merge_stream runs on a streaming
            # thread) — the first to restore "static" turns the other's
            # overwrite into a whole-table replace
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(table_path)
        )
        # Drop emptied partition directories explicitly (the same
        # metadata-only delete a lake format's DELETE commit performs),
        # using Spark's own path escaping (a raw str(p) path misses
        # escaped values and NULL partitions — the "deleted" rows would
        # silently resurrect on the next read).
        emptied = [p for p in touched if p not in surviving]
        if emptied:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            for p in emptied:
                path = jvm.org.apache.hadoop.fs.Path(
                    f"{table_path}/{_partition_dir(spark, partition_col, p)}"
                )
                pfs = path.getFileSystem(conf)
                if pfs.exists(path):
                    pfs.delete(path, True)
        return {
            "touched_partitions": len(touched),
            "emptied_partitions": len(emptied),
        }
    finally:
        if tmp_spill is not None:
            # delete the durable spill whether the merge committed or not
            # (on failure the dynamic overwrite never committed, so the
            # table is untouched and the spill is just garbage)
            sfs, spath = _hadoop_fs(spark, tmp_spill)
            if sfs.exists(spath):
                sfs.delete(spath, True)


def _partition_sizes(
    spark: SparkSession, table_path: str, partition_col: str
) -> dict:
    """{raw partition value (str, None for NULL): (bytes, n_files)} from a
    recursive filesystem LISTING of the table's partition directories —
    no data scan, and correct for every scheme (s3a/hdfs/local) and for
    escaped values, where the previous input_file_name +
    os.path.getsize approach silently returned 0 (r10 review finding).

    Raises ``ValueError`` unless ``partition_col`` is the table's only
    partition level: a root directory keyed by another column, or a
    ``k=v`` directory nested in a partition (the ingest lake's
    ``symbol=…/date=…/hour=…``), would make the rewrite below flatten or
    mix layouts, after which every read fails with
    CONFLICTING_PARTITION_COLUMN_NAMES."""
    fs, root = _hadoop_fs(spark, table_path)
    u = _catalog_utils(spark)
    default = u.DEFAULT_PARTITION_NAME()
    prefix = f"{partition_col}="
    sizes: dict = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or not st.isDirectory():
            continue
        if not name.startswith(prefix):
            raise ValueError(
                f"{table_path} holds {name!r}, not a '{partition_col}=' "
                f"partition: compaction rewrites a table partitioned by "
                f"'{partition_col}' alone"
            )
        raw = name[len(prefix):]
        value = None if raw == default else u.unescapePathName(raw)
        total = n = 0
        base = st.getPath().toString()
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            f = it.next()
            path = f.getPath().toString()
            nested = next((d for d in path[len(base) + 1:].split("/")[:-1]
                           if "=" in d and not d.startswith(("_", "."))), None)
            if nested:
                raise ValueError(
                    f"{table_path}/{name} nests partition directory "
                    f"{nested!r}: compaction rewrites a table partitioned "
                    f"by '{partition_col}' alone"
                )
            if not f.getPath().getName().startswith(("_", ".")):
                total += f.getLen()
                n += 1
        sizes[value] = (total, n)
    return sizes


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    partition_col: str,
    partitions: list | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite the given partitions (default: all) into ~target-size files.

    Total output-file budget = Σ ceil(partition_bytes / target) from a
    filesystem LISTING (no data scan).  Rows are RANGE-partitioned on
    (partition_col, sort_cols): each output file covers a disjoint
    sort-key range, so parquet footer min/max stays tight at the FILE
    level — the earlier hash-salt spread every file's footer across the
    whole key range, defeating exactly the file-level pruning compaction
    exists to preserve (r10 advice).  Range boundaries come from Spark's
    reservoir sample, so a 10 GB partition still fans out over ~80
    parallel tasks instead of one straggler (hash-repartitioning on the
    partition column alone pinned every row of a value to one task — the
    r10 review's straggler finding), and per-partition file counts track
    row counts.  Rows are re-sorted by `sort_cols` inside each output
    file so row-group stats stay tight too.

    SIZING IS BEST-EFFORT (r11 advice, accepted): n_out derives from BYTE
    footprints but repartitionByRange splits by sampled ROW counts pooled
    across the selected partitions, so partitions with wider rows — or a
    mix of row widths across partitions — land off target_file_bytes, and
    reservoir-sampled boundaries make per-file sizes approximate anyway.
    Compaction's contract here is "bounded file count, preserved sort",
    not exact file sizes; a caller needing tighter sizing should weight
    the budget per partition by estimated bytes/row from the listing.

    Raises ``ValueError`` before any Spark job unless ``partition_col`` is
    the table's only partition level (``_partition_sizes``): the ingest
    lake's ``symbol/date/hour`` layout is refused, not compacted.
    """
    reject_stream_sink_root(spark, table_path)
    sizes = _partition_sizes(spark, table_path, partition_col)
    if partitions is not None:
        want = {None if p is None else str(p) for p in partitions}
        sizes = {v: b for v, b in sizes.items() if v in want}
    # per-partition output-file count from the listing
    k_rows = [
        (v, max(1, -(-b // target_file_bytes))) for v, (b, _n) in sizes.items()
    ]
    n_out = sum(k for _v, k in k_rows)

    df = spark.read.option("mergeSchema", "true").parquet(table_path)
    if partitions is not None:
        non_null = [p for p in partitions if p is not None]
        pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if any(p is None for p in partitions):
            pred = pred | F.col(partition_col).isNull()
        df = df.where(pred)

    # Range partitioning on (partition, sort key): boundaries from
    # Spark's sample, so each task — hence each output file — holds a
    # contiguous slice of the sort-key domain within its table
    # partition.  A trailing row-hash TIE-BREAKER lets the range
    # partitioner split runs of EQUAL sort keys across tasks —
    # without it a low-cardinality sort key (3 statuses, say)
    # collapses to |distinct keys| tasks and re-creates the oversized
    # single-task files this rewrite removes (r11 review).  Cost: a
    # boundary VALUE may straddle two files (one extra file probe per
    # boundary value); every non-boundary value still maps to exactly
    # one file, so footer min/max pruning stays file-effective.
    range_cols = [F.col(partition_col)] + [
        F.col(c) for c in (sort_cols or [c for c in df.columns if c != partition_col])
    ]
    # hash() rejects MapType — skip map-bearing columns (fully
    # identical rows then tie, which is harmless: they carry the
    # same content into whichever file wins)
    hashable = [c for c, t in df.dtypes if "map<" not in t]
    tiebreak = (
        F.hash(*[F.col(c) for c in hashable]) if hashable else F.lit(0)
    )
    out = df.repartitionByRange(
        int(max(1, n_out)), *range_cols, tiebreak
    )
    if sort_cols:
        out = out.sortWithinPartitions(partition_col, *sort_cols)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(table_path)
    )
    return {
        "partitions": len(sizes),
        "files_before": sum(n for _b, n in sizes.values()),
        "target_files": int(max(1, n_out)),
    }
