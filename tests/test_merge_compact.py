"""merge_upsert (partition-scoped CDC upsert) and compact_partitions.

Covers the table-maintenance layer over the reference's append-only hourly
parquet layout (`repositories/parquet.rs:45-57`): insert/update/delete
semantics, untouched-partition preservation, and small-file bin-packing.
"""

from __future__ import annotations

import glob
import os
import tempfile
import warnings

import pytest
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.operators.merge import (
    compact_partitions,
    merge_upsert,
)


def _rows(spark, path):
    return {
        (r.k, r.v, r.d)
        for r in spark.read.parquet(path).select("k", "v", "d").collect()
    }


def test_merge_upsert_insert_update_delete(spark):
    base = os.path.join(tempfile.mkdtemp(prefix="merge-"), "t")
    seed = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
        "k int, v string, d string",
    )
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    assert _rows(spark, base) == {
        (1, "a", "p1"),
        (2, "b", "p1"),
        (3, "c", "p2"),
        (4, "d", "p3"),
    }

    changes = spark.createDataFrame(
        [
            (2, "B", "p1", False),  # update
            (5, "e", "p1", False),  # insert into existing partition
            (6, "f", "p4", False),  # insert into new partition
            (3, None, "p2", True),  # delete tombstone
        ],
        "k int, v string, d string, is_delete boolean",
    )
    stats = merge_upsert(
        spark, base, changes, key_cols=["k"], partition_col="d", delete_col="is_delete"
    )
    assert stats["touched_partitions"] == 3
    assert _rows(spark, base) == {
        (1, "a", "p1"),
        (2, "B", "p1"),
        (5, "e", "p1"),
        (6, "f", "p4"),
        (4, "d", "p3"),  # untouched partition survives the rewrite
    }
    # p2 is now empty of rows but p3 was never rewritten
    assert (
        spark.read.parquet(base).where(F.col("d") == "p2").count() == 0
    )


def test_merge_upsert_rewrites_only_touched_partitions(spark):
    base = os.path.join(tempfile.mkdtemp(prefix="merge-"), "t")
    seed = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "k int, v string, d string"
    )
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    p2_files_before = set(glob.glob(os.path.join(base, "d=p2", "*.parquet")))

    changes = spark.createDataFrame([(1, "A", "p1")], "k int, v string, d string")
    merge_upsert(spark, base, changes, key_cols=["k"], partition_col="d")

    p2_files_after = set(glob.glob(os.path.join(base, "d=p2", "*.parquet")))
    assert p2_files_before == p2_files_after  # physically untouched


def test_compact_partitions_reduces_file_count(spark):
    base = os.path.join(tempfile.mkdtemp(prefix="compact-"), "t")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("v"),
        (F.col("id") % 2).cast("string").alias("d"),
    )
    # 16 tiny files per partition — the residue of frequent streaming triggers
    df.repartition(16).write.partitionBy("d").parquet(base)
    files_before = glob.glob(os.path.join(base, "d=*", "*.parquet"))
    assert len(files_before) > 4

    before = {(r.k, r.v, r.d) for r in spark.read.parquet(base).collect()}
    stats = compact_partitions(
        spark, base, partition_col="d", sort_cols=["k"], target_file_bytes=1 << 30
    )
    files_after = glob.glob(os.path.join(base, "d=*", "*.parquet"))
    assert len(files_after) < len(files_before)
    assert stats["files_before"] == len(files_before)
    after = {(r.k, r.v, r.d) for r in spark.read.parquet(base).collect()}
    assert before == after


def test_compact_partitions_refuses_stream_sink_root(spark, tmp_path):
    """A root the streaming file sink writes is read through its
    ``_spark_metadata`` log, so a dynamic overwrite there deletes files the
    log still lists.  Compaction refuses such a root before touching it."""
    src, base, ckpt = (str(tmp_path / d) for d in ("src", "t", "ckpt"))
    spark.range(0, 200).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS d").write.parquet(src)
    q = (
        spark.readStream.schema("k BIGINT, d STRING").parquet(src)
        .writeStream.format("parquet")
        .option("path", base)
        .option("checkpointLocation", ckpt)
        .partitionBy("d")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    files = sorted(glob.glob(os.path.join(base, "d=*", "*.parquet")))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_partitions(spark, base, partition_col="d")
    assert sorted(glob.glob(os.path.join(base, "d=*", "*.parquet"))) == files
    assert spark.read.parquet(base).count() == 200


def test_compact_partitions_refuses_ingest_lake(spark, tmp_path):
    """The ingest lake is partitioned ``symbol/date/hour``. Compacting it
    by ``date`` (not its root level) or by ``symbol`` (whose directories
    nest more partitions) would leave a layout every read rejects with
    CONFLICTING_PARTITION_COLUMN_NAMES. Both raise before any Spark job,
    and the lake stays as it was."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_batch, read_lake

    lake = str(tmp_path / "lake")
    for day in ("2024-01-02", "2024-01-03"):
        ingest_batch(historical_ticks(spark, "NQ", day, today=dt.date(2024, 6, 1)), lake)

    def listing():
        return sorted(os.path.relpath(os.path.join(d, f), lake)
                      for d, _dirs, files in os.walk(lake) for f in files)

    files = listing()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = dag.nextJobId()
    with pytest.raises(ValueError, match="holds 'symbol=NQ', not a 'date=' partition"):
        compact_partitions(spark, lake, partition_col="date")
    with pytest.raises(ValueError, match="nests partition directory 'date="):
        compact_partitions(spark, lake, partition_col="symbol")
    assert dag.nextJobId() == first_job
    assert listing() == files
    assert read_lake(spark, lake).count() == 2 * 1440


def test_merge_upsert_idempotent_reapply(spark):
    """Re-applying the same CDC batch is a no-op — the engine-side
    equivalent of the reference's idempotent re-run guarantee
    (instance-stamped files + atomic rename, IDD:181,227)."""
    base = os.path.join(tempfile.mkdtemp(prefix="merge-idem-"), "t")
    seed = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")], "k int, v string, d string"
    )
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    changes = spark.createDataFrame(
        [(2, "B", "p2", False), (3, None, "p2", True), (4, "d", "p3", False)],
        "k int, v string, d string, is_delete boolean",
    )
    for _ in range(3):  # first apply + two replays
        merge_upsert(
            spark, base, changes,
            key_cols=["k"], partition_col="d", delete_col="is_delete",
        )
        assert _rows(spark, base) == {
            (1, "a", "p1"),
            (2, "B", "p2"),
            (4, "d", "p3"),
        }


def test_merge_upsert_additive_schema_evolution(spark, tmp_path):
    """A change batch carrying a NEW column merges cleanly: existing rows
    get NULL for it, and subsequent reads see the widened schema."""
    from aetherium_trader_datapipeline_spark.operators.merge import merge_upsert

    table = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", "v1"), (2, "a", "v2")], "k LONG, part STRING, val STRING"
    ).write.partitionBy("part").parquet(table)

    changes = spark.createDataFrame(
        [(2, "a", "v2-new", "extra2"), (3, "a", "v3", "extra3")],
        "k LONG, part STRING, val STRING, note STRING",
    )
    merge_upsert(spark, table, changes, key_cols=["k"], partition_col="part")

    got = {
        r.k: (r.val, r.note)
        for r in spark.read.option("mergeSchema", "true").parquet(table).collect()
    }
    assert got == {1: ("v1", None), 2: ("v2-new", "extra2"), 3: ("v3", "extra3")}


def test_merge_upsert_missing_seq_column_raises_not_overwrites(spark):
    """r10 review regression: a broad except used to reclassify ANY read
    failure as 'new table' and silently overwrite touched partitions with
    only the change rows. A table seeded WITHOUT the seq column must now
    fail loudly when merged WITH seq_col — and the stored data must be
    untouched."""
    import pytest

    base = os.path.join(tempfile.mkdtemp(prefix="merge-seqmiss-"), "t")
    seed = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1")], "k int, v string, d string"
    )
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    chg = spark.createDataFrame([(1, "a2", "p1", 5)], "k int, v string, d string, seq int")
    with pytest.raises(Exception, match="(?i)seq|resolve|column"):
        merge_upsert(
            spark, base, chg, key_cols=["k"], partition_col="d", seq_col="seq"
        )
    got = {(r.k, r.v) for r in spark.read.parquet(base).collect()}
    assert got == {(1, "a"), (2, "b")}  # nothing lost


def test_merge_upsert_schema_evolution_survives_next_merge(spark):
    """r10 review regression: without mergeSchema on the read, the merge
    after an additive evolution could sample an old footer and silently
    NULL the evolved column for every kept row."""
    base = os.path.join(tempfile.mkdtemp(prefix="merge-evo2-"), "t")
    seed = spark.createDataFrame(
        [(i, f"v{i}", "p1") for i in range(1, 9)], "k int, v string, d string"
    )
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    # batch 1 evolves the schema with `note` for one key
    b1 = spark.createDataFrame([(1, "v1b", "p1", "hello")],
                               "k int, v string, d string, note string")
    merge_upsert(spark, base, b1, key_cols=["k"], partition_col="d")
    # batch 2 (no note column) updates a DIFFERENT key
    b2 = spark.createDataFrame([(2, "v2b", "p1")], "k int, v string, d string")
    merge_upsert(spark, base, b2, key_cols=["k"], partition_col="d")
    rows = {r.k: (r.v, r.note)
            for r in spark.read.option("mergeSchema", "true").parquet(base).collect()}
    assert rows[1] == ("v1b", "hello")  # evolved value survived batch 2
    assert rows[2] == ("v2b", None)
    assert len(rows) == 8


def test_merge_upsert_null_partition_value(spark):
    """r10 review regression: isin() is NULL-blind, so rows in the NULL
    partition were dropped from `keep` while the write still overwrote
    __HIVE_DEFAULT_PARTITION__ — silent row loss."""
    base = os.path.join(tempfile.mkdtemp(prefix="merge-nullpart-"), "t")
    seed = spark.createDataFrame([(1, "a", None), (2, "b", "p2")],
                                 "k int, v string, d string")
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    chg = spark.createDataFrame([(3, "c", None)], "k int, v string, d string")
    merge_upsert(spark, base, chg, key_cols=["k"], partition_col="d")
    got = {(r.k, r.v, r.d) for r in spark.read.parquet(base).collect()}
    assert got == {(1, "a", None), (2, "b", "p2"), (3, "c", None)}


def test_merge_upsert_escaped_partition_tombstone_cleanup(spark):
    """r10 review regression: emptied-partition cleanup built the raw
    unescaped path, so a partition value containing ':' (stored as %3A on
    disk) was never deleted and its tombstoned rows resurrected."""
    base = os.path.join(tempfile.mkdtemp(prefix="merge-escpart-"), "t")
    pv = "2024-01-01 10:00:00"
    seed = spark.createDataFrame([(1, "a", pv), (2, "b", "plain")],
                                 "k int, v string, d string")
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    assert glob.glob(os.path.join(base, "d=2024-01-01 10%3A00%3A00"))
    tomb = spark.createDataFrame([(1, None, pv, True)],
                                 "k int, v string, d string, deleted boolean")
    merge_upsert(spark, base, tomb, key_cols=["k"], partition_col="d",
                 delete_col="deleted")
    got = {(r.k, r.v, r.d) for r in spark.read.parquet(base).collect()}
    assert got == {(2, "b", "plain")}  # tombstoned row did NOT resurrect
    assert not glob.glob(os.path.join(base, "d=2024-01-01 10%3A00%3A00"))


def test_compact_partitions_splits_large_partition(spark):
    """r10 review regression: repartition on the partition column alone
    pins every row of a value to ONE task → one oversized file per
    partition regardless of target_file_bytes. With salting, a partition
    several times the target must emit multiple files, each ~target."""
    base = os.path.join(tempfile.mkdtemp(prefix="compact-split-"), "t")
    df = spark.range(0, 60_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
        F.lit("big").alias("d"),
    )
    df.repartition(8).write.partitionBy("d").parquet(base)
    import os as _os
    total = sum(
        _os.path.getsize(f) for f in glob.glob(_os.path.join(base, "d=big", "*.parquet"))
    )
    target = max(1, total // 5)  # expect ~5 output files
    stats = compact_partitions(
        spark, base, partition_col="d", sort_cols=["k"], target_file_bytes=target
    )
    files_after = glob.glob(_os.path.join(base, "d=big", "*.parquet"))
    assert stats["target_files"] >= 4
    assert len(files_after) >= 3  # split, not a single monolithic file
    assert spark.read.parquet(base).count() == 60_000


def test_compact_partitions_files_have_disjoint_sort_ranges(spark):
    """r10 advice regression: the hash-salt split made every output file's
    footer min/max span the whole sort-key domain, defeating file-level
    pruning.  Range partitioning must produce (near-)disjoint per-file key
    ranges: total overlap across file [min,max] spans stays at boundary
    ties, not full-domain."""
    base = os.path.join(tempfile.mkdtemp(prefix="compact-range-"), "t")
    df = spark.range(0, 60_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
        F.lit("big").alias("d"),
    )
    df.repartition(8).write.partitionBy("d").parquet(base)
    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(base, "d=big", "*.parquet"))
    )
    compact_partitions(
        spark, base, partition_col="d", sort_cols=["k"],
        target_file_bytes=max(1, total // 5),
    )
    files = glob.glob(os.path.join(base, "d=big", "*.parquet"))
    assert len(files) >= 3
    spans = []
    for f in files:
        pdf = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).collect()[0]
        spans.append((pdf.lo, pdf.hi))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        # disjoint up to a single boundary tie value
        assert lo2 >= hi1, f"overlapping file ranges: {spans}"
    assert spark.read.parquet(base).count() == 60_000


def test_merge_upsert_into_fully_drained_table_root(spark):
    """r10 advice regression: a table fully emptied by tombstones leaves
    the root with only _SUCCESS; the next merge must take the new-table
    insert path instead of dying on schema inference."""
    base = os.path.join(tempfile.mkdtemp(prefix="merge-drain-"), "t")
    seed = spark.createDataFrame([(1, "a", "p1")], "k int, v string, d string")
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    kill = spark.createDataFrame(
        [(1, None, "p1", True)], "k int, v string, d string, is_delete boolean"
    )
    merge_upsert(spark, base, kill, key_cols=["k"], partition_col="d",
                 delete_col="is_delete")
    assert os.path.isdir(base)  # root survives (e.g. _SUCCESS marker)
    assert not glob.glob(os.path.join(base, "d=*"))
    # re-seed: must insert cleanly, not crash on an unreadable empty table
    reseed = spark.createDataFrame([(2, "b", "p2")], "k int, v string, d string")
    merge_upsert(spark, base, reseed, key_cols=["k"], partition_col="d")
    assert _rows(spark, base) == {(2, "b", "p2")}


def test_merge_upsert_cleans_checkpoint_spill(spark, tmp_path):
    """r11 review regression: with a checkpoint dir configured, the merge
    must not leak one full copy of the table per call (reliable
    DataFrame.checkpoint files are only GC'd under an off-by-default
    cleaner flag).  The durable spill must be gone after the merge."""
    ck = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ck)
    try:
        base = os.path.join(str(tmp_path), "t")
        seed = spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p2")], "k int, v string, d string"
        )
        merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
        upd = spark.createDataFrame([(1, "A", "p1")], "k int, v string, d string")
        merge_upsert(spark, base, upd, key_cols=["k"], partition_col="d")
        assert _rows(spark, base) == {(1, "A", "p1"), (2, "b", "p2")}
        # setCheckpointDir appends a session UUID subdir — the spill lands
        # UNDER it, so the leak check must recurse (a flat glob matched
        # nothing and passed vacuously; r11 review)
        assert spark.sparkContext.getCheckpointDir() is not None
        leftovers = glob.glob(
            os.path.join(ck, "**", "merge-spill-*"), recursive=True
        )
        assert leftovers == [], f"durable spill leaked: {leftovers}"
    finally:
        # PySpark has no unsetCheckpointDir; clear via the JVM setter so
        # later tests in this session fall back to localCheckpoint.  The
        # setter is Spark-internal (checkpointDir_$eq) and may vanish on
        # upgrade — if it does, fall back to repointing the dir at a
        # stable tempdir so the session never dangles on this test's
        # tmp_path after pytest cleans it (r11 advice).
        try:
            getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
                spark.sparkContext._jvm.scala.Option.apply(None)
            )
        except Exception:
            fallback = tempfile.mkdtemp(prefix="ck-fallback-")
            spark.sparkContext.setCheckpointDir(fallback)
            warnings.warn(
                "checkpointDir_$eq reflective reset failed (Spark internal "
                "changed?); checkpoint dir repointed to a stable tempdir "
                f"{fallback} instead of cleared",
                RuntimeWarning,
            )


def test_compact_partitions_splits_low_cardinality_sort_key(spark):
    """r11 review regression: range partitioning alone never splits runs
    of EQUAL sort keys — a 3-value sort column collapsed a large
    partition back to 3 oversized files.  The row-hash tie-breaker must
    keep the file count near target even when every row shares one of a
    few sort-key values."""
    base = os.path.join(tempfile.mkdtemp(prefix="compact-ties-"), "t")
    df = spark.range(0, 60_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("status"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
        F.lit("big").alias("d"),
    )
    df.repartition(8).write.partitionBy("d").parquet(base)
    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(base, "d=big", "*.parquet"))
    )
    stats = compact_partitions(
        spark, base, partition_col="d", sort_cols=["status"],
        target_file_bytes=max(1, total // 8),
    )
    files_after = glob.glob(os.path.join(base, "d=big", "*.parquet"))
    assert stats["target_files"] >= 6
    assert len(files_after) > 3, (
        "equal sort keys collapsed the split back to |distinct| files"
    )
    assert spark.read.parquet(base).count() == 60_000


def test_compact_partitions_survives_map_columns(spark):
    """r11 review regression: the row-hash tie-breaker must skip MapType
    columns (hash() rejects them) instead of failing the whole
    compaction at plan time."""
    base = os.path.join(tempfile.mkdtemp(prefix="compact-map-"), "t")
    df = spark.range(0, 2_000).select(
        F.col("id").alias("k"),
        F.create_map(F.lit("a"), F.col("id").cast("string")).alias("props"),
        F.lit("p").alias("d"),
    )
    df.repartition(6).write.partitionBy("d").parquet(base)
    stats = compact_partitions(
        spark, base, partition_col="d", sort_cols=["k"]
    )
    assert stats["partitions"] == 1
    assert spark.read.parquet(base).count() == 2_000


def test_merge_upsert_refuses_mismatched_partition_layout(spark):
    """r11 advice regression: a root that exists but holds a DIFFERENT
    partition layout (caller typo'd partition_col, or the table layout
    changed) must raise, not silently take the new-table insert path and
    write a second layout alongside the old one."""
    import pytest

    base = os.path.join(tempfile.mkdtemp(prefix="merge-foreign-"), "t")
    seed = spark.createDataFrame([(1, "a", "p1")], "k int, v string, d string")
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    wrong = spark.createDataFrame([(2, "b", "p2")], "k int, v string, dd string")
    with pytest.raises(ValueError, match="partition"):
        merge_upsert(spark, base, wrong, key_cols=["k"], partition_col="dd")
    # the original layout is untouched
    assert _rows(spark, base) == {(1, "a", "p1")}


def test_merge_upsert_refuses_mixed_partition_layout(spark):
    """r12 review regression: the foreign-layout guard must fire even
    when MATCHING partition dirs also exist — a mixed root (one bad
    historical merge) must not keep accreting the second layout."""
    import pytest

    base = os.path.join(tempfile.mkdtemp(prefix="merge-mixed-"), "t")
    seed = spark.createDataFrame([(1, "a", "p1")], "k int, v string, d string")
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    # simulate the historical bad merge: a second layout appears on disk
    os.makedirs(os.path.join(base, "dd=px"))
    upd = spark.createDataFrame([(1, "A", "p1")], "k int, v string, d string")
    with pytest.raises(ValueError, match="foreign partition layout"):
        merge_upsert(spark, base, upd, key_cols=["k"], partition_col="d")
    assert _rows(spark, base) == {(1, "a", "p1")}  # untouched


def test_merge_and_compact_leave_session_conf_alone(spark, monkeypatch):
    """Dynamic partition overwrite is a per-write option, never a
    session-conf set/restore: merge_stream runs merge_upsert on a
    streaming thread, and two overlapping set/restore pairs let the first
    to finish restore "static" under the other's pending overwrite, which
    then replaces the whole table root."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    base = os.path.join(tempfile.mkdtemp(prefix="merge-conf-"), "t")
    seed = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "k int, v string, d string"
    )
    merge_upsert(spark, base, seed, key_cols=["k"], partition_col="d")
    upd = spark.createDataFrame([(1, "A", "p1")], "k int, v string, d string")
    merge_upsert(spark, base, upd, key_cols=["k"], partition_col="d")
    compact_partitions(spark, base, partition_col="d", partitions=["p1"])
    assert calls == []
    assert _rows(spark, base) == {(1, "A", "p1"), (2, "b", "p2")}
