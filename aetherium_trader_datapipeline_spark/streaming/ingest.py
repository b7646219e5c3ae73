"""Live ingestion pipeline (ops S1 + V1 + B1 + K1).

Reference pipeline: subscribe → buffer (1000 ticks / 5 s flush,
di.rs:41-42; services.rs:36-75) → Arrow batch → hourly-rotated parquet
files per symbol (parquet.rs:45-57,150-205).

Spark-first: the micro-batcher IS Structured Streaming's trigger; the
hourly file rotation IS `partitionBy("symbol","date","hour")`; the
atomic tmp→rename commit the docs specify (IDD.md:26-28) IS the sink's
task-commit protocol + checkpointing. User code is just the query:
validate → derive partition columns → writeStream.
"""

from __future__ import annotations

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
    inline by the running query, no second pass, no extra action.
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
    def start_sink(frame: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
        writer = (
            with_partition_cols(frame)
            .writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .partitionBy("symbol", "date", "hour")
            .outputMode("append")
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
    """Batch form of the same sink (backfill persist path, op P2): append
    day partitions idempotently via dynamic partition overwrite.

    Returns ``(rows_written, max_ts_us)`` measured by ``observe()`` ON THE
    WRITE ACTION ITSELF — the persisted, validity-filtered rows in ONE
    pass.  The backfill loop previously recomputed count/max(ts) on the
    UNFILTERED source plan in two extra actions, so (a) a day whose last
    rows were invalid advanced the cursor past data that was never
    persisted, and (b) a non-deterministic live fetch was executed three
    times with three potentially different answers (r10 review).

    Raises ``ValueError`` before any Spark work if ``out_dir`` is a
    streaming file-sink output (``reject_stream_sink_root``)."""
    from pyspark.sql import Observation

    reject_stream_sink_root(ticks.sparkSession, out_dir)
    obs = Observation()
    out = with_partition_cols(ticks.where(tick_valid_expr())).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.max(F.unix_micros("timestamp")).alias("max_ts_us"),
    )
    (
        out.write.mode("overwrite")
        # scoped to THIS write: setting the session-wide conf leaked
        # dynamic-overwrite semantics into every later unrelated
        # partitioned overwrite in the session (r10 review)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("symbol", "date", "hour")
        .parquet(out_dir)
    )
    got = obs.get
    return int(got["rows"]), got["max_ts_us"]
