"""Synthetic tick sources.

Mirrors the reference's mock gateways deterministically:

- Historical day source (S2): 1 tick per minute, 1,440 rows/day
  (gateways/historical.rs:64-74); price = base + (epoch_sec % 100),
  ask = bid + 0.25 spread, sizes 10/15/5 (historical.rs:19-44). The
  range check (no data older than max_history_days=365, di.rs:53-58)
  raises like the reference's DataUnavailable error.
- Streaming source (S1): Spark `rate` source at ``rows_per_second``
  (reference: 1 tick/100 ms, di.rs:44-47) projected through the same
  deterministic formula keyed on the rate source's `value` — substituting
  determinism for the reference's rand ±2.0 walk (market_data.rs:27-53)
  so tests can assert exactly.

Generation is distributed: `sequence` + `explode` produces rows on
executors; nothing materializes on the driver. The seed is one row in
one partition (`_one_row`), so a fetched day is one task.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_PRICE = 16000.0
SPREAD = 0.25
MAX_HISTORY_DAYS = 365
TICKS_PER_DAY = 1440


class DataUnavailableError(Exception):
    """Requested date beyond the configured history depth (di.rs:53-58)."""


def _one_row(spark: SparkSession) -> DataFrame:
    """One row in one partition. ``spark.range(1)`` would add a task per
    default-parallelism split, all but one empty. ``spark.range(0, 1, 1, 1)``
    reports SinglePartition, and a union of such frames (a backfill's
    write) collapses into one task under ``spark.sql.unionOutputPartitioning``;
    a one-row relation keeps one task per day."""
    return spark.sql("SELECT 1")


def _tick_projection(ts_col, symbol: str):
    epoch_s = F.unix_timestamp(ts_col)
    bid = (F.lit(BASE_PRICE) + (epoch_s % 100).cast("double")).cast("decimal(10,4)")
    ask = (F.lit(BASE_PRICE + SPREAD) + (epoch_s % 100).cast("double")).cast("decimal(10,4)")
    return [
        ts_col.alias("timestamp"),
        F.lit(symbol).alias("symbol"),
        bid.alias("bid_price"),
        F.lit(10).alias("bid_size"),
        ask.alias("ask_price"),
        F.lit(15).alias("ask_size"),
        bid.alias("last_price"),
        F.lit(5).alias("last_size"),
    ]


def historical_ticks(
    spark: SparkSession,
    symbol: str,
    date: str | dt.date,
    today: dt.date | None = None,
) -> DataFrame:
    """One synthetic trading day: 1,440 minute-boundary ticks."""
    d = dt.date.fromisoformat(date) if isinstance(date, str) else date
    today = today or dt.datetime.now(dt.timezone.utc).date()
    if (today - d).days > MAX_HISTORY_DAYS:
        raise DataUnavailableError(
            f"{symbol} {d}: beyond {MAX_HISTORY_DAYS}-day history depth"
        )
    start = F.lit(f"{d} 00:00:00").cast("timestamp")
    minutes = _one_row(spark).select(
        F.explode(
            F.sequence(start, start + F.expr("INTERVAL 23 HOURS 59 MINUTES"),
                       F.expr("INTERVAL 1 MINUTE"))
        ).alias("ts")
    )
    return minutes.select(*_tick_projection(F.col("ts"), symbol))


def historical_range(
    spark: SparkSession, symbol: str, start: str, end: str, today: dt.date | None = None
) -> DataFrame:
    """All days in [start, end] — day spine exploded to minutes, fully
    distributed (this is the backfill fetch path, op S2 at range scale)."""
    d0 = dt.date.fromisoformat(start)
    today = today or dt.datetime.now(dt.timezone.utc).date()
    if (today - d0).days > MAX_HISTORY_DAYS:
        raise DataUnavailableError(f"{symbol} {start}: beyond history depth")
    days = _one_row(spark).select(
        F.explode(
            F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"),
                       F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    minutes = days.select(
        F.explode(
            F.sequence(
                F.col("d").cast("timestamp"),
                F.col("d").cast("timestamp") + F.expr("INTERVAL 23 HOURS 59 MINUTES"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("ts")
    )
    return minutes.select(*_tick_projection(F.col("ts"), symbol))


def streaming_ticks(
    spark: SparkSession, symbol: str, rows_per_second: int = 10
) -> DataFrame:
    """Unbounded tick stream off the rate source (S1)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return rate.select(*_tick_projection(F.col("timestamp"), symbol))
