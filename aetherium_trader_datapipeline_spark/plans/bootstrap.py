"""FS bootstrap / state recovery (op O4) + retry backoff (op O3).

Reference docs (IDD.md:221-229): on control-store loss, scan the data lake
(`/ticks/{symbol}/{date}/`), rebuild each job's cursor as max(ts) of its
files, and emit backfill tasks for the holes. IDD.md:169-177 specifies
exponential backoff with jitter for retries (there via MQ timer messages;
here a plain driver-side helper since Spark tasks already retry).

Spark-first: the "filename parse" is the partitioned layout itself —
`symbol=`/`date=` come back as columns, and max(ts) per (symbol, date) is
one partial-aggregating scan. Holes come from ``detect_gaps``, whose
missing days are the same ``missing_days`` array the backfill planner
builds its plan from.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.operators.gaps import date_range, detect_gaps
from aetherium_trader_datapipeline_spark.plans.control_table import (
    COMPLETED,
    ControlTable,
    job_key,
)
from aetherium_trader_datapipeline_spark.streaming.ingest import read_lake


def bootstrap_control_table(
    spark: SparkSession,
    data_dir: str,
    control: ControlTable,
    symbol: str,
    expected_start: str,
    expected_end: str,
    now: float | None = None,
) -> DataFrame:
    """Rebuild job state from the lake and return the backfill tasks due.

    - cursor := max tick ts over the symbol's files (unix ms)
    - one COMPLETED job record per ingested day (audit trail)
    - returned DataFrame: (gap_start, gap_end, days) — the holes in
      [expected_start, expected_end] that need backfill tasks.
    """
    date_range(expected_start, expected_end)  # fail before any lake read or job write
    # a missing or empty lake is "no days ingested": the whole range is the gap
    per_day = (
        read_lake(spark, data_dir)
        .where(F.col("symbol") == symbol)
        .groupBy("date")
        .agg(F.max(F.unix_micros("timestamp")).alias("max_ts_us"))
        .collect()
    )
    now = now if now is not None else dt.datetime.now(dt.timezone.utc).timestamp()
    for r in per_day:
        day = str(r.date)
        key = job_key(symbol, day)
        day_start_ms = int(
            dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc).timestamp() * 1000
        )
        st = control.initialize_job(key, day_start_ms, day_start_ms + 86_400_000, now=now)
        control.update_cursor(key, st.job_instance_id, r.max_ts_us // 1000)
        control.update_status(key, st.job_instance_id, COMPLETED)
    # `present` from the rows already collected — a second distinct()
    # over `ticks` re-scanned the whole symbol's files for dates the
    # per-day aggregate already holds (r10 review finding)
    present = spark.createDataFrame(
        [(r.date,) for r in per_day], "d DATE"
    )
    return detect_gaps(present, expected_start, expected_end)


def backoff_delays(
    attempts: int, base_s: float = 1.0, cap_s: float = 60.0, jitter_key: int = 0
) -> list[float]:
    """Exponential backoff schedule with deterministic jitter
    (IDD.md:169-177). Deterministic so tests and replays are exact."""
    out = []
    for i in range(attempts):
        jitter = ((hash((jitter_key, i)) % 1000) / 1000.0) * 0.25
        # cap AFTER jitter: cap_s is the documented ceiling callers size
        # timeouts to — jitter applied outside the min() exceeded it by
        # up to 25% (r10 review finding)
        out.append(min(cap_s, base_s * (2**i) * (1.0 + jitter)))
    return out


def retry_with_backoff(
    fn,
    attempts: int = 4,
    base_s: float = 0.5,
    cap_s: float = 30.0,
    retryable: tuple[type[BaseException], ...] = (Exception,),
    sleep=time.sleep,
):
    """Run ``fn()`` retrying on ``retryable`` with exponential backoff.

    Driver-side only: inside jobs, Spark's own task retry applies; this
    guards source/gateway calls in the backfill loop (op O3)."""
    delays = backoff_delays(attempts - 1, base_s, cap_s)
    last: BaseException | None = None
    for i in range(attempts):
        try:
            return fn()
        except retryable as e:  # noqa: PERF203
            last = e
            if i < len(delays):
                sleep(delays[i])
    raise last  # type: ignore[misc]
