"""Backfill service (op P2) — control-table-driven, one write per range.

Reference: backfill_range (application/src/backfill_service.rs:143-225):
initialize job (J1) → resume from cursor → detect gaps (G1) → plan days
(P1) → per-day: skip if end_of_day <= cursor, heartbeat, fetch, persist,
advance cursor; per-day failures collected, final status COMPLETED iff
none failed.

Spark shape: the reference walks the days one at a time; here the
driver only calls ``fetch_day`` once per planned day (lazy plans), and
the fetched days are persisted by ONE distributed write over their
union — one Spark write job per backfill (one task per day with
``historical_ticks``). The cursor is a high-water mark advanced to the
write's observed max timestamp — a restart resumes from it — and
FAILURES are recorded as
``critical_ranges`` on the job state (the reference's field of the same
name) so a retry re-plans them even though they sit below the HWM: a
cursor alone cannot distinguish "day done" from "a later day done" (an
r10 review finding — a failed day behind a successful one was previously
never re-planned and the job still read COMPLETED). A day whose fetch
raises fails alone; a failed write fails every day of the batch, since
the lake writer commits nothing when its job fails.

Fencing: every control-table mutation is instance-fenced (Z1), and the
service re-fences via one heartbeat immediately before the one
data-plane write, so a zombie that stalled inside fetch_day cannot
clobber a takeover's partitions with stale data after waking up. The
residual window (fence check → write) is inherent to an unlocked data
plane; the write itself is idempotent (it replaces the hour directories
of the same days with the same source's rows).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.operators.backfill import plan_backfill_days
from aetherium_trader_datapipeline_spark.operators.gaps import date_range
from aetherium_trader_datapipeline_spark.plans.control_table import (
    COMPLETED,
    FAILED,
    ControlTable,
    ControlTableCorruptError,
    StaleInstanceError,
    job_key,
)
from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_batch, read_lake


@dataclass
class BackfillReport:
    days_processed: int = 0
    total_ticks: int = 0
    failed_days: list[str] = field(default_factory=list)


def existing_dates(spark: SparkSession, data_dir: str, symbol: str) -> DataFrame:
    """Op G2 — catalog probe. Building the relation lists the whole
    store (every symbol's partitions); partition pruning then filters
    that listing to the symbol's partitions and reads only the partition
    values, no data. Every partition directory holds rows: the lake
    writer writes a file only for a (symbol, date, hour) that has rows and
    moves it in only once its job succeeded, so the reference's empty-file
    case (detectors/gap.rs:60-83) cannot occur, and staged or hidden files
    are never listed. A missing store is empty (``read_lake``)."""
    lake = read_lake(spark, data_dir)
    return lake.where(F.col("symbol") == symbol).select(F.col("date").alias("d")).distinct()


def backfill_range(
    spark: SparkSession,
    control: ControlTable,
    fetch_day,  # (spark, symbol, date_str) -> DataFrame of ticks
    data_dir: str,
    symbol: str,
    start: str,
    end: str,
    now: float | None = None,
) -> BackfillReport:
    lo, hi = date_range(start, end)  # a reversed range fails before the job record exists
    key = job_key(symbol, start)
    day_start_ms = int(dt.datetime.combine(lo, dt.time(), dt.timezone.utc).timestamp() * 1000)
    end_ms = day_start_ms + ((hi - lo).days + 1) * 86_400_000
    st = control.initialize_job(key, day_start_ms, end_ms, now=now)
    instance = st.job_instance_id

    present = existing_dates(spark, data_dir, symbol)
    plan = [
        str(r.d)
        for r in plan_backfill_days(present, start, end, cursor_ms=st.cursor).collect()
    ]
    # Re-plan previously FAILED days recorded on the job state: they sit
    # below the cursor HWM (a later day succeeded and advanced it), so
    # the gap/cursor planner alone would never revisit them.
    critical = {
        r["start"]
        for r in st.critical_ranges
        if start <= r["start"] <= end
    }
    plan = sorted(set(plan) | critical)

    report = BackfillReport()
    last_err: str | None = None

    def record_failure(days: list[str], err: Exception) -> None:
        nonlocal last_err
        last_err = type(err).__name__
        for day in days:
            report.failed_days.append(day)
            control.add_critical_range(key, instance, day, day)
        control.update_status(key, instance, st.status, error_type=last_err)

    batch: list[str] = []
    frames: list[DataFrame] = []
    for day in plan:
        end_of_day_ms = int(
            (dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)
             + dt.timedelta(days=1)).timestamp() * 1000
        ) - 1
        if end_of_day_ms <= st.cursor and day not in critical:
            continue  # already covered by the HWM (backfill_service.rs:179-181)
        try:
            frames.append(fetch_day(spark, symbol, day))
            batch.append(day)
        except (StaleInstanceError, ControlTableCorruptError):
            # fencing/infrastructure errors are NOT per-day data failures:
            # recording them would re-enter the fenced path with the same
            # stale id — propagate; a fenced-out zombie must write nothing
            raise
        except Exception as e:  # per-day fetch failures collected, not fatal
            record_failure([day], e)

    if frames:
        # fence IMMEDIATELY before the data-plane write (heartbeat is a
        # fenced mutation): a zombie that stalled inside fetch_day past
        # the takeover threshold dies here instead of overwriting the
        # takeover's partitions with stale data
        control.heartbeat(key, instance, now=now)
        try:
            n, max_ts = ingest_batch(reduce(DataFrame.unionByName, frames), data_dir)
        except Exception as e:
            # the lake writer commits nothing on job failure, so no day
            # of the batch landed: all of them are re-planned on retry
            record_failure(batch, e)
        else:
            if max_ts is not None:
                control.update_cursor(key, instance, max_ts // 1000)
            for day in batch:
                if day in critical:
                    control.remove_critical_range(key, instance, day, day)
            report.days_processed = len(batch)
            report.total_ticks = n
    report.failed_days.sort()
    # a FAILED final status keeps the last error type — update_status
    # overwrites it, and a FAILED record with a null error type is
    # useless to the operator triaging it
    final = COMPLETED if not report.failed_days else FAILED
    control.update_status(key, instance, final, error_type=last_err)
    return report
