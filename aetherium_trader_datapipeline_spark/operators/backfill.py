"""Backfill planning (op P1) — resume-from-cursor day planning.

Reference: plan_days_to_process (application/src/backfill_service.rs:296-317)
unions {effective_start} with gap days, clips to the range, dedupes and
sorts; resume_start clips the range start to the cursor high-water mark
(backfill_service.rs:288-294). The cursor is a high-water mark that
backfill never advances past live ingestion (IDD.md:20-22).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.operators.gaps import date_range, missing_days


def resume_start(range_start: dt.date, cursor_ms: int | None) -> dt.date:
    """Clip the range start to the day of the cursor HWM (reference
    backfill_service.rs:288-294: resume from the cursor's day, inclusive —
    a partially ingested day is re-planned)."""
    if cursor_ms is None:
        return range_start
    cursor_day = dt.datetime.fromtimestamp(cursor_ms / 1000, tz=dt.timezone.utc).date()
    return max(range_start, cursor_day)


def plan_backfill_days(
    present: DataFrame,
    start: str,
    end: str,
    cursor_ms: int | None = None,
    date_col: str = "d",
) -> DataFrame:
    """Sorted distinct days to process: {effective_start} ∪ days of
    [effective_start, end] absent from ``present``. Output: (d DATE).

    ``missing_days`` of [effective_start, end] are already sorted, so
    prepending effective_start keeps the order. A cursor past
    ``end`` plans nothing (the reference's range is then empty)."""
    lo, hi = date_range(start, end)
    eff_start = resume_start(lo, cursor_ms)
    if eff_start > hi:
        return present.sparkSession.createDataFrame([], "d DATE")
    return missing_days(present, str(eff_start), end, date_col).select(
        F.explode(F.array_union(F.array(F.lit(eff_start)), F.col("missing"))).alias("d")
    )
