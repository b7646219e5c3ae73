"""Gap detection (op G1) — missing-date islands.

Reference algorithm: domain/src/data_gap.rs:29-63 — walk the expected day
range (a DateRange, which rejects start > end: date_range.rs:11-16) and
collect consecutive missing days into maximal DataGap runs.

Spark-first: ``missing_days`` (shared with the backfill planner) folds the
range's present dates into a set in one aggregation and subtracts it from
the range's ``sequence``, leaving the missing days sorted. Within a run of
consecutive missing days ``d - pos`` is constant, so ``posexplode`` and a
group by it yield the islands: no spine, join or window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def date_range(start: str, end: str) -> tuple[dt.date, dt.date]:
    """Parse the closed day range [start, end]; ``ValueError`` if it is
    reversed (or not ISO dates), before any Spark work is built on it."""
    lo, hi = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
    if lo > hi:
        raise ValueError(f"invalid date range: start {start} is after end {end}")
    return lo, hi


def missing_days(present: DataFrame, start: str, end: str, date_col: str = "d") -> DataFrame:
    """One row, ``missing ARRAY<DATE>``: the days of [start, end] absent
    from ``present``, ascending."""
    lo, hi = (F.lit(d) for d in date_range(start, end))
    d = F.col(date_col).cast("date")
    have = present.where(d.between(lo, hi)).agg(F.collect_set(d).alias("have"))
    days = F.sequence(lo, hi, F.expr("INTERVAL 1 DAY"))
    return have.select(F.array_except(days, "have").alias("missing"))


def detect_gaps(present: DataFrame, start: str, end: str, date_col: str = "d") -> DataFrame:
    """Maximal runs of days in [start, end] absent from ``present``.

    Returns (gap_start DATE, gap_end DATE, days BIGINT) ordered by gap_start.
    """
    return (
        missing_days(present, start, end, date_col)
        .select(F.posexplode("missing").alias("pos", "d"))
        .groupBy(F.expr("date_sub(d, pos)").alias("island"))
        .agg(
            F.min("d").alias("gap_start"),
            F.max("d").alias("gap_end"),
            F.count(F.lit(1)).alias("days"),
        )
        .drop("island")
        .orderBy("gap_start")
    )
