"""End-to-end platform loop: ingest → outage hole → gap detection →
cursor-aware backfill → verified completeness.

This is the reference's full operational story (ingest binary + gap
detector + backfill binary + verify binary, bin/src/*) run as one flow
against a temp store."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


def test_ingest_outage_gap_backfill_verify(spark):
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps
    from aetherium_trader_datapipeline_spark.operators.inspect import inspect_parquet
    from aetherium_trader_datapipeline_spark.plans.backfill_service import (
        backfill_range,
        existing_dates,
    )
    from aetherium_trader_datapipeline_spark.plans.control_table import (
        ControlTable,
        job_key,
    )
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_stream

    base = tempfile.mkdtemp(prefix="e2e-")
    src, data, ckpt, ctl = (f"{base}/{d}" for d in ("src", "data", "ckpt", "ctl"))

    # 1. live ingestion streams three days into the lake
    days = [historical_ticks(spark, "NQ", d) for d in ("2025-12-01", "2025-12-02", "2025-12-03")]
    for day in days:
        day.coalesce(1).write.mode("append").parquet(src)
    q = ingest_stream(
        spark.readStream.schema(days[0].schema).parquet(src), data, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert inspect_parquet(spark, data)["num_rows"] == 3 * 1440

    # 2. outage: day 2 vanishes from the store
    shutil.rmtree(f"{data}/symbol=NQ/date=2025-12-02")

    # 3. gap detection sees exactly that day
    present = existing_dates(spark, data, "NQ")
    gaps = detect_gaps(present, "2025-12-01", "2025-12-03").collect()
    assert [(str(g.gap_start), str(g.gap_end)) for g in gaps] == [
        ("2025-12-02", "2025-12-02")
    ]

    # 4. backfill fills the hole (and only the hole: cursor at day start,
    # planner unions resume day + gap days, HWM skip leaves days 1/3 alone)
    control = ControlTable(ctl)
    report = backfill_range(
        spark,
        control,
        lambda s, sym, d: historical_ticks(s, sym, d),
        data,
        "NQ",
        "2025-12-01",
        "2025-12-03",
    )
    assert report.failed_days == []
    assert report.days_processed >= 1

    # 5. store is whole again; no duplicate rows on the untouched days
    assert (
        detect_gaps(existing_dates(spark, data, "NQ"), "2025-12-01", "2025-12-03")
        .count()
        == 0
    )
    per_day = (
        spark.read.parquet(data)
        .groupBy("date")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {str(r.date): r.n for r in per_day} == {
        "2025-12-01": 1440,
        "2025-12-02": 1440,
        "2025-12-03": 1440,
    }

    # 6. control table: COMPLETED, cursor advanced to the processed range
    st = control.get(job_key("NQ", "2025-12-01"))
    assert st.status == "COMPLETED"
    assert st.cursor > 0


def test_backfill_completes_streamed_lake(spark, tmp_path):
    """Live ingest streams the first half of a day; a backfill of that day
    and the next two lands in the same lake. The stream sink keeps no
    ``_spark_metadata`` log, so every backfilled day is visible to queries
    and to gap detection, and the streamed half-day is replaced, not
    duplicated."""
    from aetherium_trader_datapipeline_spark.plans.backfill_service import (
        backfill_range,
        existing_dates,
    )
    from aetherium_trader_datapipeline_spark.plans.control_table import (
        ControlTable,
        job_key,
    )
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import (
        ingest_stream,
        read_lake,
    )

    src, data, ckpt = (str(tmp_path / d) for d in ("src", "data", "ckpt"))
    day = historical_ticks(spark, "NQ", "2025-12-01")
    day.where("hour(timestamp) < 12").coalesce(1).write.parquet(src)
    q = ingest_stream(
        spark.readStream.schema(day.schema).parquet(src), data, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert read_lake(spark, data).count() == 720

    control = ControlTable(str(tmp_path / "ctl"))
    report = backfill_range(
        spark, control, historical_ticks, data, "NQ", "2025-12-01", "2025-12-03"
    )
    assert report.failed_days == []
    assert control.get(job_key("NQ", "2025-12-01")).status == "COMPLETED"
    lake = read_lake(spark, data)
    assert lake.count() == lake.distinct().count() == 3 * 1440
    assert sorted(str(r.d) for r in existing_dates(spark, data, "NQ").collect()) == [
        "2025-12-01", "2025-12-02", "2025-12-03"
    ]
    assert not os.path.exists(os.path.join(data, "_spark_metadata"))


def test_ingest_batch_refuses_stream_sink_root(spark, tmp_path):
    """A lake that Spark's own streaming file sink wrote is read through its
    ``_spark_metadata`` log, so a batch write there would be invisible and
    would delete files the log lists. ``ingest_batch`` refuses it before
    any Spark work and leaves it readable."""
    import glob

    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import (
        ingest_batch,
        with_partition_cols,
    )

    src, data, ckpt = (str(tmp_path / d) for d in ("src", "data", "ckpt"))
    day = historical_ticks(spark, "NQ", "2025-12-01")
    day.where("hour(timestamp) < 12").coalesce(1).write.parquet(src)
    q = (
        with_partition_cols(spark.readStream.schema(day.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt)
        .partitionBy("symbol", "date", "hour")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    files = sorted(glob.glob(os.path.join(data, "symbol=*", "date=*", "hour=*", "*.parquet")))
    with pytest.raises(ValueError, match="_spark_metadata"):
        ingest_batch(day, data)
    assert sorted(glob.glob(os.path.join(data, "symbol=*", "date=*", "hour=*", "*.parquet"))) == files
    assert spark.read.parquet(data).count() == 720


@pytest.mark.parametrize("layout", ["missing", "empty"])
def test_empty_lake_dir_reads_as_empty_lake(spark, layout):
    """A missing lake directory, or a fresh `mkdir data`, is an empty lake
    to gap detection, bootstrap and backfill; reading an empty directory
    used to fail schema inference."""
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps
    from aetherium_trader_datapipeline_spark.plans.backfill_service import (
        backfill_range,
        existing_dates,
    )
    from aetherium_trader_datapipeline_spark.plans.bootstrap import bootstrap_control_table
    from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    base = tempfile.mkdtemp(prefix="e2e-empty-")
    data = f"{base}/data"
    if layout == "empty":
        os.mkdir(data)
    assert existing_dates(spark, data, "NQ").count() == 0
    boot = bootstrap_control_table(
        spark, data, ControlTable(f"{base}/boot"), "NQ", "2025-12-01", "2025-12-02"
    )
    assert [(str(g.gap_start), str(g.gap_end)) for g in boot.collect()] == [
        ("2025-12-01", "2025-12-02")
    ]

    report = backfill_range(
        spark, ControlTable(f"{base}/ctl"), historical_ticks, data, "NQ", "2025-12-01", "2025-12-02"
    )
    assert (report.days_processed, report.failed_days) == (2, [])
    present = existing_dates(spark, data, "NQ")
    assert sorted(str(r.d) for r in present.collect()) == ["2025-12-01", "2025-12-02"]
    assert detect_gaps(present, "2025-12-01", "2025-12-02").count() == 0
