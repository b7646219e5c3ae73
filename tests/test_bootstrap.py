"""O4 bootstrap/state-recovery, O3 backoff, and streaming heartbeat tests."""

from __future__ import annotations

import datetime as dt

import pytest


@pytest.fixture()
def control(tmp_path):
    from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable

    return ControlTable(str(tmp_path / "control"))


def test_bootstrap_rebuilds_cursor_and_emits_holes(spark, tmp_path, control):
    from aetherium_trader_datapipeline_spark.plans.bootstrap import bootstrap_control_table
    from aetherium_trader_datapipeline_spark.plans.control_table import job_key
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_batch

    data_dir = str(tmp_path / "lake")
    for day in ("2024-01-01", "2024-01-02", "2024-01-05"):  # hole: 3rd-4th
        ingest_batch(
            historical_ticks(spark, "NQ", day, today=dt.date(2024, 6, 1)), data_dir
        )

    gaps = bootstrap_control_table(
        spark, data_dir, control, "NQ", "2024-01-01", "2024-01-06", now=1000.0
    ).collect()
    assert [(str(g.gap_start), str(g.gap_end), g.days) for g in gaps] == [
        ("2024-01-03", "2024-01-04", 2),
        ("2024-01-06", "2024-01-06", 1),
    ]
    st = control.get(job_key("NQ", "2024-01-02"))
    assert st.status == "COMPLETED"
    assert st.cursor == int(
        dt.datetime(2024, 1, 2, 23, 59, tzinfo=dt.timezone.utc).timestamp() * 1000
    )


def test_bootstrap_rejects_reversed_range(spark, tmp_path, control):
    """start > end raises before the lake is read or any job is written."""
    from aetherium_trader_datapipeline_spark.plans.bootstrap import bootstrap_control_table
    from aetherium_trader_datapipeline_spark.plans.control_table import job_key
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_batch

    data_dir = str(tmp_path / "lake")
    ingest_batch(historical_ticks(spark, "NQ", "2024-01-02", today=dt.date(2024, 6, 1)), data_dir)
    with pytest.raises(ValueError, match="start 2024-01-06 is after end 2024-01-01"):
        bootstrap_control_table(spark, data_dir, control, "NQ", "2024-01-06", "2024-01-01")
    assert control.get(job_key("NQ", "2024-01-02")) is None


def test_backoff_schedule_deterministic_and_capped(spark):
    from aetherium_trader_datapipeline_spark.plans.bootstrap import backoff_delays

    d1 = backoff_delays(6, base_s=1.0, cap_s=8.0, jitter_key=7)
    d2 = backoff_delays(6, base_s=1.0, cap_s=8.0, jitter_key=7)
    assert d1 == d2  # deterministic
    assert all(b >= a * 1.5 for a, b in zip(d1[:3], d1[1:4]))  # grows
    assert max(d1) <= 8.0 * 1.25  # cap + max jitter


def test_retry_with_backoff_retries_then_succeeds(spark):
    from aetherium_trader_datapipeline_spark.plans.bootstrap import retry_with_backoff

    calls = {"n": 0}
    slept = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("gateway")
        return "ok"

    assert retry_with_backoff(flaky, attempts=4, sleep=slept.append) == "ok"
    assert calls["n"] == 3
    assert len(slept) == 2

    def always_fails():
        raise RuntimeError("down")

    with pytest.raises(RuntimeError):
        retry_with_backoff(always_fails, attempts=2, sleep=slept.append)


def test_heartbeat_listener_beats_on_progress(spark, tmp_path, control):
    import time

    from aetherium_trader_datapipeline_spark.sources.ticks import streaming_ticks
    from aetherium_trader_datapipeline_spark.streaming.heartbeat import HeartbeatListener

    st = control.initialize_job("ingest:job:NQ:live", 0, 1, now=time.time() - 1000)
    before = control.get("ingest:job:NQ:live").heartbeat_at
    listener = HeartbeatListener(control, "ingest:job:NQ:live", st.job_instance_id)
    spark.streams.addListener(listener)
    try:
        q = (
            streaming_ticks(spark, "NQ", rows_per_second=50)
            .writeStream.format("memory")
            .queryName("hb_smoke")
            .trigger(processingTime="1 seconds")
            .start()
        )
        deadline = time.time() + 30
        while time.time() < deadline and listener.beats < 2:
            time.sleep(0.5)
        q.stop()
    finally:
        spark.streams.removeListener(listener)
    assert listener.beats >= 2
    assert control.get("ingest:job:NQ:live").heartbeat_at > before
