"""Control-table tests mirroring the reference's job-state suites
(application/tests/backfill_job_init_test.rs, backfill_resume_flow.rs,
infrastructure/tests/job_state_repository_test.rs)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def control(tmp_path):
    from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable

    return ControlTable(str(tmp_path / "control"))


DAY0 = 1704153600000  # 2024-01-02 UTC ms


def test_fresh_job_init(control):
    st = control.initialize_job("ingest:job:NQ:2024-01-02", DAY0, DAY0 + 86400000, now=1000.0)
    assert st.status == "RUNNING"
    assert st.cursor == DAY0 - 1  # day_start - 1 ms (backfill_service.rs:105)


def test_running_fresh_heartbeat_rejected(control):
    from aetherium_trader_datapipeline_spark.plans.control_table import JobAlreadyRunningError

    control.initialize_job("k", DAY0, DAY0 + 1, now=1000.0)
    with pytest.raises(JobAlreadyRunningError):
        control.initialize_job("k", DAY0, DAY0 + 1, now=1100.0)  # 100s < 300s


def test_stale_takeover_preserves_cursor(control):
    st1 = control.initialize_job("k", DAY0, DAY0 + 1, now=1000.0)
    control.update_cursor("k", st1.job_instance_id, DAY0 + 5000)
    st2 = control.initialize_job("k", DAY0, DAY0 + 1, now=2000.0)  # 1000s > 300s stale
    assert st2.job_instance_id != st1.job_instance_id
    assert st2.cursor == DAY0 + 5000  # cursor preserved on takeover


def test_stale_instance_writes_fenced(control):
    from aetherium_trader_datapipeline_spark.plans.control_table import StaleInstanceError

    st1 = control.initialize_job("k", DAY0, DAY0 + 1, now=1000.0)
    st2 = control.initialize_job("k", DAY0, DAY0 + 1, now=2000.0)  # takeover
    with pytest.raises(StaleInstanceError):
        control.update_cursor("k", st1.job_instance_id, DAY0 + 99)  # zombie write
    control.update_cursor("k", st2.job_instance_id, DAY0 + 100)  # owner ok
    assert control.get("k").cursor == DAY0 + 100


def test_cursor_never_regresses(control):
    st = control.initialize_job("k", DAY0, DAY0 + 1, now=1000.0)
    control.update_cursor("k", st.job_instance_id, DAY0 + 500)
    control.update_cursor("k", st.job_instance_id, DAY0 + 100)
    assert control.get("k").cursor == DAY0 + 500


def test_concurrent_writers_cas_no_lost_updates(control):
    """Two-writer race (job_state_repository_test.rs:74-108 semantics):
    after a stale takeover, the zombie's concurrent writes must ALL lose —
    the lockfile serializes fence-check+commit, so no zombie write can slip
    in between an owner's check and write."""
    import threading

    from aetherium_trader_datapipeline_spark.plans.control_table import StaleInstanceError

    zombie = control.initialize_job("k", DAY0, DAY0 + 1, now=1000.0)
    owner = control.initialize_job("k", DAY0, DAY0 + 1, now=2000.0)  # takeover

    barrier = threading.Barrier(2)
    zombie_wins = []

    def zombie_writer():
        barrier.wait()
        for i in range(200):
            try:
                control.update_cursor("k", zombie.job_instance_id, DAY0 + 10_000_000 + i)
                zombie_wins.append(i)
            except StaleInstanceError:
                pass

    def owner_writer():
        barrier.wait()
        for i in range(200):
            control.update_cursor("k", owner.job_instance_id, DAY0 + i)
            control.heartbeat("k", owner.job_instance_id, now=3000.0 + i)

    threads = [threading.Thread(target=zombie_writer), threading.Thread(target=owner_writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert zombie_wins == []  # every zombie CAS lost
    st = control.get("k")
    assert st.job_instance_id == owner.job_instance_id
    assert st.cursor == DAY0 + 199  # owner's HWM, not the zombie's huge value
    assert st.version == 2 + 400  # 2 inits + 200 cursor + 200 heartbeat commits


def test_version_monotonic_per_commit(control):
    st = control.initialize_job("k", DAY0, DAY0 + 1, now=1000.0)
    v0 = control.get("k").version
    control.update_cursor("k", st.job_instance_id, DAY0 + 1)
    control.heartbeat("k", st.job_instance_id, now=1001.0)
    assert control.get("k").version == v0 + 2


def test_stalled_scan(spark, control):
    st = control.initialize_job("a", DAY0, DAY0 + 1, now=1000.0)
    control.initialize_job("b", DAY0, DAY0 + 1, now=5000.0)
    control.update_status("a", st.job_instance_id, "RUNNING")
    stalled = control.stalled_jobs(spark, now=5100.0)
    assert [r.job_key for r in stalled.collect()] == ["a"]


def test_backfill_service_end_to_end(spark, tmp_path, control):
    """P2 flow: fresh backfill writes all days, advances cursor, completes;
    a re-run plans nothing new (resume + gap detection see full coverage)."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.plans.backfill_service import backfill_range
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    data_dir = str(tmp_path / "ticks")

    def fetch(spark, symbol, day):
        return historical_ticks(spark, symbol, day, today=dt.date(2024, 6, 1))

    r1 = backfill_range(spark, control, fetch, data_dir, "NQ", "2024-01-02", "2024-01-04")
    assert r1.days_processed == 3
    assert r1.total_ticks == 3 * 1440
    assert not r1.failed_days
    st = control.get("ingest:job:NQ:2024-01-02")
    assert st.status == "COMPLETED"
    # cursor advanced to last tick of the last day (23:59)
    assert st.cursor == int(
        dt.datetime(2024, 1, 4, 23, 59, tzinfo=dt.timezone.utc).timestamp() * 1000
    )
    back = spark.read.parquet(data_dir)
    assert back.count() == 3 * 1440

    # Re-run: the cursor day is re-planned (reference semantics — a
    # partially-ingested day is refetched; backfill_resume_flow.rs:16-53),
    # but dynamic partition overwrite keeps the store idempotent.
    r2 = backfill_range(spark, control, fetch, data_dir, "NQ", "2024-01-02", "2024-01-04")
    assert r2.days_processed == 1
    assert spark.read.parquet(data_dir).count() == 3 * 1440  # no duplicates


def test_backfill_collects_failed_days(spark, tmp_path, control):
    from aetherium_trader_datapipeline_spark.plans.backfill_service import backfill_range
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    import datetime as dt

    def fetch(spark, symbol, day):
        if day == "2024-01-03":
            raise RuntimeError("gateway down")
        return historical_ticks(spark, symbol, day, today=dt.date(2024, 6, 1))

    r = backfill_range(
        spark, control, fetch, str(tmp_path / "t"), "NQ", "2024-01-02", "2024-01-04"
    )
    assert r.failed_days == ["2024-01-03"]
    assert control.get("ingest:job:NQ:2024-01-02").status == "FAILED"


def test_backfill_end_before_cursor_day_plans_nothing(spark, tmp_path, control):
    """Re-running a backfill whose end falls before the cursor's day used
    to build a reversed date sequence, raise, and leave the job RUNNING —
    every rerun then hit JobAlreadyRunningError until the heartbeat went
    stale. The cursor already covers the range, so nothing is planned."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.plans.backfill_service import backfill_range
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    data_dir = str(tmp_path / "t")

    def fetch(spark, symbol, day):
        return historical_ticks(spark, symbol, day, today=dt.date(2024, 6, 1))

    backfill_range(spark, control, fetch, data_dir, "NQ", "2024-01-02", "2024-01-06")
    for _ in range(2):  # the second rerun proves the job is not wedged
        r = backfill_range(spark, control, fetch, data_dir, "NQ", "2024-01-02", "2024-01-03")
        assert (r.days_processed, r.total_ticks, r.failed_days) == (0, 0, [])
        assert control.get("ingest:job:NQ:2024-01-02").status == "COMPLETED"
    assert spark.read.parquet(data_dir).count() == 5 * 1440


def test_backfill_reversed_range_rejected_before_job_record(spark, tmp_path, control):
    """start > end used to write a COMPLETED job record whose cursor lay
    past its end_time and report success. It now raises before any
    control-table write, fetch or lake write."""
    from aetherium_trader_datapipeline_spark.plans.backfill_service import backfill_range
    from aetherium_trader_datapipeline_spark.plans.control_table import job_key

    def fetch(spark, symbol, day):
        raise AssertionError(f"fetched {day} for a rejected range")

    data_dir = tmp_path / "t"
    with pytest.raises(ValueError, match="start 2024-01-05 is after end 2024-01-02"):
        backfill_range(spark, control, fetch, str(data_dir), "NQ", "2024-01-05", "2024-01-02")
    assert control.get(job_key("NQ", "2024-01-05")) is None
    assert not data_dir.exists()


def test_backfill_write_failure_fails_whole_batch(spark, tmp_path, control):
    """The fetched days land in ONE dynamic-overwrite write. A day whose
    frame fails only at execution fails that write, which commits
    nothing: every day of the batch is recorded as failed and re-planned,
    none of their partitions exist, and the cursor does not move."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.plans.backfill_service import backfill_range
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    data_dir = str(tmp_path / "t")
    key = "ingest:job:NQ:2024-01-02"
    days = ["2024-01-02", "2024-01-03", "2024-01-04"]
    calls = {"fail": True}

    def fetch(spark, symbol, day):
        t = historical_ticks(spark, symbol, day, today=dt.date(2024, 6, 1))
        if day == "2024-01-03" and calls["fail"]:
            return t.withColumn("symbol", F.raise_error(F.lit("feed corrupt")))
        return t

    r1 = backfill_range(spark, control, fetch, data_dir, "NQ", days[0], days[-1])
    assert r1.failed_days == days
    assert (r1.days_processed, r1.total_ticks) == (0, 0)
    st = control.get(key)
    assert st.status == "FAILED"
    assert st.last_error_type is not None
    assert sorted(r["start"] for r in st.critical_ranges) == days
    assert st.cursor == DAY0 - 1  # unchanged from initialization
    for day in days:
        assert not os.path.exists(os.path.join(data_dir, "symbol=NQ", f"date={day}"))

    calls["fail"] = False  # the feed recovers
    r2 = backfill_range(spark, control, fetch, data_dir, "NQ", days[0], days[-1])
    assert (r2.days_processed, r2.failed_days) == (3, [])
    st = control.get(key)
    assert st.status == "COMPLETED"
    assert st.critical_ranges == []
    assert spark.read.parquet(data_dir).count() == 3 * 1440


def test_live_stream_zombie_writer_fenced(spark, tmp_path, control):
    """Two LIVE foreachBatch writers on one control-table key with a stale
    takeover mid-stream (reference state/redis.rs:198-230, IDD.md:215-219):
    after the takeover, every mutation the still-running zombie query
    attempts must be fenced — the Delta analogue of its conditional MERGE
    matching 0 rows — while the new owner's stream keeps committing.

    Unlike the batch-sequential fencing tests above, both writers are real
    Structured Streaming queries whose micro-batches interleave with the
    takeover in wall-clock time."""
    import time

    from aetherium_trader_datapipeline_spark.plans.control_table import (
        StaleInstanceError,
    )

    key = "ingest:job:NQ:2024-01-02"
    st_a = control.initialize_job(key, DAY0, DAY0 + 86400000, now=1000.0)
    a_id = st_a.job_instance_id
    a_applied, a_fenced, b_applied = [], [], []

    # Writer A (becomes the zombie): advances the cursor each micro-batch.
    # A-era cursors live in DAY0+1xxx; B-era in DAY0+1_000_xxx, so the final
    # high-water mark proves which instance's writes landed.
    def write_a(df, batch_id):
        try:
            control.update_cursor(key, a_id, DAY0 + 1000 + batch_id)
            a_applied.append(batch_id)
        except StaleInstanceError:
            a_fenced.append(batch_id)

    def start(fn, name):
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 5).load()
            .writeStream.foreachBatch(fn)
            .trigger(processingTime="200 milliseconds")
            .option("checkpointLocation", str(tmp_path / name))
            .start()
        )

    qa = start(write_a, "ckpt_a")
    deadline = time.monotonic() + 60
    while len(a_applied) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(a_applied) >= 2, "writer A never got going"

    # Stale takeover MID-STREAM: A's heartbeat (t=1000) is >300 s old at
    # t=2000, so a new instance fences it while A's query is still running.
    st_b = control.initialize_job(key, DAY0, DAY0 + 86400000, now=2000.0)
    b_id = st_b.job_instance_id
    assert b_id != a_id
    applied_at_takeover = len(a_applied)
    cursor_at_takeover = control.get(key).cursor

    def write_b(df, batch_id):
        control.update_cursor(key, b_id, DAY0 + 1_000_000 + batch_id)
        b_applied.append(batch_id)

    qb = start(write_b, "ckpt_b")
    deadline = time.monotonic() + 60
    while (len(a_fenced) < 2 or len(b_applied) < 2) and time.monotonic() < deadline:
        time.sleep(0.05)
    qa.stop()
    qb.stop()

    # The zombie kept FIRING (its query was live) but every post-takeover
    # write was rejected: nothing applied after the takeover point…
    assert len(a_fenced) >= 2, "zombie was never fenced while live"
    assert len(a_applied) == applied_at_takeover
    final = control.get(key)
    # …the owner's writes all landed, and the high-water mark is B-era:
    assert final.job_instance_id == b_id
    assert len(b_applied) >= 2
    assert final.cursor >= DAY0 + 1_000_000
    # cursor never regressed through the handover
    assert final.cursor >= cursor_at_takeover


def test_streaming_stall_supervisor_takeover_e2e(spark, tmp_path, control):
    """End-to-end H1 supervisor flow over LIVE streams (reference
    backfill_service.rs:82-115 + IDD.md:233): stream A heartbeats through
    a StreamingQueryListener, the listener is torn down mid-stream (the
    stall — query still running, beats stopped), the supervisor's
    `stalled_jobs` scan flags the key, a takeover re-initializes it under
    a new instance id, stream B carries on, and A's late cursor writes
    are fenced.

    Wall-clock is not manipulated inside the streams: the heartbeat rows
    carry real timestamps, and the supervisor scan + takeover pass an
    artificial `now` past the 300 s threshold — exactly how a real
    supervisor with a lagging clock would observe the table."""
    import time

    from aetherium_trader_datapipeline_spark.plans.control_table import (
        StaleInstanceError,
    )
    from aetherium_trader_datapipeline_spark.streaming.heartbeat import (
        HeartbeatListener,
    )

    key = "ingest:job:NQ:2024-01-05"
    t0 = time.time()
    st_a = control.initialize_job(key, DAY0, DAY0 + 86400000, now=t0)
    a_id = st_a.job_instance_id
    a_applied, a_fenced, b_applied = [], [], []

    def write_a(df, batch_id):
        try:
            control.update_cursor(key, a_id, DAY0 + 1000 + batch_id)
            a_applied.append(batch_id)
        except StaleInstanceError:
            a_fenced.append(batch_id)

    listener = HeartbeatListener(control, key, a_id)
    spark.streams.addListener(listener)
    try:
        qa = (
            spark.readStream.format("rate").option("rowsPerSecond", 5).load()
            .writeStream.foreachBatch(write_a)
            .trigger(processingTime="200 milliseconds")
            .option("checkpointLocation", str(tmp_path / "ckpt_sa"))
            .start()
        )
        deadline = time.monotonic() + 60
        while (listener.beats < 2 or len(a_applied) < 2) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert listener.beats >= 2, "stream A never heartbeat"

        # While the listener beats, the supervisor sees a HEALTHY job even
        # at +299 s of the last beat…
        hb_live = control.get(key).heartbeat_at
        assert control.stalled_jobs(spark, now=hb_live + 299).count() == 0

        # THE STALL: tear the listener down; A's query keeps running (and
        # keeps attempting cursor writes) but its heartbeat goes silent.
        spark.streams.removeListener(listener)
        time.sleep(0.5)  # drain in-flight progress events
        hb_stalled = control.get(key).heartbeat_at

        # Supervisor scan past the threshold flags exactly this key.
        now_future = hb_stalled + 301
        stalled = control.stalled_jobs(spark, now=now_future)
        assert [r.job_key for r in stalled.collect()] == [key]

        # Supervisor takeover: same initialize_job path a fresh worker
        # would use — new instance id, cursor preserved.
        cursor_at_takeover = control.get(key).cursor
        st_b = control.initialize_job(key, DAY0, DAY0 + 86400000, now=now_future)
        b_id = st_b.job_instance_id
        assert b_id != a_id
        assert st_b.cursor == cursor_at_takeover
        applied_at_takeover = len(a_applied)

        def write_b(df, batch_id):
            control.update_cursor(key, b_id, DAY0 + 1_000_000 + batch_id)
            b_applied.append(batch_id)

        qb = (
            spark.readStream.format("rate").option("rowsPerSecond", 5).load()
            .writeStream.foreachBatch(write_b)
            .trigger(processingTime="200 milliseconds")
            .option("checkpointLocation", str(tmp_path / "ckpt_sb"))
            .start()
        )
        deadline = time.monotonic() + 60
        while (len(a_fenced) < 2 or len(b_applied) < 2) and time.monotonic() < deadline:
            time.sleep(0.05)
        qa.stop()
        qb.stop()
    finally:
        try:
            spark.streams.removeListener(listener)
        except Exception:
            pass

    # A (the zombie) was fenced on every post-takeover write; B owns the key.
    assert len(a_fenced) >= 2, "stalled stream was never fenced after takeover"
    assert len(a_applied) == applied_at_takeover
    final = control.get(key)
    assert final.job_instance_id == b_id
    assert final.cursor >= DAY0 + 1_000_000
    assert final.cursor >= cursor_at_takeover
    # …and the supervisor sees a healthy job again after B's first writes.
    assert control.stalled_jobs(spark, now=control.get(key).heartbeat_at + 1).count() == 0


def test_job_keys_with_slash_and_collision_safe(tmp_path):
    """r10 review regression: ':'->'_' crashed on '/'-bearing symbols
    (BTC/USD) and collided 'A:B' with 'A_B' onto one state file."""
    from aetherium_trader_datapipeline_spark.plans.control_table import (
        ControlTable,
        job_key,
    )

    ct = ControlTable(str(tmp_path))
    k1 = job_key("BTC/USD", "2024-01-01")
    st1 = ct.initialize_job(k1, 0, 1000)
    assert ct.get(k1).job_instance_id == st1.job_instance_id
    # distinct keys that collided under the old '_' rewrite
    ka, kb = "ingest:job:A:B:2024-01-01", "ingest:job:A_B:2024-01-01"
    sa = ct.initialize_job(ka, 0, 1000)
    sb = ct.initialize_job(kb, 0, 1000)
    assert ct.get(ka).job_instance_id == sa.job_instance_id
    assert ct.get(kb).job_instance_id == sb.job_instance_id
    assert sa.job_instance_id != sb.job_instance_id


def test_corrupt_state_file_raises_descriptive_error(tmp_path):
    """r10 review regression: a truncated state file (crash between
    rename and data hitting disk on an un-synced FS) raised a bare
    JSONDecodeError from every operation; it must now name the file and
    the recovery, and deleting the file must recover the key."""
    import os

    import pytest

    from aetherium_trader_datapipeline_spark.plans.control_table import (
        ControlTable,
        ControlTableCorruptError,
        job_key,
    )

    ct = ControlTable(str(tmp_path))
    key = job_key("ETH-USD", "2024-02-02")
    ct.initialize_job(key, 0, 1000)
    path = ct._path(key)
    with open(path, "w") as f:
        f.write("")  # zero-length: the torn-write shape
    with pytest.raises(ControlTableCorruptError, match="delete it"):
        ct.get(key)
    with pytest.raises(ControlTableCorruptError):
        ct.initialize_job(key, 0, 1000)
    os.unlink(path)  # the documented recovery
    st = ct.initialize_job(key, 0, 1000)
    assert st.status == "RUNNING"


def test_backfill_failed_day_replanned_on_retry(spark, tmp_path, control):
    """r10 review regression: a failed day EARLIER than a later successful
    day sits below the cursor HWM, so the gap/cursor planner alone never
    revisits it — the retry used to mark the job COMPLETED with the day
    permanently missing from the lake. critical_ranges (the reference's
    field for exactly this) must carry it into the retry plan."""
    import datetime as dt

    from aetherium_trader_datapipeline_spark.plans.backfill_service import (
        backfill_range,
    )
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    data_dir = str(tmp_path / "t")
    calls = {"fail": True}

    def fetch(spark, symbol, day):
        if day == "2024-01-03" and calls["fail"]:
            raise RuntimeError("gateway down")
        return historical_ticks(spark, symbol, day, today=dt.date(2024, 6, 1))

    r1 = backfill_range(
        spark, control, fetch, data_dir, "NQ", "2024-01-02", "2024-01-04"
    )
    assert r1.failed_days == ["2024-01-03"]
    key = "ingest:job:NQ:2024-01-02"
    st = control.get(key)
    assert st.status == "FAILED"
    assert {"start": "2024-01-03", "end": "2024-01-03"} in st.critical_ranges
    # cursor advanced past the failed day (01-04 succeeded) — the hole
    # is invisible to cursor/gap planning alone
    assert st.cursor > int(
        dt.datetime(2024, 1, 3, 23, 59, tzinfo=dt.timezone.utc).timestamp() * 1000
    )
    assert spark.read.parquet(data_dir).where("date = '2024-01-03'").count() == 0

    calls["fail"] = False  # gateway recovers
    r2 = backfill_range(
        spark, control, fetch, data_dir, "NQ", "2024-01-02", "2024-01-04"
    )
    assert "2024-01-03" not in r2.failed_days
    st = control.get(key)
    assert st.status == "COMPLETED"
    assert st.critical_ranges == []  # cleared on success
    assert spark.read.parquet(data_dir).where("date = '2024-01-03'").count() == 1440


def test_backfill_cursor_reflects_persisted_rows_only(spark, tmp_path, control):
    """r10 review regression: the cursor was computed from the UNFILTERED
    fetch plan, so a day whose last rows were invalid advanced the HWM
    past data that was never persisted. The metrics now come from
    observe() on the write itself."""
    import datetime as dt

    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.plans.backfill_service import (
        backfill_range,
    )
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    def fetch(spark, symbol, day):
        t = historical_ticks(spark, symbol, day, today=dt.date(2024, 6, 1))
        # last 10 minutes of the day become INVALID (negative price)
        cutoff = dt.datetime(2024, 1, 2, 23, 50, tzinfo=dt.timezone.utc)
        return t.withColumn(
            "bid_price",
            F.when(F.col("timestamp") >= F.lit(cutoff), -1.0).otherwise(
                F.col("bid_price")
            ),
        )

    r = backfill_range(
        spark, control, fetch, str(tmp_path / "t"), "NQ", "2024-01-02", "2024-01-02"
    )
    st = control.get("ingest:job:NQ:2024-01-02")
    last_valid = int(
        dt.datetime(2024, 1, 2, 23, 49, tzinfo=dt.timezone.utc).timestamp() * 1000
    )
    assert st.cursor == last_valid  # NOT 23:59 — invalid tail not persisted
    assert r.total_ticks == 1440 - 10  # counts persisted rows only


def test_legacy_underscore_state_file_migrates_on_read(control):
    """r10 advice regression: the pre-percent-encoding scheme wrote
    'ingest:job:X:D' as 'ingest_job_X_D.json'.  get() must find and
    migrate that file instead of silently re-initializing the job with a
    reset cursor while the orphaned legacy row keeps surfacing in
    listings."""
    import json as _json
    import os as _os

    key = "ingest:job:NQ:2024-01-02"
    st = control.initialize_job(key, day_start_ms=1000, end_time_ms=2000)
    control.update_cursor(key, st.job_instance_id, 1500)
    # simulate a state file written by the old version: rename the
    # current (percent-encoded) file to the legacy ':'->'_' name
    new_path = control._path(key)
    legacy = _os.path.join(control.root, key.replace(":", "_") + ".json")
    _os.rename(new_path, legacy)

    got = control.get(key)
    assert got is not None and got.cursor == 1500  # found via fallback
    assert _os.path.exists(new_path)  # migrated to the canonical name
    assert not _os.path.exists(legacy)  # no ghost duplicate left behind
    # and a fresh initialize resumes (stale takeover path), not a reset
    st2 = control.initialize_job(key, day_start_ms=1000, end_time_ms=2000,
                                 now=_json.loads("9999999999.0"))
    assert st2.cursor == 1500


def test_legacy_migration_does_not_hijack_underscore_named_job(control):
    """r11 review regression: 'A:B' and 'A_B' share the legacy filename.
    get('A:B') with no canonical file must NOT steal the live state file
    of the legitimately-underscore-named job — only a file whose CONTENT
    names the requested job_key migrates."""
    import os as _os

    underscore_key = "ingest_job_NQ_2024-01-02"  # canonical under quote()
    st = control.initialize_job(underscore_key, day_start_ms=1, end_time_ms=2)
    control.update_cursor(underscore_key, st.job_instance_id, 777)
    victim_path = control._path(underscore_key)
    assert _os.path.exists(victim_path)

    colliding_key = "ingest:job:NQ:2024-01-02"  # same legacy filename
    assert control.get(colliding_key) is None  # no hijack, no migration
    assert _os.path.exists(victim_path)  # victim untouched
    assert control.get(underscore_key).cursor == 777


def test_corrupt_legacy_state_file_raises_not_resets(control):
    """r11 review regression: a corrupt legacy-named file cannot be
    attributed ('A:B' vs 'A_B' share the name), so get() must fail
    LOUDLY with remediation — the silent path re-initialized a cursor
    that may belong to this very job while the ghost file kept wedging
    listings."""
    import os as _os

    import pytest as _pytest

    from aetherium_trader_datapipeline_spark.plans.control_table import (
        ControlTableCorruptError,
    )

    key = "ingest:job:NQ:2024-01-05"
    legacy = _os.path.join(control.root, key.replace(":", "_") + ".json")
    with open(legacy, "w") as f:
        f.write("{ not json")
    with _pytest.raises(ControlTableCorruptError):
        control.get(key)
    # valid JSON but not a job-state object -> same loud failure
    with open(legacy, "w") as f:
        f.write("[]")
    with _pytest.raises(ControlTableCorruptError):
        control.get(key)
    # another job's VALID file with the colliding name -> silently skipped
    with open(legacy, "w") as f:
        f.write('{"job_key": "something_else", "status": "COMPLETED", '
                '"job_instance_id": "x", "cursor": 1, "end_time": 2, '
                '"heartbeat_at": 3.0}')
    assert control.get(key) is None
