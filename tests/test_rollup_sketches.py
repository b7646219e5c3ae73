"""Continuous OHLCV rollup (stream == batch) and mergeable HLL sketches."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_hll_rollup_merge_equals_direct(spark, tables):
    """Merged daily sketches == one direct sketch (same algorithm, same
    registers) and within 5% of exact distinct."""
    from aetherium_trader_datapipeline_spark.operators.sketches import (
        hll_merge_estimate,
        hll_rollup,
    )

    ev = tables["events"].withColumn("d", F.to_date("ts"))
    daily = hll_rollup(ev, ["d"], "user_id")
    merged = hll_merge_estimate(daily).head()
    direct = hll_rollup(ev.withColumn("g", F.lit(1)), ["g"], "user_id")
    direct_est = hll_merge_estimate(direct).head()
    exact = ev.select("user_id").distinct().count()

    assert merged.approx_distinct == direct_est.approx_distinct
    assert abs(merged.approx_distinct - exact) / exact <= 0.05
    assert merged.n_rows == ev.count()


def test_hll_rollup_regroup_coarser(spark, tables):
    """Weekly estimates from daily sketches — merge, never rescan."""
    from aetherium_trader_datapipeline_spark.operators.sketches import (
        hll_merge_estimate,
        hll_rollup,
    )

    ev = tables["events"].withColumn("d", F.to_date("ts"))
    daily = hll_rollup(ev, ["d"], "user_id")
    weekly = hll_merge_estimate(
        daily.withColumn("wk", F.date_trunc("week", "d")), ["wk"]
    )
    rows = weekly.collect()
    assert rows and all(r.approx_distinct > 0 for r in rows)


def test_ohlcv_rollup_sink_stream_equals_batch(spark, tables, tmp_path):
    """Two-chunk stream through the rollup sink == one-shot batch rollup,
    including open/close correctness across the chunk boundary."""
    from aetherium_trader_datapipeline_spark.streaming.rollup import (
        merge_partials,
        ohlcv_partials,
        ohlcv_rollup_sink,
    )

    ev = tables["events"].select("event_id", "user_id", "ts", "value")
    expected = {
        (r.w_start, r.user_id): (r.open, r.high, r.low, r.close, round(r.vol, 6), r.n)
        for r in merge_partials(
            ohlcv_partials(ev, "ts", "user_id", "value"), "user_id"
        ).collect()
    }

    src = str(tmp_path / "src")
    # split by event time so many windows straddle the boundary
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.where(F.col("event_id") <= mid).coalesce(1).write.parquet(f"{src}/c0")
    ev.where(F.col("event_id") > mid).coalesce(1).write.parquet(f"{src}/c1")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(f"{src}/c*")
    )
    target = str(tmp_path / "rollup")
    q = ohlcv_rollup_sink(stream, target, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = {
        (r.w_start, r.user_id): (r.open, r.high, r.low, r.close, round(r.vol, 6), r.n)
        for r in spark.read.parquet(target).collect()
    }
    assert got == expected
    # layout: partitioned by date for partition-pruned reads
    assert any(p.name.startswith("d=") for p in (tmp_path / "rollup").iterdir())


def test_ohlcv_cascade_equals_direct(spark, tables):
    """Mergeability: hourly bars rolled up from minute bars equal hourly
    bars computed directly from ticks (open/close via min_by/max_by on the
    finer bar's window start, high/low/vol associative)."""
    ev = tables["events"]
    cascade = spark.sql("""
        WITH m AS (
          SELECT user_id, date_trunc('minute', ts) AS wm,
                 MIN_BY(value, ts) AS o, MAX(value) AS h,
                 MIN(value) AS l, MAX_BY(value, ts) AS c,
                 SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))) AS vol
          FROM {events} GROUP BY user_id, date_trunc('minute', ts))
        SELECT user_id, date_trunc('hour', wm) AS wh,
               MIN_BY(o, wm) AS open, MAX(h) AS high,
               MIN(l) AS low, MAX_BY(c, wm) AS close, SUM(vol) AS vol
        FROM m GROUP BY user_id, date_trunc('hour', wm)
    """, events=ev)
    direct = spark.sql("""
        SELECT user_id, date_trunc('hour', ts) AS wh,
               MIN_BY(value, ts) AS open, MAX(value) AS high,
               MIN(value) AS low, MAX_BY(value, ts) AS close,
               SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))) AS vol
        FROM {events} GROUP BY user_id, date_trunc('hour', ts)
    """, events=ev)
    a = sorted(map(tuple, cascade.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_theta_rollup_sink_stream_equals_batch(spark, tables, tmp_path):
    """Incrementally maintained daily theta sketch table == from-scratch
    daily sketches of all data, BIT-identical (hashes + theta) — the KMV
    lossless-merge property across micro-batch boundaries, including
    days split across chunks."""
    from aetherium_trader_datapipeline_spark.operators.sketches import (
        theta_sketch,
    )
    from aetherium_trader_datapipeline_spark.streaming.rollup import (
        theta_rollup_sink,
    )

    ev = tables["events"].select("event_id", "user_id", "ts")
    k = 8  # saturate daily at sf0.001 so the merge path is non-trivial
    expected = {
        str(r.d): (tuple(r.theta_hashes), r.theta)
        for r in theta_sketch(
            ev.withColumn("d", F.to_date("ts")), ["d"], "user_id", k=k
        ).collect()
    }

    src = str(tmp_path / "src")
    # split by event_id so most days appear in BOTH chunks
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.where(F.col("event_id") <= mid).coalesce(1).write.parquet(f"{src}/c0")
    ev.where(F.col("event_id") > mid).coalesce(1).write.parquet(f"{src}/c1")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/c*")
    )
    target = str(tmp_path / "theta")
    q = theta_rollup_sink(stream, target, str(tmp_path / "ckpt"), k=k)
    q.awaitTermination(180)

    got = {
        str(r.d): (tuple(r.theta_hashes), r.theta)
        for r in spark.read.parquet(target).collect()
    }
    assert got == expected
    # at least one daily sketch actually saturated (merge wasn't vacuous)
    assert any(t is not None for _, t in got.values())
    # layout: partitioned by date for partition-pruned reads
    assert any(p.name.startswith("d=") for p in (tmp_path / "theta").iterdir())


def test_theta_rollup_sink_null_ts_partition_survives_batches(spark, tables, tmp_path):
    """Rows with NULL event time land in the d=NULL partition; the
    read-back filter must match it (NULL IN (...) is NULL — r12 review)
    so the NULL-day sketch accumulates across batches instead of being
    replaced by the last batch's."""
    import pyspark.sql.functions as F

    from aetherium_trader_datapipeline_spark.operators.sketches import (
        theta_sketch,
    )
    from aetherium_trader_datapipeline_spark.streaming.rollup import (
        theta_rollup_sink,
    )

    ev = tables["events"].select("event_id", "user_id", "ts").limit(200)
    # null the ts of half the rows, split so NULL-ts rows are in BOTH chunks
    nulled = ev.withColumn(
        "ts", F.when(F.col("event_id") % 3 == 0, F.col("ts"))
    )
    expected = {
        str(r.d): (tuple(r.theta_hashes), r.theta)
        for r in theta_sketch(
            nulled.withColumn("d", F.to_date("ts")), ["d"], "user_id", k=8
        ).collect()
    }
    assert "None" in expected  # the NULL-day group exists and is non-trivial

    src = str(tmp_path / "src")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    nulled.where(F.col("event_id") <= mid).coalesce(1).write.parquet(f"{src}/c0")
    nulled.where(F.col("event_id") > mid).coalesce(1).write.parquet(f"{src}/c1")
    stream = (
        spark.readStream.schema(nulled.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/c*")
    )
    q = theta_rollup_sink(stream, str(tmp_path / "t"), str(tmp_path / "ck"), k=8)
    q.awaitTermination(180)
    got = {
        str(r.d): (tuple(r.theta_hashes), r.theta)
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    }
    assert got == expected
