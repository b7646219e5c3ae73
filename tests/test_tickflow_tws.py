"""Streaming tick-rule signed flow: stream == batch kernel == SQL window
form on identical integer-micro prices (the x315 semantics)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _mk_ticks(spark):
    """3 syms × 120 ticks with rises, falls, zero-runs (exercising the
    carry rule) and leading flats (exercising 'unclassified')."""
    base = dt.datetime(2024, 3, 1, 9, 30, 0)
    rows = []
    eid = 0
    for sym in range(3):
        px = 100_000_000
        for i in range(120):
            eid += 1
            step = ((i * 7 + sym * 3) % 5) - 2  # -2..2, deterministic
            if i < 4:
                step = 0  # leading flat run => unclassified head
            px += step * 1_000_000
            rows.append((sym, base + dt.timedelta(seconds=i), eid, px))
    return spark.createDataFrame(rows, "sym LONG, ts TIMESTAMP, event_id LONG, px_micro LONG")


def test_flow_fold_chunk_associativity():
    from aetherium_trader_datapipeline_spark.streaming.tickflow import (
        EMPTY_STATE,
        flow_fold,
    )

    pxs = [5, 5, 7, 7, 6, 6, 6, 9, 9, 2]
    whole = flow_fold(EMPTY_STATE, pxs)
    for cut in range(len(pxs) + 1):
        split = flow_fold(flow_fold(EMPTY_STATE, pxs[:cut]), pxs[cut:])
        assert split == whole
    # semantics spot check: first + the 5,5 flat are unclassified (no
    # nonzero sign yet), zero runs inherit, flow = nb - ns
    _, _, _, nb, ns, nu, fl = whole
    assert nu == 2 and fl == nb - ns


def test_tickflow_stream_equals_batch_equals_sql(spark, tmp_path):
    from aetherium_trader_datapipeline_spark.streaming.tickflow import (
        tick_flow_batch,
        tick_flow_stream,
    )

    ticks = _mk_ticks(spark)
    src = str(tmp_path / "src")
    cut = dt.datetime(2024, 3, 1, 9, 30, 40)
    ticks.where(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    ticks.where(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    try:
        stream = (
            spark.readStream.schema(ticks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            tick_flow_stream(stream)
            .writeStream.format("memory")
            .queryName("tickflow_tws")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.table("tickflow_tws").collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    last_n = {}
    for r in rows:
        last_n[r.sym] = max(last_n.get(r.sym, 0), r.n_trades)
    got = {
        (r.sym, r.n_trades, r.n_buy, r.n_sell, r.n_unclassified, r.signed_flow)
        for r in rows
        if r.n_trades == last_n[r.sym]
    }
    want = {
        (r.sym, r.n_trades, r.n_buy, r.n_sell, r.n_unclassified, r.signed_flow)
        for r in tick_flow_batch(ticks).collect()
    }
    assert got == want
    assert len(got) == 3
    # at least two micro-batches actually ran per the file split
    assert any(r.n_trades < last_n[r.sym] for r in rows)

    # SQL window form (x315's shape) on the same integer frame
    sql = spark.sql(
        """
        WITH diffs AS (
          SELECT sym, ts, event_id,
                 px_micro - LAG(px_micro) OVER (
                   PARTITION BY sym ORDER BY ts, event_id) AS d
          FROM {t}
        ),
        raw_sign AS (
          SELECT sym, ts, event_id,
                 CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE NULL END AS s0
          FROM diffs
        ),
        carried AS (
          SELECT sym,
                 last_value(s0, true) OVER (
                   PARTITION BY sym ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
          FROM raw_sign
        )
        SELECT sym, COUNT(*) AS n_trades,
               SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n_buy,
               SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n_sell,
               SUM(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS n_unclassified,
               SUM(COALESCE(s, 0)) AS signed_flow
        FROM carried GROUP BY sym
        """,
        t=ticks,
    )
    want_sql = {
        (r.sym, r.n_trades, r.n_buy, r.n_sell, r.n_unclassified, r.signed_flow)
        for r in sql.collect()
    }
    assert got == want_sql
