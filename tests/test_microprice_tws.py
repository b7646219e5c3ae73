"""Streaming microstructure accumulator: stream == batch kernel == SQL
window forms (the x384/x386 semantics) with INTEGER-ONLY parity checks."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _mk_ticks(spark):
    """3 syms × 150 ticks with rises, falls and flat runs (flats exercise
    the dp == 0 terms that hit neither semivariance side)."""
    base = dt.datetime(2024, 3, 1, 9, 30, 0)
    rows = []
    eid = 0
    for sym in range(3):
        px = 100_000_000
        for i in range(150):
            eid += 1
            step = ((i * 11 + sym * 5) % 7) - 3  # -3..3, deterministic
            px += step * 1_000_000
            rows.append((sym, base + dt.timedelta(seconds=i), eid, px))
    return spark.createDataFrame(
        rows, "sym LONG, ts TIMESTAMP, event_id LONG, px_micro LONG"
    )


def test_micro_fold_chunk_associativity():
    from aetherium_trader_datapipeline_spark.streaming.microprice import (
        EMPTY_STATE,
        micro_fold,
    )

    pxs = [5, 5, 7, 4, 4, 9, 9, 9, 2, 8, 8, 3]
    whole = micro_fold(EMPTY_STATE, pxs)
    for cut in range(len(pxs) + 1):
        split = micro_fold(micro_fold(EMPTY_STATE, pxs[:cut]), pxs[cut:])
        assert split == whole
    # semantics spot checks
    (_hp, last_px, _hd, _ld, n, nr, m1,
     s_dp, s_dp2, s_up2, s_dn2, s_c1, s_a, s_b, s_bp) = whole
    assert (n, nr, m1) == (12, 11, 10)
    assert last_px == 3
    assert s_dp == 3 - 5  # telescoping sum of diffs
    assert s_dp2 == s_up2 + s_dn2 + 0  # flats contribute zero
    assert s_bp >= 0


def test_microstructure_stream_equals_batch_equals_sql(spark, tmp_path):
    from aetherium_trader_datapipeline_spark.streaming.microprice import (
        microstructure_batch,
        microstructure_stream,
    )

    ticks = _mk_ticks(spark)
    src = str(tmp_path / "src")
    cut = dt.datetime(2024, 3, 1, 9, 30, 50)
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
            microstructure_stream(stream)
            .writeStream.format("memory")
            .queryName("micro_tws")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        rows = spark.table("micro_tws").collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    cols = ("n_ticks", "n_rets", "n_lag_pairs", "sum_dp", "sum_dp2",
            "sum_up2", "sum_dn2", "sum_dpdp1", "sum_a", "sum_b", "sum_bp")
    last_n = {}
    for r in rows:
        last_n[r.sym] = max(last_n.get(r.sym, 0), r.n_ticks)
    got = {
        (r.sym, *[r[c] for c in cols])
        for r in rows
        if r.n_ticks == last_n[r.sym]
    }
    want = {
        (r.sym, *[r[c] for c in cols])
        for r in microstructure_batch(ticks).collect()
    }
    assert got == want
    assert len(got) == 3
    # at least two micro-batches actually ran per the file split
    assert any(r.n_ticks < last_n[r.sym] for r in rows)

    # x384/x386-shaped SQL window forms on the same integer frame; all
    # comparisons in exact integer space (m1²·cov = m1·c1 − sa·sb)
    sql = {
        r.sym: r
        for r in spark.sql(
            """
            WITH d AS (
              SELECT sym,
                     px_micro - LAG(px_micro, 1) OVER (
                       PARTITION BY sym ORDER BY ts, event_id) AS dp,
                     LAG(px_micro, 1) OVER (
                       PARTITION BY sym ORDER BY ts, event_id)
                       - LAG(px_micro, 2) OVER (
                           PARTITION BY sym ORDER BY ts, event_id) AS dp1
              FROM {t}
            )
            SELECT sym,
                   COUNT(dp) AS n_rets, COUNT(dp1) AS m1,
                   SUM(dp) AS s_dp, SUM(dp * dp) AS s_dp2,
                   SUM(CASE WHEN dp > 0 THEN dp * dp ELSE 0 END) AS s_up2,
                   SUM(CASE WHEN dp < 0 THEN dp * dp ELSE 0 END) AS s_dn2,
                   SUM(dp * dp1) AS s_c1,
                   SUM(CASE WHEN dp1 IS NOT NULL THEN dp END) AS s_a,
                   SUM(dp1) AS s_b,
                   SUM(ABS(dp) * ABS(dp1)) AS s_bp
            FROM d GROUP BY sym
            """,
            t=ticks,
        ).collect()
    }
    for sym, *vals in got:
        (n, nr, m1, s_dp, s_dp2, s_up2, s_dn2, s_c1, s_a, s_b, s_bp) = vals
        w = sql[sym]
        assert (nr, m1) == (w.n_rets, w.m1)
        assert (s_dp, s_dp2, s_up2, s_dn2) == (w.s_dp, w.s_dp2, w.s_up2, w.s_dn2)
        assert (s_c1, s_a, s_b, s_bp) == (w.s_c1, w.s_a, w.s_b, w.s_bp)
        # the x384 covariance identity, exact: m1²·cov = m1·c1 − sa·sb
        assert m1 * s_c1 - s_a * s_b == w.m1 * w.s_c1 - w.s_a * w.s_b
