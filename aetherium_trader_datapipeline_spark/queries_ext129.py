"""Wave 129 (x459–x461): sampling-frequency microstructure diagnostics.

Three classical plots a market-microstructure desk draws before
trusting any higher-frequency estimate:

x459 — order-flow self-excitation: the Fano factor (variance/mean) of
per-minute event counts per symbol; for a Hawkes process with
branching ratio n the count dispersion satisfies F ≈ 1/(1−n)², so
n̂ = 1 − 1/√F (clamped at 0 for sub-Poisson flow).  Count moments are
exact integers; the Poisson-null column (F = 1) anchors the reading.

x460 — Epps effect: pairwise return correlation computed at 1-minute
AND 10-minute sampling for every symbol pair — correlations measured
at finer intervals are biased toward zero by asynchronous trading; the
two-frequency table measures exactly that gap.  Same exact-moment corr
machinery as x426's spine.

x461 — volatility signature plot: realized variance per unit time at
sampling intervals Δ ∈ {1, 2, 5, 10, 30} minutes per symbol.
Microstructure noise inflates RV as Δ → 0; the flattening point picks
the safe sampling rate.  The interval dim crosses the ONCE-collapsed
minute-bar frame (5× bar rows, not 5× ticks), and each interval's
last-price selection and squared-return sum is exact integer math.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

_BARS = """
    ticks AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    ),
    bars AS (
      SELECT sym, mkey, px AS cl FROM (
        SELECT sym, mkey, px,
               ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ticks
      ) t WHERE rn = 1
    )
"""

# -- x459: Hawkes branching via Fano factor ---------------------------------------------

_X459 = """
    WITH counts AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id % 10, {epoch} {intdiv} 60
    ),
    moms AS (
      SELECT sym, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(CAST(c AS DECIMAL(18,0)) * c) AS DECIMAL(38,0)) AS scc
      FROM counts GROUP BY sym
    )
    SELECT CAST(sym AS BIGINT) AS sym, n AS n_minutes,
           ROUND(CAST(sc AS DOUBLE) / n, 6) AS mean_count,
           ROUND((CAST(scc AS DOUBLE) / n
                  - (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
                 / (CAST(sc AS DOUBLE) / n), 6) AS fano_factor,
           ROUND(GREATEST(0.0,
             1 - 1 / SQRT(GREATEST(1.0,
               (CAST(scc AS DOUBLE) / n
                - (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
               / (CAST(sc AS DOUBLE) / n)))), 6) AS hawkes_branching
    FROM moms WHERE sc > 0 ORDER BY sym
"""

register_sql(
    "x459_hawkes_branching",
    spark_sql=_X459.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X459.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("finance", "stats"),
)

# -- x460: Epps effect ---------------------------------------------------------------------

_X460 = (
    "WITH " + _BARS + """,
    freqs AS (SELECT 1 AS f UNION ALL SELECT 10),
    sampled AS (
      -- the frequency dim crosses the ONCE-collapsed minute-bar frame,
      -- not the tick table
      SELECT b.sym, fr.f, b.mkey {intdiv} fr.f AS bkey, b.mkey, b.cl
      FROM bars b CROSS JOIN freqs fr
    ),
    lastpx AS (
      -- last close per (sym, freq, bucket) = latest MINUTE in bucket
      SELECT sym, f, bkey, cl FROM (
        SELECT sym, f, bkey, cl,
               ROW_NUMBER() OVER (PARTITION BY sym, f, bkey
                                  ORDER BY mkey DESC) AS rn2
        FROM sampled
      ) s WHERE rn2 = 1
    ),
    rets AS (
      SELECT sym, f, bkey,
             CAST(FLOOR(LN(CAST(cl AS DOUBLE)
                           / CAST(LAG(cl) OVER (PARTITION BY sym, f
                                                ORDER BY bkey) AS DOUBLE))
                        * 1e9) AS BIGINT) AS r_fp
      FROM lastpx
    ),
    aligned AS (
      SELECT a.f, a.sym AS sa, b.sym AS sb, a.r_fp AS ra, b.r_fp AS rb
      FROM rets a JOIN rets b
        ON a.f = b.f AND a.bkey = b.bkey AND a.sym < b.sym
      WHERE a.r_fp IS NOT NULL AND b.r_fp IS NOT NULL
    ),
    moms AS (
      SELECT f, sa, sb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ra AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(rb AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(CAST(ra AS DECIMAL(18,0)) * ra) AS DECIMAL(38,0))
               AS s11,
             CAST(SUM(CAST(rb AS DECIMAL(18,0)) * rb) AS DECIMAL(38,0))
               AS s22,
             CAST(SUM(CAST(ra AS DECIMAL(18,0)) * rb) AS DECIMAL(38,0))
               AS s12
      FROM aligned GROUP BY f, sa, sb
    )
    SELECT CAST(sa AS BIGINT) AS sym_a, CAST(sb AS BIGINT) AS sym_b,
           CAST(f AS BIGINT) AS interval_minutes, n,
           CASE WHEN n * s11 - s1 * s1 > 0 AND n * s22 - s2 * s2 > 0 THEN
             ROUND(CAST(n * s12 - s1 * s2 AS DOUBLE)
                   / SQRT(CAST(n * s11 - s1 * s1 AS DOUBLE)
                          * CAST(n * s22 - s2 * s2 AS DOUBLE)), 6)
           END AS corr
    FROM moms WHERE n > 10 ORDER BY sym_a, sym_b, interval_minutes
"""
)

@register(
    "x460_epps_effect",
    oracle=_X460.format(intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"),
    tags=("finance", "stats"),
)
def x460_epps_effect(spark, sf_dir):
    """r14 restructure (guide §2.4/§2.3): `rets` was re-expanded by both
    sides of the `aligned` self-join, re-running the whole bars chain
    (events scan + two window sorts) per side.  Changes, oracle
    untouched: bars = MAX_BY(px, struct(ts, event_id)) — identical
    winner, event_id unique — checkpointed once; the per-(sym, f, bkey)
    last close = MAX_BY(cl, mkey) (mkey unique within sym in bars);
    `rets` checkpointed once, the correlation tail reads it twice."""
    load_tables(spark, sf_dir)
    bars = spark.sql(
        """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, unix_seconds(ts) DIV 60 AS mkey, ts,
             event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    )
    SELECT sym, mkey,
           MAX_BY(px, named_struct('ts', ts, 'event_id', event_id)) AS cl
    FROM ticks GROUP BY sym, mkey"""
    ).localCheckpoint()
    rets = spark.sql(
        """
    WITH freqs AS (SELECT 1 AS f UNION ALL SELECT 10),
    sampled AS (
      SELECT b.sym, fr.f, b.mkey DIV fr.f AS bkey, b.mkey, b.cl
      FROM {bars} b CROSS JOIN freqs fr
    ),
    lastpx AS (
      SELECT sym, f, bkey, MAX_BY(cl, mkey) AS cl
      FROM sampled GROUP BY sym, f, bkey
    )
    SELECT sym, f, bkey,
           CAST(FLOOR(LN(CAST(cl AS DOUBLE)
                         / CAST(LAG(cl) OVER (PARTITION BY sym, f
                                              ORDER BY bkey) AS DOUBLE))
                      * 1e9) AS BIGINT) AS r_fp
    FROM lastpx""",
        bars=bars,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH aligned AS (
      SELECT a.f, a.sym AS sa, b.sym AS sb, a.r_fp AS ra, b.r_fp AS rb
      FROM {rets} a JOIN {rets} b
        ON a.f = b.f AND a.bkey = b.bkey AND a.sym < b.sym
      WHERE a.r_fp IS NOT NULL AND b.r_fp IS NOT NULL
    ),
    moms AS (
      SELECT f, sa, sb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ra AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(rb AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(CAST(ra AS DECIMAL(18,0)) * ra) AS DECIMAL(38,0))
               AS s11,
             CAST(SUM(CAST(rb AS DECIMAL(18,0)) * rb) AS DECIMAL(38,0))
               AS s22,
             CAST(SUM(CAST(ra AS DECIMAL(18,0)) * rb) AS DECIMAL(38,0))
               AS s12
      FROM aligned GROUP BY f, sa, sb
    )
    SELECT CAST(sa AS BIGINT) AS sym_a, CAST(sb AS BIGINT) AS sym_b,
           CAST(f AS BIGINT) AS interval_minutes, n,
           CASE WHEN n * s11 - s1 * s1 > 0 AND n * s22 - s2 * s2 > 0 THEN
             ROUND(CAST(n * s12 - s1 * s2 AS DOUBLE)
                   / SQRT(CAST(n * s11 - s1 * s1 AS DOUBLE)
                          * CAST(n * s22 - s2 * s2 AS DOUBLE)), 6)
           END AS corr
    FROM moms WHERE n > 10 ORDER BY sym_a, sym_b, interval_minutes""",
        rets=rets,
    )

# -- x461: volatility signature plot ---------------------------------------------------------

_X461 = (
    "WITH " + _BARS + """,
    ivals AS (
      SELECT 1 AS ival UNION ALL SELECT 2 UNION ALL SELECT 5
      UNION ALL SELECT 10 UNION ALL SELECT 30
    ),
    sampled AS (
      SELECT b.sym, i.ival, b.mkey {intdiv} i.ival AS bkey, b.mkey, b.cl
      FROM bars b CROSS JOIN ivals i
    ),
    lastpx AS (
      SELECT sym, ival, bkey, cl FROM (
        SELECT sym, ival, bkey, cl,
               ROW_NUMBER() OVER (PARTITION BY sym, ival, bkey
                                  ORDER BY mkey DESC) AS rn
        FROM sampled
      ) s WHERE rn = 1
    ),
    rets AS (
      SELECT sym, ival,
             CAST(FLOOR(LN(CAST(cl AS DOUBLE)
                           / CAST(LAG(cl) OVER (PARTITION BY sym, ival
                                                ORDER BY bkey) AS DOUBLE))
                        * 1e9) AS BIGINT) AS r_fp
      FROM lastpx
    )
    SELECT CAST(sym AS BIGINT) AS sym, CAST(ival AS BIGINT) AS interval_minutes,
           CAST(COUNT(r_fp) AS BIGINT) AS n_returns,
           -- RV per minute: Σr² / (n·Δ) — variance per unit time
           ROUND(CAST(SUM(CAST(r_fp AS DECIMAL(18,0)) * r_fp) AS DOUBLE)
                 / 1e18 / (COUNT(r_fp) * ival) * 1e6, 9)
             AS rv_per_minute_x1e6
    FROM rets WHERE r_fp IS NOT NULL
    GROUP BY sym, ival ORDER BY sym, interval_minutes
"""
)

register_sql(
    "x461_signature_plot",
    spark_sql=_X461.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X461.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("finance", "stats"),
)
