"""Wave 132 (x468–x470): option greeks, harmonic seasonality, and
optimizer-histogram estimation error.

x468 — Black–Scholes call price/delta/gamma per symbol at strikes
{0.95S, S, 1.05S}: spot and annualized vol are MEASURED (last price;
per-minute return variance × 525600), r = 2%, T = 30/365.  The normal
CDF uses the Abramowitz–Stegun 7.1.26 polynomial (public constants,
|ε| < 7.5e-8) — written once by a Python helper so both engines
evaluate the same IEEE tree; gamma uses the exact normal pdf.  The
transcendental factors (Φ, discount, pdf) are quantized to a 1e8/1e10
grid BEFORE the price arithmetic: sub-ulp libm differences between the
JVM and C runtimes were flipping the final FLOOR boundary otherwise.
(On the synthetic ticks the annualized σ is huge (~28) — the greeks
machinery, not the level, is what the oracle proves.)

x469 — harmonic (Fourier) fit of the hour-of-day volume profile: over
the 24 uniformly-sampled hours the k=1,2 harmonics are orthogonal, so
the coefficients are plain projections a_k = (2/24)Σ m_h·cos(2πkh/24).
Per-hour means and every projection term are 1e6-quantized before the
24-row sums; reports amplitude, peak hour, and the variance share the
two harmonics explain.  Extends x377 (strength score) to an actual
seasonal MODEL.

x470 — selectivity-estimation error: for five literal o_totalprice
range predicates, the TRUE row count vs the estimate from a 10-bucket
EQUI-WIDTH histogram (fractional-overlap uniform assumption) vs a
10-bucket EQUI-DEPTH histogram (x439's boundaries).  The table that
justifies why optimizers moved from width to depth histograms —
measured on this engine's own data.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables


def _ncdf(x: str) -> str:
    """Abramowitz–Stegun 7.1.26 Φ(x) as a portable SQL expression."""
    t = f"(1.0 / (1.0 + 0.2316419 * ABS({x})))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    tail = f"(EXP(-({x}) * ({x}) / 2) / SQRT(2 * PI()) * {poly})"
    return f"(CASE WHEN {x} >= 0 THEN 1 - {tail} ELSE {tail} END)"


# -- x468: Black–Scholes greeks ----------------------------------------------------------

_X468 = """
    WITH ticks AS (
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
    ),
    rets AS (
      SELECT sym, mkey, cl,
             CAST(FLOOR(LN(CAST(cl AS DOUBLE)
                           / CAST(LAG(cl) OVER (PARTITION BY sym
                                                ORDER BY mkey) AS DOUBLE))
                        * 1e9) AS BIGINT) AS r_fp,
             ROW_NUMBER() OVER (PARTITION BY sym ORDER BY mkey DESC) AS rdesc
      FROM bars
    ),
    inputs AS (
      SELECT sym,
             MAX(CASE WHEN rdesc = 1 THEN CAST(cl AS DOUBLE) END) AS s,
             SQRT((CAST(SUM(CAST(COALESCE(r_fp, 0) AS DECIMAL(18,0))
                            * COALESCE(r_fp, 0)) AS DOUBLE)
                   / COUNT(r_fp) / 1e18
                   - POWER(CAST(SUM(CAST(COALESCE(r_fp, 0)
                                         AS DECIMAL(18,0))) AS DOUBLE)
                           / COUNT(r_fp) / 1e9, 2)) * 525600) AS sigma
      FROM rets GROUP BY sym HAVING COUNT(r_fp) > 10
    ),
    strikes AS (
      SELECT CAST(0.95 AS DOUBLE) AS krel
      UNION ALL SELECT CAST(1.0 AS DOUBLE)
      UNION ALL SELECT CAST(1.05 AS DOUBLE)
    ),
    ds AS (
      SELECT i.sym, i.s, i.sigma, st.krel, i.s * st.krel AS k,
             (LN(1.0 / st.krel) + (0.02 + i.sigma * i.sigma / 2)
                                  * (30.0E0 / 365))
               / (i.sigma * SQRT(30.0E0 / 365)) AS d1,
             (LN(1.0 / st.krel) + (0.02 - i.sigma * i.sigma / 2)
                                  * (30.0E0 / 365))
               / (i.sigma * SQRT(30.0E0 / 365)) AS d2
      FROM inputs i CROSS JOIN strikes st
      WHERE i.sigma > 0
    ),
    quantized AS (
      -- quantize the transcendental factors FIRST (1e8 grid): sub-ulp
      -- libm differences then cannot reach the price arithmetic, which
      -- runs on identical quantized inputs in both engines
      SELECT sym, krel, s, sigma, k,
             CAST(FLOOR({nd1} * 1e8) AS BIGINT) AS nd1_q,
             CAST(FLOOR({nd2} * 1e8) AS BIGINT) AS nd2_q,
             CAST(FLOOR(EXP(-0.02E0 * 30.0E0 / 365) * 1e8) AS BIGINT) AS disc_q,
             CAST(FLOOR(EXP(-d1 * d1 / 2) * 1e10) AS BIGINT) AS pdf_q
      FROM ds
    )
    SELECT CAST(sym AS BIGINT) AS sym,
           ROUND(krel, 2) AS strike_rel,
           ROUND(s, 6) AS spot,
           ROUND(sigma, 6) AS sigma_annual,
           CAST(FLOOR((s * nd1_q / 1e8
                       - k * (disc_q / 1e8) * (nd2_q / 1e8)) * 1e4)
                AS BIGINT) AS call_price_x1e4,
           CAST(nd1_q {intdiv} 100 AS BIGINT) AS delta_micro,
           CAST(FLOOR(pdf_q / 1e10 / SQRT(2 * PI())
                      / (s * sigma * SQRT(30.0E0 / 365)) * 1e9) AS BIGINT)
             AS gamma_nano
    FROM quantized ORDER BY sym, strike_rel
"""

register_sql(
    "x468_black_scholes_greeks",
    spark_sql=_X468.format(
        intdiv="DIV", epoch="unix_seconds(ts)",
        nd1=_ncdf("d1"), nd2=_ncdf("d2"),
    ),
    duckdb_sql=_X468.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)",
        nd1=_ncdf("d1"), nd2=_ncdf("d2"),
    ),
    tags=("finance", "stats"),
)

# -- x469: harmonic hour-of-day profile ---------------------------------------------------

_X469 = """
    WITH hourly AS (
      SELECT user_id % 10 AS sym, {hour} AS h,
             CAST(SUM(CAST(FLOOR(ABS(value) * 1e6) AS BIGINT)) AS BIGINT)
               AS vol_fp,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id % 10, {hour}
    ),
    means AS (
      -- mean volume per (sym, hour-of-day), 1e6-quantized
      SELECT sym, h, CAST(vol_fp {intdiv} cnt AS BIGINT) AS m_fp
      FROM hourly
    ),
    proj AS (
      SELECT sym,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(m_fp) AS BIGINT) AS sm,
             CAST(SUM(CAST(m_fp AS DECIMAL(18,0)) * m_fp) AS DECIMAL(38,0))
               AS smm,
             CAST(SUM(CAST(FLOOR(m_fp * COS(2 * PI() * h / 24) / 1e0)
                           AS BIGINT)) AS BIGINT) AS a1_fp,
             CAST(SUM(CAST(FLOOR(m_fp * SIN(2 * PI() * h / 24) / 1e0)
                           AS BIGINT)) AS BIGINT) AS b1_fp,
             CAST(SUM(CAST(FLOOR(m_fp * COS(4 * PI() * h / 24) / 1e0)
                           AS BIGINT)) AS BIGINT) AS a2_fp,
             CAST(SUM(CAST(FLOOR(m_fp * SIN(4 * PI() * h / 24) / 1e0)
                           AS BIGINT)) AS BIGINT) AS b2_fp
      FROM means GROUP BY sym
    )
    SELECT CAST(sym AS BIGINT) AS sym, n_hours,
           ROUND(CAST(sm AS DOUBLE) / n_hours / 1e6, 6) AS mean_volume,
           ROUND(2.0 * SQRT(POWER(CAST(a1_fp AS DOUBLE) / n_hours, 2)
                            + POWER(CAST(b1_fp AS DOUBLE) / n_hours, 2))
                 / 1e6, 6) AS harmonic1_amplitude,
           ROUND(2.0 * SQRT(POWER(CAST(a2_fp AS DOUBLE) / n_hours, 2)
                            + POWER(CAST(b2_fp AS DOUBLE) / n_hours, 2))
                 / 1e6, 6) AS harmonic2_amplitude,
           CASE WHEN CAST(smm AS DOUBLE) / n_hours
                     - POWER(CAST(sm AS DOUBLE) / n_hours, 2) > 0 THEN
             ROUND((2 * (POWER(CAST(a1_fp AS DOUBLE) / n_hours, 2)
                         + POWER(CAST(b1_fp AS DOUBLE) / n_hours, 2)
                         + POWER(CAST(a2_fp AS DOUBLE) / n_hours, 2)
                         + POWER(CAST(b2_fp AS DOUBLE) / n_hours, 2)))
                   / (CAST(smm AS DOUBLE) / n_hours
                      - POWER(CAST(sm AS DOUBLE) / n_hours, 2)), 6)
           END AS variance_share_explained
    FROM proj ORDER BY sym
"""

register_sql(
    "x469_harmonic_profile",
    spark_sql=_X469.format(intdiv="DIV", hour="hour(ts)"),
    duckdb_sql=_X469.format(
        intdiv="//", hour="CAST(EXTRACT(hour FROM ts) AS BIGINT)"
    ),
    tags=("finance", "stats"),
)

# -- x470: histogram selectivity error -----------------------------------------------------

_X470 = """
    WITH stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders
    ),
    width_hist AS (
      SELECT LEAST(CAST(FLOOR((o.o_totalprice - s.lo) / (s.hi - s.lo) * 10)
                        AS BIGINT), 9) AS b,
             CAST(COUNT(*) AS BIGINT) AS c,
             MAX(s.lo) AS lo, MAX(s.hi) AS hi
      FROM orders o CROSS JOIN stats s
      GROUP BY LEAST(CAST(FLOOR((o.o_totalprice - s.lo) / (s.hi - s.lo) * 10)
                          AS BIGINT), 9)
    ),
    depth_bounds AS (
      -- equi-depth decile boundaries by exact rank over the
      -- DISTINCT-VALUE grid (the x575 device; sub-linear frame per the
      -- global-band policy). The value at global rank ceil(idx*n/10)
      -- is the smallest v whose cumulative count reaches idx*n/10 —
      -- identical to the r6 per-row ROW_NUMBER form, which
      -- single-partition-sorted every order row.
      SELECT d.idx, MIN(CASE WHEN r.cum * 10 >= d.idx * r.n
                             THEN r.v END) AS v
      FROM (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        FROM (SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM orders GROUP BY o_totalprice)
      ) r
      CROSS JOIN (SELECT 1 AS idx UNION ALL SELECT 2 UNION ALL SELECT 3
            UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
            UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9) d
      GROUP BY d.idx
    ),
    preds AS (
      SELECT 'p1_low20' AS pred, 20000.0 AS a, 60000.0 AS b
      UNION ALL SELECT 'p2_mid', 80000.0, 120000.0
      UNION ALL SELECT 'p3_high', 150000.0, 250000.0
      UNION ALL SELECT 'p4_narrow', 100000.0, 105000.0
      UNION ALL SELECT 'p5_wide', 30000.0, 200000.0
    ),
    truth AS (
      SELECT p.pred,
             CAST(SUM(CASE WHEN o.o_totalprice >= p.a
                            AND o.o_totalprice < p.b
                           THEN 1 ELSE 0 END) AS BIGINT) AS true_rows
      FROM orders o CROSS JOIN preds p GROUP BY p.pred
    ),
    width_est AS (
      -- fractional bucket overlap under the uniform assumption,
      -- 1e6-quantized per bucket before the 10-row sum
      SELECT p.pred,
             CAST(SUM(CAST(FLOOR(w.c * GREATEST(0.0,
               LEAST(p.b, w.lo + (w.b + 1) * (w.hi - w.lo) / 10)
               - GREATEST(p.a, w.lo + w.b * (w.hi - w.lo) / 10))
               / ((w.hi - w.lo) / 10) * 1e6) AS BIGINT)) AS BIGINT) AS est_fp
      FROM width_hist w CROSS JOIN preds p GROUP BY p.pred
    ),
    depth_est AS (
      -- each decile holds n/10 rows; count deciles whose span overlaps,
      -- with fractional ends under the uniform assumption
      SELECT p.pred,
             CAST(SUM(CAST(FLOOR(s.n / 10.0 * GREATEST(0.0,
               LEAST(p.b, span.u) - GREATEST(p.a, span.l))
               / NULLIF(span.u - span.l, 0) * 1e6) AS BIGINT)) AS BIGINT)
               AS est_fp
      FROM (
        SELECT COALESCE(LAG(v) OVER (ORDER BY idx), (SELECT lo FROM stats))
                 AS l,
               v AS u
        FROM (SELECT idx, v FROM depth_bounds
              UNION ALL
              SELECT 10, (SELECT hi FROM stats)) all_b
      ) span
      CROSS JOIN preds p CROSS JOIN stats s
      GROUP BY p.pred
    )
    SELECT t.pred, t.true_rows,
           CAST(we.est_fp {intdiv} 1000000 AS BIGINT) AS width_estimate,
           CAST(de.est_fp {intdiv} 1000000 AS BIGINT) AS depth_estimate,
           CASE WHEN t.true_rows > 0 THEN
             ROUND(ABS(CAST(we.est_fp AS DOUBLE) / 1e6 - t.true_rows)
                   / t.true_rows, 4) END AS width_rel_error,
           CASE WHEN t.true_rows > 0 THEN
             ROUND(ABS(CAST(de.est_fp AS DOUBLE) / 1e6 - t.true_rows)
                   / t.true_rows, 4) END AS depth_rel_error
    FROM truth t
    JOIN width_est we ON t.pred = we.pred
    JOIN depth_est de ON t.pred = de.pred
    ORDER BY t.pred
"""

@register(
    "x470_selectivity_error",
    oracle=_X470.format(intdiv="//"),
    tags=("profiling", "planning"),
)
def x470_selectivity_error(spark, sf_dir):
    """r14 restructure (guide §2.4): `stats` was re-expanded by
    width_hist, depth_est (three references) and depth_bounds' scalar
    subqueries — 7 orders scans, 38 exchanges in one plan.
    Checkpointing the four tiny summary frames (stats 1 row, width_hist
    10, depth_bounds 9, truth 5) runs the orders scan once per distinct
    aggregate (4 scans total); the estimator tail reads the checkpoints.
    All expressions and the DuckDB oracle are textually unchanged."""
    load_tables(spark, sf_dir)
    stats = spark.sql(
        """
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders"""
    ).localCheckpoint()
    # width_hist / depth_bounds stay unmaterialized DataFrames: each is
    # referenced once by the tail, so checkpointing them only serializes
    # jobs (measured 0.79x); only `stats` — re-expanded by width_hist and
    # three depth_est references — is worth pinning.
    width_hist = spark.sql(
        """
      SELECT LEAST(CAST(FLOOR((o.o_totalprice - s.lo) / (s.hi - s.lo) * 10)
                        AS BIGINT), 9) AS b,
             CAST(COUNT(*) AS BIGINT) AS c,
             MAX(s.lo) AS lo, MAX(s.hi) AS hi
      FROM orders o CROSS JOIN (SELECT * FROM {stats} LIMIT 1) s
      GROUP BY LEAST(CAST(FLOOR((o.o_totalprice - s.lo) / (s.hi - s.lo) * 10)
                          AS BIGINT), 9)""",
        stats=stats,
    )
    depth_bounds = spark.sql(
        """
      SELECT d.idx, MIN(CASE WHEN r.cum * 10 >= d.idx * r.n
                             THEN r.v END) AS v
      FROM (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        FROM (SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM orders GROUP BY o_totalprice)
      ) r
      CROSS JOIN (SELECT 1 AS idx UNION ALL SELECT 2 UNION ALL SELECT 3
            UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
            UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9) d
      GROUP BY d.idx"""
    )
    return spark.sql(
        """
    WITH stats AS (SELECT n, lo, hi FROM {stats} LIMIT 1),
    preds AS (
      SELECT 'p1_low20' AS pred, 20000.0 AS a, 60000.0 AS b
      UNION ALL SELECT 'p2_mid', 80000.0, 120000.0
      UNION ALL SELECT 'p3_high', 150000.0, 250000.0
      UNION ALL SELECT 'p4_narrow', 100000.0, 105000.0
      UNION ALL SELECT 'p5_wide', 30000.0, 200000.0
    ),
    truth AS (
      SELECT p.pred,
             CAST(SUM(CASE WHEN o.o_totalprice >= p.a
                            AND o.o_totalprice < p.b
                           THEN 1 ELSE 0 END) AS BIGINT) AS true_rows
      FROM orders o CROSS JOIN preds p GROUP BY p.pred
    ),
    width_est AS (
      SELECT p.pred,
             CAST(SUM(CAST(FLOOR(w.c * GREATEST(0.0,
               LEAST(p.b, w.lo + (w.b + 1) * (w.hi - w.lo) / 10)
               - GREATEST(p.a, w.lo + w.b * (w.hi - w.lo) / 10))
               / ((w.hi - w.lo) / 10) * 1e6) AS BIGINT)) AS BIGINT) AS est_fp
      FROM {width_hist} w CROSS JOIN preds p GROUP BY p.pred
    ),
    depth_est AS (
      SELECT p.pred,
             CAST(SUM(CAST(FLOOR(s.n / 10.0 * GREATEST(0.0,
               LEAST(p.b, span.u) - GREATEST(p.a, span.l))
               / NULLIF(span.u - span.l, 0) * 1e6) AS BIGINT)) AS BIGINT)
               AS est_fp
      FROM (
        SELECT COALESCE(LAG(v) OVER (ORDER BY idx), (SELECT lo FROM stats))
                 AS l,
               v AS u
        FROM (SELECT idx, v FROM {depth_bounds}
              UNION ALL
              SELECT 10, (SELECT hi FROM stats)) all_b
      ) span
      CROSS JOIN preds p CROSS JOIN stats s
      GROUP BY p.pred
    )
    SELECT t.pred, t.true_rows,
           CAST(we.est_fp DIV 1000000 AS BIGINT) AS width_estimate,
           CAST(de.est_fp DIV 1000000 AS BIGINT) AS depth_estimate,
           CASE WHEN t.true_rows > 0 THEN
             ROUND(ABS(CAST(we.est_fp AS DOUBLE) / 1e6 - t.true_rows)
                   / t.true_rows, 4) END AS width_rel_error,
           CASE WHEN t.true_rows > 0 THEN
             ROUND(ABS(CAST(de.est_fp AS DOUBLE) / 1e6 - t.true_rows)
                   / t.true_rows, 4) END AS depth_rel_error
    FROM truth t
    JOIN width_est we ON t.pred = we.pred
    JOIN depth_est de ON t.pred = de.pred
    ORDER BY t.pred""",
        stats=stats,
        width_hist=width_hist,
        depth_bounds=depth_bounds,
    )
