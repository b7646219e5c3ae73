"""Wave 135 (x477–x479): predictive causality, change-point detection,
partial autocorrelation.

x477 — Granger causality on minute returns for every ordered symbol
pair: y_t(B) ~ α + β₁·y_{t−1}(B) + β₂·y_{t−1}(A); the 2-regressor
normal equations are solved in closed form from DECIMAL-exact moments,
and β₂'s t-statistic tests whether A's lagged return adds predictive
power beyond B's own history — the directional upgrade of x185's
symmetric lead–lag correlation.

x478 — single change point by binary segmentation: per symbol, the
split minute minimizing SSE_left + SSE_right over the cumulative
moment prefix (one window pass builds prefix Σr and Σr²; each split's
pooled SSE is one IEEE expression over those exact integers).  Reports
the argmin split, the means either side, and the variance-reduction
share — the offline complement to x217's sequential CUSUM.

x479 — partial autocorrelation at lag 2 via Durbin–Levinson:
φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²) from the same exact autocovariance moments
x327's ACF uses — the statistic that separates an AR(1) (φ₂₂ ≈ 0)
from higher-order dynamics.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

_RETS = """
    ticks AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    ),
    lastpx AS (
      SELECT sym, mkey, px FROM (
        SELECT sym, mkey, px,
               ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ticks
      ) t WHERE rn = 1
    ),
    rets AS (
      SELECT sym, mkey,
             CAST(FLOOR(LN(CAST(px AS DOUBLE)
                           / CAST(LAG(px) OVER (PARTITION BY sym
                                                ORDER BY mkey) AS DOUBLE))
                        * 1e9) AS BIGINT) AS r
      FROM lastpx
    )
"""

# -- x477: Granger causality -----------------------------------------------------------

_X477 = (
    "WITH " + _RETS + """,
    lagged AS (
      SELECT sym, mkey, r,
             LAG(r) OVER (PARTITION BY sym ORDER BY mkey) AS r_own_lag
      FROM rets WHERE r IS NOT NULL
    ),
    paired AS (
      -- y: B's return; x1: B's own lag; x2: A's lag (cross), aligned
      -- on the minute key
      SELECT b.sym AS sb, a.sym AS sa, b.r AS y,
             b.r_own_lag AS x1, a.r_own_lag AS x2
      FROM lagged b JOIN lagged a
        ON a.mkey = b.mkey AND a.sym != b.sym
      WHERE b.r_own_lag IS NOT NULL AND a.r_own_lag IS NOT NULL
    ),
    moms AS (
      SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(x2 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0)) * x1) AS DECIMAL(38,0))
               AS s11,
             CAST(SUM(CAST(x2 AS DECIMAL(18,0)) * x2) AS DECIMAL(38,0))
               AS s22,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0)) * x2) AS DECIMAL(38,0))
               AS s12,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0)) * y) AS DECIMAL(38,0))
               AS s1y,
             CAST(SUM(CAST(x2 AS DECIMAL(18,0)) * y) AS DECIMAL(38,0))
               AS s2y,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM paired GROUP BY sa, sb
    ),
    centered AS (
      -- centered cross-products as doubles from exact moments
      SELECT sa, sb, n,
             CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
             CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
             CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
             CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
             CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy
      FROM moms WHERE n > 30
    ),
    fit AS (
      SELECT sa, sb, n, c22, c11, c12, cyy, c1y, c2y,
             c11 * c22 - c12 * c12 AS det,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM centered WHERE c11 * c22 - c12 * c12 > 0
    ),
    tstat AS (
      -- SSR/n = (cyy - b1*c1y - b2*c2y)/n²; Var(b2) = s²·n·c11/det
      SELECT sa, sb, n, b2,
             (cyy - b1 * c1y - b2 * c2y) / n / (n - 3) AS s2_scaled,
             c11, det
      FROM fit
    )
    SELECT CAST(sa AS BIGINT) AS cause_sym, CAST(sb AS BIGINT) AS effect_sym,
           n,
           ROUND(b2, 8) AS beta_cross,
           CASE WHEN s2_scaled > 0 THEN
             ROUND(b2 / SQRT(s2_scaled * n * c11 / det), 4)
           END AS t_cross,
           CASE WHEN s2_scaled > 0
                 AND ABS(b2 / SQRT(s2_scaled * n * c11 / det)) > 1.96
                THEN 1 ELSE 0 END AS granger_5pct
    FROM tstat ORDER BY cause_sym, effect_sym
"""
)

@register(
    "x477_granger_causality",
    oracle=_X477.format(intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"),
    tags=("finance", "stats"),
)
def x477_granger_causality(spark, sf_dir):
    """r14 restructure (guide §2.4/§2.3): `lagged` was re-expanded by
    both sides of the `paired` self-join, re-running the whole rets
    chain (events scan + two window sorts) per side.  Changes, oracle
    untouched: lastpx = MAX_BY(px, struct(ts, event_id)) — identical
    winner, event_id unique — and `lagged` checkpointed once; the
    two-regressor OLS tail reads the checkpoint twice."""
    load_tables(spark, sf_dir)
    lagged = spark.sql(
        """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, unix_seconds(ts) DIV 60 AS mkey, ts,
             event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    ),
    lastpx AS (
      SELECT sym, mkey,
             MAX_BY(px, named_struct('ts', ts, 'event_id', event_id)) AS px
      FROM ticks GROUP BY sym, mkey
    ),
    rets AS (
      SELECT sym, mkey,
             CAST(FLOOR(LN(CAST(px AS DOUBLE)
                           / CAST(LAG(px) OVER (PARTITION BY sym
                                                ORDER BY mkey) AS DOUBLE))
                        * 1e9) AS BIGINT) AS r
      FROM lastpx
    )
    SELECT sym, mkey, r,
           LAG(r) OVER (PARTITION BY sym ORDER BY mkey) AS r_own_lag
    FROM rets WHERE r IS NOT NULL"""
    ).localCheckpoint()
    return spark.sql(
        """
    WITH paired AS (
      SELECT b.sym AS sb, a.sym AS sa, b.r AS y,
             b.r_own_lag AS x1, a.r_own_lag AS x2
      FROM {lagged} b JOIN {lagged} a
        ON a.mkey = b.mkey AND a.sym != b.sym
      WHERE b.r_own_lag IS NOT NULL AND a.r_own_lag IS NOT NULL
    ),
    moms AS (
      SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(x2 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0)) * x1) AS DECIMAL(38,0))
               AS s11,
             CAST(SUM(CAST(x2 AS DECIMAL(18,0)) * x2) AS DECIMAL(38,0))
               AS s22,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0)) * x2) AS DECIMAL(38,0))
               AS s12,
             CAST(SUM(CAST(x1 AS DECIMAL(18,0)) * y) AS DECIMAL(38,0))
               AS s1y,
             CAST(SUM(CAST(x2 AS DECIMAL(18,0)) * y) AS DECIMAL(38,0))
               AS s2y,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM paired GROUP BY sa, sb
    ),
    centered AS (
      SELECT sa, sb, n,
             CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
             CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
             CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
             CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
             CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy
      FROM moms WHERE n > 30
    ),
    fit AS (
      SELECT sa, sb, n, c22, c11, c12, cyy, c1y, c2y,
             c11 * c22 - c12 * c12 AS det,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM centered WHERE c11 * c22 - c12 * c12 > 0
    ),
    tstat AS (
      SELECT sa, sb, n, b2,
             (cyy - b1 * c1y - b2 * c2y) / n / (n - 3) AS s2_scaled,
             c11, det
      FROM fit
    )
    SELECT CAST(sa AS BIGINT) AS cause_sym, CAST(sb AS BIGINT) AS effect_sym,
           n,
           ROUND(b2, 8) AS beta_cross,
           CASE WHEN s2_scaled > 0 THEN
             ROUND(b2 / SQRT(s2_scaled * n * c11 / det), 4)
           END AS t_cross,
           CASE WHEN s2_scaled > 0
                 AND ABS(b2 / SQRT(s2_scaled * n * c11 / det)) > 1.96
                THEN 1 ELSE 0 END AS granger_5pct
    FROM tstat ORDER BY cause_sym, effect_sym""",
        lagged=lagged,
    )

# -- x478: binary-segmentation change point -----------------------------------------------

_X478 = (
    "WITH " + _RETS + """,
    seq AS (
      SELECT sym, r,
             ROW_NUMBER() OVER (PARTITION BY sym ORDER BY mkey) AS i,
             COUNT(*) OVER (PARTITION BY sym) AS n,
             SUM(r) OVER (PARTITION BY sym ORDER BY mkey) AS ps,
             SUM(CAST(r AS DECIMAL(18,0)) * r)
               OVER (PARTITION BY sym ORDER BY mkey) AS pss,
             SUM(r) OVER (PARTITION BY sym) AS ts_,
             SUM(CAST(r AS DECIMAL(18,0)) * r) OVER (PARTITION BY sym)
               AS tss
      FROM rets WHERE r IS NOT NULL
    ),
    scored AS (
      -- pooled SSE if split after position i: SSE_L + SSE_R from exact
      -- prefix moments, one IEEE expression, 1e-3-scaled and floored so
      -- the argmin comparison is integer
      SELECT sym, i, n, ps, ts_,
             CAST(FLOOR((CAST(pss AS DOUBLE)
                         - CAST(ps AS DOUBLE) * ps / i
                         + CAST(tss - pss AS DOUBLE)
                         - CAST(ts_ - ps AS DOUBLE) * (ts_ - ps) / (n - i))
                        / 1e3) AS BIGINT) AS sse_fp
      FROM seq WHERE i >= 30 AND i <= n - 30
    ),
    best AS (
      SELECT sym, i, n, ps, ts_, sse_fp,
             ROW_NUMBER() OVER (PARTITION BY sym
                                ORDER BY sse_fp, i) AS rk,
             MIN(sse_fp) OVER (PARTITION BY sym) AS best_sse
      FROM scored
    ),
    tot AS (
      SELECT sym,
             CAST(MAX(tss) AS DECIMAL(38,0)) AS tss,
             CAST(MAX(ts_) AS BIGINT) AS ts_,
             CAST(MAX(n) AS BIGINT) AS n
      FROM seq GROUP BY sym
    )
    SELECT CAST(b.sym AS BIGINT) AS sym,
           CAST(b.i AS BIGINT) AS split_at,
           CAST(b.n AS BIGINT) AS n,
           ROUND(CAST(b.ps AS DOUBLE) / b.i / 1e9, 9) AS mean_before,
           ROUND(CAST(b.ts_ - b.ps AS DOUBLE) / (b.n - b.i) / 1e9, 9)
             AS mean_after,
           CASE WHEN CAST(t.tss AS DOUBLE)
                     - CAST(t.ts_ AS DOUBLE) * t.ts_ / t.n > 0 THEN
             ROUND(1 - (b.sse_fp * 1e3)
                       / (CAST(t.tss AS DOUBLE)
                          - CAST(t.ts_ AS DOUBLE) * t.ts_ / t.n), 6)
           END AS variance_reduction
    FROM best b JOIN tot t ON b.sym = t.sym
    WHERE b.rk = 1 ORDER BY sym
"""
)

register_sql(
    "x478_changepoint_binseg",
    spark_sql=_X478.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X478.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("finance", "stats"),
)

# -- x479: PACF lag 2 -----------------------------------------------------------------------

_X479 = (
    "WITH " + _RETS + """,
    lagged AS (
      SELECT sym, r,
             LAG(r, 1) OVER (PARTITION BY sym ORDER BY mkey) AS r1,
             LAG(r, 2) OVER (PARTITION BY sym ORDER BY mkey) AS r2
      FROM rets WHERE r IS NOT NULL
    ),
    moms AS (
      SELECT sym, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(r AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s0,
             CAST(SUM(CAST(r1 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sl1,
             CAST(SUM(CAST(r2 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sl2,
             CAST(SUM(CAST(r AS DECIMAL(18,0)) * r) AS DECIMAL(38,0)) AS s00,
             CAST(SUM(CAST(r AS DECIMAL(18,0)) * r1) AS DECIMAL(38,0))
               AS s01,
             CAST(SUM(CAST(r AS DECIMAL(18,0)) * r2) AS DECIMAL(38,0))
               AS s02,
             CAST(SUM(CAST(r1 AS DECIMAL(18,0)) * r1) AS DECIMAL(38,0))
               AS s11
      FROM lagged WHERE r1 IS NOT NULL AND r2 IS NOT NULL GROUP BY sym
    ),
    rhos AS (
      -- per-lag correlations over the common sample (the x378 lesson:
      -- demean with the common-sample means)
      SELECT sym, n,
             CAST(n * s01 - s0 * sl1 AS DOUBLE)
               / SQRT(CAST(n * s00 - s0 * s0 AS DOUBLE)
                      * CAST(n * s11 - sl1 * sl1 AS DOUBLE)) AS rho1,
             CAST(n * s02 - s0 * sl2 AS DOUBLE)
               / CAST(n * s00 - s0 * s0 AS DOUBLE) AS rho2
      FROM moms
      WHERE n * s00 - s0 * s0 > 0 AND n * s11 - sl1 * sl1 > 0
    )
    SELECT CAST(sym AS BIGINT) AS sym, n,
           ROUND(rho1, 6) AS acf1,
           ROUND(rho2, 6) AS acf2,
           CASE WHEN 1 - rho1 * rho1 > 0 THEN
             ROUND((rho2 - rho1 * rho1) / (1 - rho1 * rho1), 6)
           END AS pacf2,
           CASE WHEN 1 - rho1 * rho1 > 0
                 AND ABS((rho2 - rho1 * rho1) / (1 - rho1 * rho1))
                     > 1.96 / SQRT(CAST(n AS DOUBLE))
                THEN 1 ELSE 0 END AS beyond_ar1_5pct
    FROM rhos ORDER BY sym
"""
)

register_sql(
    "x479_pacf",
    spark_sql=_X479.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X479.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("finance", "stats"),
)
