"""Wave 145 (x504–x506): the remaining causal-inference designs.

x504 — instrumental-variables (Wald/2SLS, one instrument): the
endogenous regressor is per-user event intensity, the outcome per-user
value sum, the instrument the x415 assignment bit (exogenous by
construction — a randomized encouragement design).
β_IV = cov(z,y)/cov(z,x) from DECIMAL-exact user-level moments, shown
against the (confounded) OLS slope — the contrast IS the method.

x505 — regression discontinuity: documents around the n_chars = 256
threshold (bandwidth 64) get local-linear fits on each side from exact
within-window moments; the RDD effect is the gap between the two
boundary intercepts, with the naive above-below mean difference
alongside (which bakes in the slope — the classic RDD mistake).

x506 — synthetic control (lite): symbol 0 is "treated" at day 15;
donor symbols are weighted by their 1e9-quantized pre-period return
correlation with the treated unit (non-negative, normalized — the
exact-arithmetic stand-in for the constrained regression), and the
effect is the post-period gap between treated returns and the
synthetic weighted donor average, with the pre-period gap as the
placebo check.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql

# -- x504: IV regression -----------------------------------------------------------------

_X504 = """
    WITH per_user AS (
      SELECT user_id,
             (((user_id * 2654435761) {intdiv} 1024) % 2) AS z,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    moms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(z) AS BIGINT) AS sz,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(z * CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS szx,
             CAST(SUM(z * CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS szy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM per_user
    )
    SELECT n AS n_users,
           ROUND(CAST(n * szx - sz * sx AS DOUBLE)
                 / CAST(n * sz - sz * sz AS DOUBLE), 6)
             AS first_stage_strength,
           CASE WHEN n * szx - sz * sx != 0 THEN
             ROUND(CAST(n * szy - sz * sy AS DOUBLE)
                   / CAST(n * szx - sz * sx AS DOUBLE) / 1e6, 9)
           END AS beta_iv,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6, 9) AS beta_ols
    FROM moms
"""

register_sql(
    "x504_iv_regression",
    spark_sql=_X504.format(intdiv="DIV"),
    duckdb_sql=_X504.format(intdiv="//"),
    tags=("experiment", "stats"),
)

# -- x505: regression discontinuity ---------------------------------------------------------

_X505 = """
    WITH win AS (
      SELECT CAST(n_chars AS BIGINT) - 256 AS run_var,
             CASE WHEN n_chars >= 256 THEN 1 ELSE 0 END AS above,
             CAST({ntok} AS BIGINT) AS y
      FROM documents
      WHERE n_chars BETWEEN 192 AND 320
    ),
    sides AS (
      SELECT above, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(run_var AS DECIMAL(18,0))) AS DECIMAL(38,0))
               AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(run_var AS DECIMAL(18,0)) * run_var)
                  AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(run_var AS DECIMAL(18,0)) * y)
                  AS DECIMAL(38,0)) AS sxy
      FROM win GROUP BY above
    ),
    fits AS (
      SELECT above, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n AS intercept_at_cutoff,
             CAST(sy AS DOUBLE) / n AS raw_mean
      FROM sides WHERE n * sxx - sx * sx > 0
    )
    SELECT CAST(above AS BIGINT) AS side_above, n,
           ROUND(slope, 6) AS local_slope,
           ROUND(intercept_at_cutoff, 6) AS boundary_value,
           ROUND(MAX(CASE WHEN above = 1 THEN intercept_at_cutoff END)
                   OVER ()
                 - MAX(CASE WHEN above = 0 THEN intercept_at_cutoff END)
                   OVER (), 6) AS rdd_effect,
           ROUND(MAX(CASE WHEN above = 1 THEN raw_mean END) OVER ()
                 - MAX(CASE WHEN above = 0 THEN raw_mean END) OVER (), 6)
             AS naive_mean_gap
    FROM fits ORDER BY side_above
"""

register_sql(
    "x505_regression_discontinuity",
    spark_sql=_X505.format(ntok="size(split(text, ' '))"),
    duckdb_sql=_X505.format(ntok="len(string_split(text, ' '))"),
    tags=("experiment", "stats"),
)

# -- x506: synthetic control ------------------------------------------------------------------

_X506 = """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey,
             {epoch} {intdiv} 86400 AS dkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    ),
    lastpx AS (
      SELECT sym, mkey, dkey, px FROM (
        SELECT sym, mkey, dkey, px,
               ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ticks
      ) t WHERE rn = 1
    ),
    d0 AS (SELECT MIN(dkey) AS d0 FROM lastpx),
    rets AS (
      SELECT l.sym, l.mkey, l.dkey - d.d0 AS rel_day,
             CAST(FLOOR(LN(CAST(l.px AS DOUBLE)
                           / CAST(LAG(l.px) OVER (PARTITION BY l.sym
                                                  ORDER BY l.mkey)
                                  AS DOUBLE)) * 1e9) AS BIGINT) AS r
      FROM lastpx l CROSS JOIN d0 d
    ),
    pre_pair AS (
      -- pre-period (rel_day < 15) correlation of each donor with sym 0
      SELECT b.sym AS donor, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(a.r AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(b.r AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(CAST(a.r AS DECIMAL(18,0)) * a.r) AS DECIMAL(38,0))
               AS s11,
             CAST(SUM(CAST(b.r AS DECIMAL(18,0)) * b.r) AS DECIMAL(38,0))
               AS s22,
             CAST(SUM(CAST(a.r AS DECIMAL(18,0)) * b.r) AS DECIMAL(38,0))
               AS s12
      FROM rets a JOIN rets b
        ON a.mkey = b.mkey AND a.sym = 0 AND b.sym != 0
      WHERE a.rel_day < 15 AND a.r IS NOT NULL AND b.r IS NOT NULL
      GROUP BY b.sym
    ),
    weights AS (
      -- non-negative 1e9-quantized correlations, normalized
      SELECT donor,
             GREATEST(0, CAST(FLOOR(
               CAST(n * s12 - s1 * s2 AS DOUBLE)
               / SQRT(CAST(n * s11 - s1 * s1 AS DOUBLE)
                      * CAST(n * s22 - s2 * s2 AS DOUBLE)) * 1e9)
               AS BIGINT)) AS w_fp
      FROM pre_pair
      WHERE n * s11 - s1 * s1 > 0 AND n * s22 - s2 * s2 > 0
    ),
    donor_daily AS (
      SELECT r.rel_day,
             CAST(SUM(w.w_fp * r.r) AS DECIMAL(38,0)) AS wsum,
             CAST(SUM(CAST(w.w_fp AS DECIMAL(18,0)) * 1) AS DECIMAL(38,0))
               AS wtot_rows,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM rets r JOIN weights w ON r.sym = w.donor
      WHERE r.r IS NOT NULL
      GROUP BY r.rel_day
    ),
    treated_daily AS (
      SELECT rel_day,
             CAST(SUM(r) AS BIGINT) AS tsum,
             CAST(COUNT(*) AS BIGINT) AS tn
      FROM rets WHERE sym = 0 AND r IS NOT NULL GROUP BY rel_day
    ),
    gaps AS (
      SELECT t.rel_day,
             CASE WHEN t.rel_day >= 15 THEN 1 ELSE 0 END AS post,
             CAST(FLOOR((CAST(t.tsum AS DOUBLE) / t.tn
                         - CAST(d.wsum AS DOUBLE) / CAST(d.wtot_rows
                                                         AS DOUBLE))
                        / 1e0) AS BIGINT) AS gap_fp
      FROM treated_daily t JOIN donor_daily d ON t.rel_day = d.rel_day
    )
    SELECT CAST(post AS BIGINT) AS is_post_period,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(gap_fp) AS DOUBLE) / COUNT(*) / 1e9, 9)
             AS mean_gap_treated_vs_synthetic
    FROM gaps GROUP BY post ORDER BY is_post_period
"""

def _x506_spark(spark, sf_dir):
    """r14 restructure (guide §2.4): the pure-SQL form re-inlined `rets`
    per reference — pre_pair reads it twice (donor and treated side of the
    correlation join), donor_daily and treated_daily once each — so the
    ticks scan + per-(sym, minute) last-price window ran 8 times (8 events
    scans, 56 exchanges).  Materializing lastpx (one row per sym-minute)
    and rets (same cardinality) as checkpointed DataFrames runs the events
    scan and the window ONCE; every downstream CTE is sym×minute-sized.
    All expressions are textually unchanged, so the DuckDB oracle
    (byte-identical) agrees row-for-row."""
    from aetherium_trader_datapipeline_spark.tables import load_tables

    load_tables(spark, sf_dir)
    lastpx = spark.sql(
        """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, unix_seconds(ts) DIV 60 AS mkey,
             unix_seconds(ts) DIV 86400 AS dkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    )
    SELECT sym, mkey, dkey, px FROM (
      SELECT sym, mkey, dkey, px,
             ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ticks
    ) t WHERE rn = 1"""
    ).localCheckpoint()
    rets = spark.sql(
        """
    WITH d0 AS (SELECT MIN(dkey) AS d0 FROM {lastpx})
    SELECT l.sym, l.mkey, l.dkey - d.d0 AS rel_day,
           CAST(FLOOR(LN(CAST(l.px AS DOUBLE)
                         / CAST(LAG(l.px) OVER (PARTITION BY l.sym
                                                ORDER BY l.mkey)
                                AS DOUBLE)) * 1e9) AS BIGINT) AS r
    FROM {lastpx} l CROSS JOIN d0 d""",
        lastpx=lastpx,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH pre_pair AS (
      SELECT b.sym AS donor, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(a.r AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(CAST(b.r AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2,
             CAST(SUM(CAST(a.r AS DECIMAL(18,0)) * a.r) AS DECIMAL(38,0))
               AS s11,
             CAST(SUM(CAST(b.r AS DECIMAL(18,0)) * b.r) AS DECIMAL(38,0))
               AS s22,
             CAST(SUM(CAST(a.r AS DECIMAL(18,0)) * b.r) AS DECIMAL(38,0))
               AS s12
      FROM {rets} a JOIN {rets} b
        ON a.mkey = b.mkey AND a.sym = 0 AND b.sym != 0
      WHERE a.rel_day < 15 AND a.r IS NOT NULL AND b.r IS NOT NULL
      GROUP BY b.sym
    ),
    weights AS (
      SELECT donor,
             GREATEST(0, CAST(FLOOR(
               CAST(n * s12 - s1 * s2 AS DOUBLE)
               / SQRT(CAST(n * s11 - s1 * s1 AS DOUBLE)
                      * CAST(n * s22 - s2 * s2 AS DOUBLE)) * 1e9)
               AS BIGINT)) AS w_fp
      FROM pre_pair
      WHERE n * s11 - s1 * s1 > 0 AND n * s22 - s2 * s2 > 0
    ),
    donor_daily AS (
      SELECT r.rel_day,
             CAST(SUM(w.w_fp * r.r) AS DECIMAL(38,0)) AS wsum,
             CAST(SUM(CAST(w.w_fp AS DECIMAL(18,0)) * 1) AS DECIMAL(38,0))
               AS wtot_rows,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM {rets} r JOIN weights w ON r.sym = w.donor
      WHERE r.r IS NOT NULL
      GROUP BY r.rel_day
    ),
    treated_daily AS (
      SELECT rel_day,
             CAST(SUM(r) AS BIGINT) AS tsum,
             CAST(COUNT(*) AS BIGINT) AS tn
      FROM {rets} WHERE sym = 0 AND r IS NOT NULL GROUP BY rel_day
    ),
    gaps AS (
      SELECT t.rel_day,
             CASE WHEN t.rel_day >= 15 THEN 1 ELSE 0 END AS post,
             CAST(FLOOR((CAST(t.tsum AS DOUBLE) / t.tn
                         - CAST(d.wsum AS DOUBLE) / CAST(d.wtot_rows
                                                         AS DOUBLE))
                        / 1e0) AS BIGINT) AS gap_fp
      FROM treated_daily t JOIN donor_daily d ON t.rel_day = d.rel_day
    )
    SELECT CAST(post AS BIGINT) AS is_post_period,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(gap_fp) AS DOUBLE) / COUNT(*) / 1e9, 9)
             AS mean_gap_treated_vs_synthetic
    FROM gaps GROUP BY post ORDER BY is_post_period""",
        rets=rets,
    )


register(
    "x506_synthetic_control",
    oracle=_X506.format(intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"),
    tags=("experiment", "finance"),
)(_x506_spark)
