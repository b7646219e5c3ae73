"""Wave 114 (x415–x417): experimentation & causal measurement.

The A/B tooling x218/x358 started, completed with the three checks every
experimentation platform runs at scale:

x415 — CUPED variance reduction (Deng et al. 2013): per-user pre-period
covariate X (1e6-quantized value sums on even epoch-days) against the
post-period metric Y (odd days); θ = cov(X,Y)/var(X) from DECIMAL-exact
pooled moments, adjusted metric Y − θ(X − mean X) re-quantized per user
before the per-arm roll-up, so arm means AND the realized variance-
reduction ratio are engine-exact.  Arms come from bit 10 of a
multiplicative hash (low-bit parity of a linear hash is degenerate).

x416 — sample-ratio-mismatch guardrail: per event_type, a 1-df chi-square
(a−b)²/(a+b) on a healthy 50/50 hash split AND on a deliberately skewed
48/52 split of the same traffic — the paired columns show the detector
firing on the bad bucketing while the healthy split stays quiet.

x417 — event-study CAR: per-symbol abnormal minute returns (own return
minus the cross-sectional per-minute mean, both 1e12-quantized before
any cross-row sum) band-joined to 'error'-event minutes over the
[−2, +5] relative window; per-(sym, offset) mean AR and the cumulative
abnormal return use integer division so the CAR accumulation stays in
BIGINT.  The band join is |event minutes| × 8 — linear, never a cross
join.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x415: CUPED ---------------------------------------------------------------

_X415 = """
    WITH per_user AS (
      SELECT user_id,
             (((user_id * 2654435761) {intdiv} 1024) % 2) AS arm,
             CAST(SUM(CASE WHEN ({epoch} {intdiv} 86400) % 2 = 0
                           THEN CAST(FLOOR(value * 1e6) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ({epoch} {intdiv} 86400) % 2 = 1
                           THEN CAST(FLOOR(value * 1e6) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id
    ),
    moms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM per_user
    ),
    adj AS (
      SELECT u.arm, u.y,
             CAST(FLOOR(u.y - (CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                               / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
                              * (u.x - CAST(m.sx AS DOUBLE) / m.n))
                  AS BIGINT) AS y_adj
      FROM per_user u CROSS JOIN moms m
    ),
    armstats AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(y_adj AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sa,
             CAST(SUM(CAST(y_adj AS DECIMAL(18,0)) * y_adj) AS DECIMAL(38,0))
               AS saa
      FROM adj GROUP BY arm
    )
    SELECT CAST(arm AS BIGINT) AS arm, n_users,
           ROUND(CAST(sy AS DOUBLE) / n_users / 1e6, 6) AS mean_y,
           ROUND(CAST(sa AS DOUBLE) / n_users / 1e6, 6) AS mean_y_adj,
           ROUND((CAST(saa AS DOUBLE) / n_users
                  - (CAST(sa AS DOUBLE) / n_users)
                    * (CAST(sa AS DOUBLE) / n_users))
                 / (CAST(syy AS DOUBLE) / n_users
                    - (CAST(sy AS DOUBLE) / n_users)
                      * (CAST(sy AS DOUBLE) / n_users)), 6)
             AS var_reduction_ratio
    FROM armstats ORDER BY arm
"""

register_sql(
    "x415_cuped_adjustment",
    spark_sql=_X415.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X415.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("experiment", "stats"),
)

# -- x416: sample-ratio mismatch ------------------------------------------------

_X416 = """
    WITH assigned AS (
      SELECT event_type,
             (((event_id * 2654435761) {intdiv} 1024) % 2) AS arm_ok,
             CASE WHEN ((event_id * 2654435761) {intdiv} 1024) % 100 < 48
                  THEN 0 ELSE 1 END AS arm_skew
      FROM events
    ),
    counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm_ok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_ok,
             CAST(SUM(CASE WHEN arm_ok = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_ok,
             CAST(SUM(CASE WHEN arm_skew = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS a_skew,
             CAST(SUM(CASE WHEN arm_skew = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS b_skew
      FROM assigned GROUP BY event_type
    )
    SELECT event_type, a_ok, b_ok,
           ROUND(POWER(CAST(a_ok - b_ok AS DOUBLE), 2) / (a_ok + b_ok), 6)
             AS chi2_ok,
           CASE WHEN POWER(CAST(a_ok - b_ok AS DOUBLE), 2) / (a_ok + b_ok)
                     > 3.841 THEN 1 ELSE 0 END AS srm_flag_ok,
           a_skew, b_skew,
           ROUND(POWER(CAST(a_skew - b_skew AS DOUBLE), 2) / (a_skew + b_skew),
                 6) AS chi2_skew,
           CASE WHEN POWER(CAST(a_skew - b_skew AS DOUBLE), 2)
                     / (a_skew + b_skew) > 3.841 THEN 1 ELSE 0 END
             AS srm_flag_skew
    FROM counts ORDER BY event_type
"""

register_sql(
    "x416_srm_check",
    spark_sql=_X416.format(intdiv="DIV"),
    duckdb_sql=_X416.format(intdiv="//"),
    tags=("experiment", "stats"),
)

# -- x417: event-study cumulative abnormal return -------------------------------

_X417 = """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    ),
    last_px AS (
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
                        * 1e12) AS BIGINT) AS r_fp
      FROM last_px
    ),
    abnormal AS (
      -- own return minus the cross-sectional per-minute mean; ONE IEEE
      -- expression over exact integers, re-floored so CAR sums stay BIGINT
      SELECT sym, mkey,
             CAST(FLOOR(CAST(r_fp AS DOUBLE)
                        - CAST(SUM(r_fp) OVER (PARTITION BY mkey) AS DOUBLE)
                          / COUNT(r_fp) OVER (PARTITION BY mkey))
                  AS BIGINT) AS ar_fp
      FROM rets WHERE r_fp IS NOT NULL
    ),
    news AS (
      SELECT DISTINCT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey
      FROM events WHERE event_type = 'error'
    ),
    window_obs AS (
      SELECT a.sym, a.mkey - n.mkey AS rel, a.ar_fp
      FROM abnormal a JOIN news n
        ON a.sym = n.sym AND a.mkey BETWEEN n.mkey - 2 AND n.mkey + 5
    ),
    per_rel AS (
      SELECT sym, rel,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(ar_fp) {intdiv} COUNT(*) AS BIGINT) AS mean_ar_fp
      FROM window_obs GROUP BY sym, rel
    )
    SELECT CAST(sym AS BIGINT) AS sym, CAST(rel AS BIGINT) AS rel_minute,
           n_obs,
           ROUND(mean_ar_fp / 1e12, 9) AS mean_abnormal_ret,
           ROUND(CAST(SUM(mean_ar_fp)
                      OVER (PARTITION BY sym ORDER BY rel) AS DOUBLE)
                 / 1e12, 9) AS car
    FROM per_rel ORDER BY sym, rel_minute
"""

@register(
    "x417_event_study_car",
    oracle=_X417.format(intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"),
    tags=("finance", "experiment"),
)
def x417_event_study_car(spark, sf_dir):
    """r14 (guide §2.3/§2.2): the chain is linear (no dup scans); the two
    walls were (1) the per-(sym, mkey) last-price ROW_NUMBER window —
    a full sort of the tick stream — and (2) the [-2,+5] band join, which
    Spark executes as a sym-only equi-join with a range filter (|abnormal|
    x |news|/10 comparisons per symbol).  (1) becomes MAX_BY(px,
    struct(ts, event_id)) — a partial-aggregating hash agg; identical
    winner because rn = 1 picks the max (ts, event_id) and event_id is
    unique.  (2) becomes an 8-offset probe explode + equi-join on (sym,
    mkey = news.mkey + d), d in -2..5 — exactly the inclusive integer
    band.  DuckDB oracle textually unchanged."""
    load_tables(spark, sf_dir)
    last_px = spark.sql(
        """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, unix_seconds(ts) DIV 60 AS mkey, ts,
             event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    )
    SELECT sym, mkey,
           MAX_BY(px, named_struct('ts', ts, 'event_id', event_id)) AS px
    FROM ticks GROUP BY sym, mkey"""
    ).localCheckpoint()
    return spark.sql(
        """
    WITH last_px AS (SELECT sym, mkey, px FROM {last_px}),
    rets AS (
      SELECT sym, mkey,
             CAST(FLOOR(LN(CAST(px AS DOUBLE)
                           / CAST(LAG(px) OVER (PARTITION BY sym
                                                ORDER BY mkey) AS DOUBLE))
                        * 1e12) AS BIGINT) AS r_fp
      FROM last_px
    ),
    abnormal AS (
      SELECT sym, mkey,
             CAST(FLOOR(CAST(r_fp AS DOUBLE)
                        - CAST(SUM(r_fp) OVER (PARTITION BY mkey) AS DOUBLE)
                          / COUNT(r_fp) OVER (PARTITION BY mkey))
                  AS BIGINT) AS ar_fp
      FROM rets WHERE r_fp IS NOT NULL
    ),
    news AS (
      SELECT DISTINCT user_id % 10 AS sym, unix_seconds(ts) DIV 60 AS mkey
      FROM events WHERE event_type = 'error'
    ),
    probes AS (
      SELECT sym, mkey, mkey + d AS pkey
      FROM news LATERAL VIEW explode(sequence(-2, 5)) t AS d
    ),
    window_obs AS (
      SELECT a.sym, a.mkey - n.mkey AS rel, a.ar_fp
      FROM abnormal a JOIN probes n
        ON a.sym = n.sym AND a.mkey = n.pkey
    ),
    per_rel AS (
      SELECT sym, rel,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(ar_fp) DIV COUNT(*) AS BIGINT) AS mean_ar_fp
      FROM window_obs GROUP BY sym, rel
    )
    SELECT CAST(sym AS BIGINT) AS sym, CAST(rel AS BIGINT) AS rel_minute,
           n_obs,
           ROUND(mean_ar_fp / 1e12, 9) AS mean_abnormal_ret,
           ROUND(CAST(SUM(mean_ar_fp)
                      OVER (PARTITION BY sym ORDER BY rel) AS DOUBLE)
                 / 1e12, 9) AS car
    FROM per_rel ORDER BY sym, rel_minute""",
        last_px=last_px,
    )
