"""Nineteenth extension wave — product-analytics shapes over the events
stream plus one embedding-algebra pass. All DuckDB hash-verified.

- x162 gram matrix: X^T·X over the embedding column in ONE pass —
  posexplode to (vec_id, dim, value), self-join per vector, partial-agg
  per (di, dj). The map-side combine means executors ship only dim²
  partial sums, never rows; this is how covariance/PCA inputs are built
  at 100 TB. Float products are cast per-term to DECIMAL so the sums are
  engine-exact (repo float policy).
- x163 event funnel: ordered view → click → purchase conversion with
  strictly-later timestamps per stage — three keyed MIN aggregations
  chained by joins (no window state); the classic funnel plan.
- x164 retention cohorts: users bucketed by first-seen date, activity
  counted per (cohort, week-offset) — the triangle matrix every growth
  dashboard renders.
- x165 event transitions: first-order Markov transition counts + row-
  normalized probabilities via LAG over (user, time).

Reference parity: the reference's analytics surface stops at K-bars and
replay (docs/…系統設計文件.md:69-112); these are the adjacent event-stream
queries its users run downstream, expressed in the same registry/oracle
contract.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x162: one-pass gram matrix (X^T X) over embeddings ---------------------
#
# The (di ≤ dj) triangle keeps output at d(d+1)/2 rows. The per-vector
# dim×dim fan-out happens inside a partition (posexplode + equi-join on
# vec_id re-uses one exchange); the groupBy(di, dj) then partial-aggs to
# 4096 cells per task before the single tiny shuffle. Per-term
# double-product → DECIMAL(38,18) cast makes the SUM order-independent.

# r14: the per-vector dim×dim fan-out (|V|·d(d+1)/2 product rows with
# DECIMAL(38,18) partial sums) exploded out of a single-row-group scan,
# so the whole join+aggregate ran as ONE task (AQE sizes exchanges by
# input bytes, which are a few MB) — the Spark side now feeds the
# self-join from a cores-derived repartition of embeddings: 5.2 s →
# 1.0–1.4 s at sf0.1 on local[32].  Oracle text unchanged.
_X162_SPARK = """
    WITH e AS (
      SELECT vec_id, i, CAST(v AS DOUBLE) AS v FROM {emb_rep}
      LATERAL VIEW posexplode(embedding) t AS i, v)
    SELECT a.i AS di, b.i AS dj,
           ROUND(CAST(CAST(ROUND(SUM(CAST(a.v * b.v AS DECIMAL(38,18))), 6) AS DECIMAL(38,6)) AS DOUBLE), 6) AS dot
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i ORDER BY di, dj LIMIT 600
"""

_X162_DUCK = """
    WITH e AS (
      SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v FROM (
        SELECT vec_id, embedding FROM embeddings) d,
      LATERAL unnest(generate_series(1, len(embedding))) AS t(i))
    SELECT a.i AS di, b.i AS dj,
           ROUND(CAST(CAST(ROUND(SUM(CAST(a.v * b.v AS DECIMAL(38,18))), 6) AS DECIMAL(38,6)) AS DOUBLE), 6) AS dot
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i ORDER BY di, dj LIMIT 600
"""


@register("x162_gram_matrix", oracle=_X162_DUCK, tags=("similarity", "stats", "llm"))
def x162_gram_matrix(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p = spark.sparkContext.defaultParallelism * 2
    return spark.sql(_X162_SPARK, emb_rep=t["embeddings"].repartition(p))

# -- x163: ordered conversion funnel ----------------------------------------
#
# Stage k is "first event of type k strictly after the user's stage-k−1
# time". r13: the Spark side computes all three stage times in ONE pass —
# one scan with the 3-type IN filter pushed down, one exchange on user_id,
# three chained MIN-over-user-partition windows (t1's CASE reads t0, t2's
# reads t1; `ts > NULL` is NULL so a missing earlier stage nulls the later
# ones exactly like the inner joins did), then a per-user collapse and one
# scalar aggregate. The original CTE-chained join form (kept as the DuckDB
# oracle) re-ran the events scan + v/c subtrees per reference — the plan
# showed 6 parquet scans and 11 exchanges (guide §2.4); after: 1 scan,
# 2 exchanges. COUNT(t_k) counts exactly the v/c/p user sets: t0 non-null
# iff the user has a view; t1 non-null iff some click lands strictly after
# t0; t2 likewise after t1.

register_sql(
    "x163_event_funnel",
    headline=True,
    spark_sql="""
    WITH e AS (
      SELECT user_id, event_type, ts FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    s0 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t0
      FROM e),
    s1 AS (
      SELECT user_id, event_type, ts, t0,
             MIN(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM s0),
    s2 AS (
      SELECT user_id, t0, t1,
             MIN(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
      FROM s1),
    u AS (
      SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1, MIN(t2) AS t2
      FROM s2 GROUP BY user_id)
    SELECT COUNT(t0) AS n_view,
           COUNT(t1) AS n_click,
           COUNT(t2) AS n_purchase,
           ROUND(COUNT(t1) / CAST(COUNT(t0) AS DOUBLE), 4) AS view_to_click,
           ROUND(COUNT(t2) / CAST(COUNT(t0) AS DOUBLE), 4) AS view_to_purchase
    FROM u
    """,
    duckdb_sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT COUNT(v.user_id) AS n_view,
           COUNT(c.user_id) AS n_click,
           COUNT(p.user_id) AS n_purchase,
           ROUND(COUNT(c.user_id) / CAST(COUNT(v.user_id) AS DOUBLE), 4) AS view_to_click,
           ROUND(COUNT(p.user_id) / CAST(COUNT(v.user_id) AS DOUBLE), 4) AS view_to_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    tags=("analytics", "join", "agg"),
)

# -- x164: retention cohort matrix ------------------------------------------
#
# cohort = user's first active date; each activity row lands in a
# (cohort, floor(days/7)) cell. Two shuffles total (first-seen groupBy,
# cell groupBy) and the first-seen table is user-count sized → broadcast.

register_sql(
    "x164_retention_cohorts",
    spark_sql="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id)
    SELECT f.d0 AS cohort_date,
           CAST(FLOOR(datediff(CAST(e.ts AS DATE), f.d0) / 7) AS INT) AS week_n,
           COUNT(DISTINCT e.user_id) AS active_users,
           COUNT(*) AS events
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY f.d0, FLOOR(datediff(CAST(e.ts AS DATE), f.d0) / 7)
    ORDER BY cohort_date, week_n LIMIT 400
    """,
    duckdb_sql="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id)
    SELECT f.d0 AS cohort_date,
           CAST(FLOOR(date_diff('day', f.d0, CAST(e.ts AS DATE)) / 7) AS INT) AS week_n,
           COUNT(DISTINCT e.user_id) AS active_users,
           COUNT(*) AS events
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY f.d0, FLOOR(date_diff('day', f.d0, CAST(e.ts AS DATE)) / 7)
    ORDER BY cohort_date, week_n LIMIT 400
    """,
    tags=("analytics", "agg", "date"),
)

# -- x165: first-order event-transition matrix ------------------------------
#
# LAG over (user, time) then a count per (prev, next) pair — one shuffle
# for the window, one tiny agg; the row-normalized probability is
# per-row double math over exact counts.

register_sql(
    "x165_event_transitions",
    spark_sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS p
    FROM c ORDER BY prev_type, next_type
    """,
    duckdb_sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS p
    FROM c ORDER BY prev_type, next_type
    """,
    tags=("analytics", "window", "agg"),
)
