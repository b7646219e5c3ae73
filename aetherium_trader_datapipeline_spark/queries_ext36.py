"""Thirty-sixth extension wave — customer analytics and graph peeling:

x209 attribution      first-touch / last-touch channel attribution per
                      converting user (conversion = purchase; channel =
                      the event_type of the touch) in one window pass
x210 rfm              RFM segmentation: recency/frequency/monetary
                      quintiles per user via ntile, segment counts
x211 log histogram    log2-bucketed value histogram with bucket-boundary
                      p99 — the HDR-histogram pattern: fixed bucket count
                      regardless of data size, mergeable counts
x212 kcore            3-round k-core peeling (k=4) over the trade graph —
                      each round drops nodes with residual degree < k;
                      unrolled rounds keep both plans finite and identical

Scale shapes: x209/x210 are one window/groupBy pass keyed by user. x211
reduces the stream to <=64 bucket rows before any ordering — the sketch
posture (exact, because bucket floors are integer log2 arithmetic).
x212's rounds are degree-filter semi-joins: edges shrink monotonically,
and 3 unrolled rounds bound the plan like x172's BSP loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x209: first/last-touch attribution -------------------------------------
# Converting users = those with a purchase. Touches = events strictly
# before the FIRST purchase. MIN_BY/MAX_BY pick the touch by (ts,
# event_id) total order — deterministic under ties.

_X209_BODY = """
    WITH conv AS (
      SELECT user_id, MIN(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE e.ts < c.conv_ts
    ),
    att AS (
      SELECT user_id,
             MIN_BY(event_type, ts) AS first_touch,
             MAX_BY(event_type, ts) AS last_touch
      FROM touches GROUP BY user_id
    )
    SELECT first_touch, last_touch, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM att GROUP BY first_touch, last_touch
    ORDER BY n_users DESC, first_touch, last_touch
"""

_X209_DUCK = _X209_BODY.replace("MIN_BY(event_type, ts)", "arg_min(event_type, ts)").replace(
    "MAX_BY(event_type, ts)", "arg_max(event_type, ts)"
)

register_sql(
    "x209_attribution",
    spark_sql=_X209_BODY,
    duckdb_sql=_X209_DUCK,
    tags=("analytics", "window"),
)

# -- x210: RFM segmentation --------------------------------------------------
# Recency anchor is the in-data max ts (no wall clock — deterministic).
# Quintiles over (metric, user_id) total order, engine-identical: exact
# NTILE(5) reconstructed from global ranks computed scale-safely via
# value-range chunking (r11, x198/x238 family) — the r10-era triple
# NTILE(5) window single-partition-sorted the whole per-user relation
# three times (the x442 class).  Per metric: <=1000 monotone chunks,
# partitioned rank windows, prefix offsets over the chunk grid, then the
# x222 NTILE closed form (first n%5 quintiles hold n/5+1 rows).


def _x210_chunk(tag: str, metric: str, desc: bool) -> str:
    diff = f"b{tag}.hi - t.{metric}" if desc else f"t.{metric} - b{tag}.lo"
    return f"""
    b{tag} AS (SELECT MIN({metric}) AS lo, MAX({metric}) AS hi FROM rfm),
    c{tag} AS (
      SELECT t.user_id, t.{metric},
             CASE WHEN b{tag}.hi = b{tag}.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR(CAST({diff} AS DOUBLE) * 1000
                                  / CAST(b{tag}.hi - b{tag}.lo AS DOUBLE))
                                  AS BIGINT), CAST(999 AS BIGINT)) END AS ck
      FROM rfm t CROSS JOIN b{tag}
    )"""


def _x210_quintile(tag: str, metric: str, desc: bool, intdiv: str) -> str:
    order = f"{metric} DESC, user_id" if desc else f"{metric}, user_id"
    rk = "(o.off + w.r_in)"
    return f"""
    {_x210_chunk(tag, metric, desc).lstrip()},
    w{tag} AS (
      SELECT user_id, ck,
             ROW_NUMBER() OVER (PARTITION BY ck ORDER BY {order}) AS r_in
      FROM c{tag}
    ),
    g{tag} AS (
      SELECT ck, COALESCE(SUM(c) OVER (ORDER BY ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c
            FROM c{tag} GROUP BY ck)
    ),
    s{tag} AS (
      SELECT w.user_id,
             CASE WHEN nn.n {intdiv} 5 = 0 THEN {rk}
                  WHEN {rk} <= (nn.n % 5) * (nn.n {intdiv} 5 + 1)
                    THEN ({rk} + nn.n {intdiv} 5)
                         {intdiv} (nn.n {intdiv} 5 + 1)
                  ELSE nn.n % 5
                       + ({rk} - (nn.n % 5) * (nn.n {intdiv} 5 + 1)
                          + nn.n {intdiv} 5 - 1) {intdiv} (nn.n {intdiv} 5)
             END AS score
      FROM w{tag} w JOIN g{tag} o ON w.ck = o.ck CROSS JOIN nn
    )"""


def _x210_rfm_cte(daydiff: str) -> str:
    return f"""anchor AS (SELECT MAX(ts) AS mx FROM events),
    rfm AS (
      SELECT e.user_id,
             CAST({daydiff} AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(ROUND(e.value, 2) AS DECIMAL(18,2))) AS monetary
      FROM events e CROSS JOIN anchor a
      GROUP BY e.user_id, a.mx
    )"""


def _x210_sql(rfm_cte: str, intdiv: str) -> str:
    return f"""
    WITH {rfm_cte},
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rfm),
    {_x210_quintile("r", "recency_days", True, intdiv)},
    {_x210_quintile("f", "frequency", False, intdiv)},
    {_x210_quintile("m", "monetary", False, intdiv)},
    scored AS (
      SELECT sr.user_id,
             CAST(sr.score AS BIGINT) AS r_score,
             CAST(sf.score AS BIGINT) AS f_score,
             CAST(sm.score AS BIGINT) AS m_score
      FROM sr JOIN sf ON sr.user_id = sf.user_id
              JOIN sm ON sr.user_id = sm.user_id
    )
    SELECT r_score, f_score, m_score, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
"""


@register(
    "x210_rfm",
    oracle=_x210_sql(
        _x210_rfm_cte(
            "datediff('day', CAST(MAX(e.ts) AS DATE), CAST(a.mx AS DATE))"
        ),
        "//",
    ),
    tags=("analytics", "window"),
)
def x210_rfm(spark, sf_dir):
    """r14 restructure (guide §2.4): the pure-SQL form re-inlined `rfm`
    (the per-user events aggregate) once per reference — nn plus, per
    quintile tag, b{tag} and c{tag} twice (w{tag} and g{tag} each
    re-expand it) — 10 rfm expansions, 30 events scans, 160 exchanges in
    one plan.  Three changes, DuckDB oracle untouched: (1) rfm is
    materialized once, computed in ONE events pass (anchor = MAX of the
    per-user maxes); (2) the three structurally identical quintile
    pipelines are unpivoted into one stacked chunked-rank pass
    (PARTITION BY tag, ck) and the scores pivoted back — same ck formula,
    same closed form, exact DECIMAL(38,2) order keys; (3) shared frames
    are checkpointed.  30 events scans -> 1, 160 exchanges -> 14."""
    load_tables(spark, sf_dir)
    # anchor = MAX(ts) = MAX over the per-user maxes, and rfm's GROUP BY
    # (user_id, a.mx) has a.mx constant — so this is the same relation as
    # `_x210_rfm_cte`.  per_user is inlined (the anchor branch re-runs the
    # cheap events aggregate once) — a second checkpoint here measured
    # slower than the recompute.
    rfm = spark.sql(
        """
      WITH per_user AS (
        SELECT user_id, MAX(ts) AS mxu, CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS monetary
        FROM events GROUP BY user_id
      ),
      anchor AS (SELECT MAX(mxu) AS mx FROM per_user)
      SELECT p.user_id,
             CAST(DATEDIFF(CAST(a.mx AS DATE), CAST(p.mxu AS DATE))
                  AS BIGINT) AS recency_days,
             p.frequency, p.monetary
      FROM per_user p CROSS JOIN anchor a"""
    ).localCheckpoint()

    # The three quintile pipelines are identical in shape and tiny per
    # stage at any one SF (the per-user relation), so running them as
    # three separate chunk/window/prefix/join chains is pure stage
    # overhead.  Unpivot to (tag, ck, okey) and run ONE chunked-rank pass
    # (PARTITION BY tag, ck), then pivot the scores back.  Order keys are
    # exact: BIGINT and DECIMAL(18,2) both embed losslessly in
    # DECIMAL(38,2), and `recency_days DESC, user_id` == `-recency ASC,
    # user_id`.  The ck formula per tag is byte-identical to
    # `_x210_chunk`'s, so chunk membership — and hence off + r_in, the
    # global rank the closed form consumes — matches the oracle exactly.
    def _ck(metric: str, lo: str, hi: str, desc: bool) -> str:
        diff = f"s.{hi} - t.{metric}" if desc else f"t.{metric} - s.{lo}"
        return f"""CASE WHEN s.{hi} = s.{lo} THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR(CAST({diff} AS DOUBLE) * 1000
                                  / CAST(s.{hi} - s.{lo} AS DOUBLE))
                                  AS BIGINT), CAST(999 AS BIGINT)) END"""

    rk = "(o.off + w.r_in)"
    closed = f"""CASE WHEN w.n DIV 5 = 0 THEN {rk}
                  WHEN {rk} <= (w.n % 5) * (w.n DIV 5 + 1)
                    THEN ({rk} + w.n DIV 5)
                         DIV (w.n DIV 5 + 1)
                  ELSE w.n % 5
                       + ({rk} - (w.n % 5) * (w.n DIV 5 + 1)
                          + w.n DIV 5 - 1) DIV (w.n DIV 5)
             END"""
    stacked = spark.sql(
        f"""
    WITH stats AS (
      SELECT MIN(recency_days) AS rlo, MAX(recency_days) AS rhi,
             MIN(frequency) AS flo, MAX(frequency) AS fhi,
             MIN(monetary) AS mlo, MAX(monetary) AS mhi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM {{rfm}})
    SELECT t.user_id, s.n, x.tag, x.ck, x.okey
    FROM {{rfm}} t CROSS JOIN stats s
    LATERAL VIEW explode(array(
      named_struct('tag', 'r', 'ck', {_ck("recency_days", "rlo", "rhi", True)},
                   'okey', CAST(-t.recency_days AS DECIMAL(38,2))),
      named_struct('tag', 'f', 'ck', {_ck("frequency", "flo", "fhi", False)},
                   'okey', CAST(t.frequency AS DECIMAL(38,2))),
      named_struct('tag', 'm', 'ck', {_ck("monetary", "mlo", "mhi", False)},
                   'okey', CAST(t.monetary AS DECIMAL(38,2))))) e AS x""",
        rfm=rfm,
    ).localCheckpoint()
    return spark.sql(
        f"""
    WITH w AS (
      SELECT user_id, n, tag, ck,
             ROW_NUMBER() OVER (PARTITION BY tag, ck
                                ORDER BY okey, user_id) AS r_in
      FROM {{stacked}}),
    g AS (
      SELECT tag, ck, COALESCE(SUM(c) OVER (PARTITION BY tag ORDER BY ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT tag, ck, CAST(COUNT(*) AS BIGINT) AS c
            FROM {{stacked}} GROUP BY tag, ck)),
    scored AS (
      SELECT w.user_id,
             MAX(CASE WHEN w.tag = 'r' THEN {closed} END) AS r_score,
             MAX(CASE WHEN w.tag = 'f' THEN {closed} END) AS f_score,
             MAX(CASE WHEN w.tag = 'm' THEN {closed} END) AS m_score
      FROM w JOIN g o ON w.tag = o.tag AND w.ck = o.ck
      GROUP BY w.user_id
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
""",
        stacked=stacked,
    )

# -- x211: log2-bucketed histogram + bucket-boundary p99 --------------------
# Bucket = floor(log2(1 + value_cents)): integer-exact on both engines
# (log2 of an exact integer double is IEEE-identical; FLOOR is tie-free
# because 1+cents is never an exact power of two boundary issue — and even
# if it were, the double is bit-identical so FLOOR agrees). p99 is the
# smallest bucket whose cumulative count covers 99% — pure integer
# comparison over the <=64-row bucket relation.

_X211_BODY = """
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value >= 0
    ),
    b AS (
      SELECT CAST(FLOOR(LOG2(1 + cents)) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY 1
    ),
    c AS (
      SELECT bucket, n,
             SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n) OVER () AS total
      FROM b
    )
    SELECT bucket,
           CAST(POWER(2, bucket) - 1 AS BIGINT) AS lo_cents,
           CAST(POWER(2, bucket + 1) - 2 AS BIGINT) AS hi_cents,
           n,
           CAST(cum AS BIGINT) AS cum_n,
           CAST(CASE WHEN cum - n < CAST(CEIL(0.99 * total) AS BIGINT)
                      AND cum >= CAST(CEIL(0.99 * total) AS BIGINT)
                     THEN 1 ELSE 0 END AS INT) AS is_p99_bucket
    FROM c ORDER BY bucket
"""

register_sql(
    "x211_log_histogram",
    spark_sql=_X211_BODY,
    duckdb_sql=_X211_BODY,
    tags=("sketch", "histogram"),
)

# -- x212: k-core peeling (k=4, 3 rounds) -----------------------------------
# Same symmetrized customer-supplier trade graph as x172 (parity-disjoint
# node ids). Each round keeps nodes whose degree among surviving nodes is
# >= k; edges restricted to survivors on both ends. The Spark side runs
# operators/graph.kcore_counts — checkpointed rounds, NOT this CTE (Spark
# replans multiply-referenced CTEs from scratch: the unrolled form
# measured 11.9 s vs ~1 s at sf0.1). The oracle unrolls the same three
# rounds; the 8 per-round scalars are the only driver traffic.

_X212_ORACLE = """
    -- every chained CTE MATERIALIZED: the inlined form
    -- re-ran the 6M-row edge build per reference and OOMed the 16GB
    -- oracle budget at the sf1 replica (r9; same family as x172)
    WITH e1 AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS MATERIALIZED (SELECT src, dst FROM e1 UNION SELECT dst, src FROM e1),
    d0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    k1 AS MATERIALIZED (SELECT node FROM d0 WHERE deg >= 4),
    e2 AS MATERIALIZED (
      SELECT e.src, e.dst FROM edges e
      JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node
    ),
    d1 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src),
    k2 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 4),
    e3 AS MATERIALIZED (
      SELECT e.src, e.dst FROM e2 e
      JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node
    ),
    d2 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e3 GROUP BY src),
    k3 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 4),
    e4 AS MATERIALIZED (
      SELECT e.src, e.dst FROM e3 e
      JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node
    )
    SELECT r, CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
    FROM (
      SELECT 0 AS r, (SELECT COUNT(*) FROM d0) AS n_nodes, (SELECT COUNT(*) FROM edges) AS n_edges
      UNION ALL
      SELECT 1, (SELECT COUNT(*) FROM k1), (SELECT COUNT(*) FROM e2)
      UNION ALL
      SELECT 2, (SELECT COUNT(*) FROM k2), (SELECT COUNT(*) FROM e3)
      UNION ALL
      SELECT 3, (SELECT COUNT(*) FROM k3), (SELECT COUNT(*) FROM e4)
    ) t ORDER BY r
"""

@register(
    "x212_kcore",
    oracle=_X212_ORACLE,
    tags=("graph", "iterative"),
)
def x212_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.graph import kcore_counts

    t = load_tables(spark, sf_dir)
    e1 = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    edges = e1.union(e1.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    rows = kcore_counts(edges, k=4, rounds=3)
    return spark.createDataFrame(rows, "r int, n_nodes bigint, n_edges bigint").orderBy(
        "r"
    )
