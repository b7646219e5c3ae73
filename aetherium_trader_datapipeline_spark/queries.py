"""Declared query inventory (SURVEY.md §2.2) — the engine's verified surface.

Each entry pairs a Spark implementation (DataFrame API or Spark SQL; Catalyst
does the planning) with an equivalent DuckDB oracle SQL string. Both sides
alias every computed column identically and normalize types:

- DuckDB ``SUM(BIGINT)`` returns HUGEINT and ``FLOOR`` returns DOUBLE —
  explicit CASTs keep schemas aligned with Spark.
- Large float SUMs are made order-independent (hence engine-reproducible)
  by accumulating in DECIMAL — exact in both engines — then casting to
  DOUBLE. Per-row double arithmetic is IEEE-deterministic and needs no care.
- events.ts is parquet timestamp[ns]; Spark truncates to µs on read while
  DuckDB keeps ns, so oracle outputs CAST ts-derived columns to TIMESTAMP
  (µs). Fixture timestamps are µs-precision, so this is lossless.

Reference parity notes cite /root/reference (e.g. OHLCV semantics from
docs/…系統設計文件.md:69-72; gap islands from domain/src/data_gap.rs:29-63).
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from aetherium_trader_datapipeline_spark.tables import load_tables


@dataclass
class Query:
    key: str
    run: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL the driver hash-checks the Spark result against
    headline: bool = False  # include in bench.py
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}


def _add(q: Query) -> None:
    # a re-registered key would silently replace an oracle-verified query
    if q.key in REGISTRY:
        raise ValueError(f"registry key {q.key!r} is already registered")
    REGISTRY[q.key] = q


def register(key: str, oracle: str, headline: bool = False, tags: tuple[str, ...] = ()):
    """Decorator registering a (spark, sf_dir) -> DataFrame callable."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _add(Query(key=key, run=fn, oracle=oracle, headline=headline, tags=tags))
        return fn

    return deco


def register_sql(
    key: str,
    spark_sql: str,
    duckdb_sql: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> None:
    """Register a query whose Spark form is a SQL string (Catalyst plans it)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(spark_sql)

    _add(Query(key=key, run=run, oracle=duckdb_sql or spark_sql, headline=headline, tags=tags))


# ---------------------------------------------------------------------------
# Q01–Q09: scans, predicates, joins
# ---------------------------------------------------------------------------

register_sql(
    "q01_scan_agg",
    spark_sql="SELECT COUNT(*) AS n, SUM(l_orderkey) AS ck FROM lineitem",
    duckdb_sql="SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS ck FROM lineitem",
    headline=True,
    tags=("scan",),
)

register_sql(
    "q02_filter_project",
    spark_sql="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= DATE'1995-01-01' AND l_returnflag = 'R'
    ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
    tags=("filter",),
)

register_sql(
    "q03_case_predicates",
    spark_sql="""
    SELECT p_partkey,
           CASE WHEN p_size IN (5,10,15) THEN 'S'
                WHEN p_size BETWEEN 20 AND 30 THEN 'M'
                ELSE 'L' END AS bucket
    FROM part
    WHERE p_name LIKE '%green%' OR p_brand NOT LIKE 'Brand#1%'
    ORDER BY p_partkey LIMIT 200
    """,
    tags=("predicates",),
)

register_sql(
    "q04_join_agg",
    spark_sql="""
    SELECT c_mktsegment, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    headline=True,
    tags=("join", "agg"),
)

register_sql(
    "q05_tpch_q3",
    spark_sql="""
    SELECT o_orderkey,
           ROUND(CAST(CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DECIMAL(38,2)) AS DOUBLE), 2) AS rev
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE'1995-03-15'
      AND l_shipdate > DATE'1995-03-15'
    GROUP BY o_orderkey
    ORDER BY rev DESC, o_orderkey LIMIT 10
    """,
    headline=True,
    tags=("join", "agg"),
)

register_sql(
    "q06_left_join",
    spark_sql="""
    SELECT c_custkey, COUNT(o_orderkey) AS n
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY n DESC, c_custkey LIMIT 50
    """,
    tags=("join",),
)

register_sql(
    "q07_semi_join",
    spark_sql="""
    SELECT COUNT(*) AS n FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
    tags=("join",),
)

register_sql(
    "q08_anti_join",
    spark_sql="""
    SELECT COUNT(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
    """,
    tags=("join",),
)

register_sql(
    "q09_theta_join",
    spark_sql="""
    SELECT n1.n_name AS name1, n2.n_name AS name2
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    ORDER BY name1, name2 LIMIT 100
    """,
    tags=("join",),
)


# ---------------------------------------------------------------------------
# Q10: as-of join. Spark-first: a single window pass (shuffle once on
# user_id) instead of the O(n·m) self-range-join — `last prior view ts` is
# MAX(ts of views) over RANGE UNBOUNDED PRECEDING..CURRENT ROW, which at
# 100 TB scales linearly where the naive range join explodes. The oracle
# keeps the declarative join+agg form.
# ---------------------------------------------------------------------------


@register(
    "q10_asof_join",
    oracle="""
    SELECT e1.event_id AS event_id, CAST(MAX(e2.ts) AS TIMESTAMP) AS prior_view
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id AND e2.ts <= e1.ts AND e2.event_type = 'view'
    WHERE e1.event_type = 'click'
    GROUP BY e1.event_id ORDER BY e1.event_id LIMIT 100
    """,
    headline=True,
    tags=("asof", "window"),
)
def q10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.asof import asof_latest_prior

    t = load_tables(spark, sf_dir)
    out = asof_latest_prior(
        t["events"],
        ts_col="ts",
        key_cols=["user_id"],
        of_interest="event_type = 'click'",
        prior_filter="event_type = 'view'",
        result_col="prior_view",
    )
    return out.selectExpr("event_id", "prior_view").orderBy("event_id").limit(100)


# ---------------------------------------------------------------------------
# Q11–Q14: aggregation
# ---------------------------------------------------------------------------

register_sql(
    "q11_tpch_q1",
    spark_sql="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= DATE'1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
    tags=("agg",),
)

register_sql(
    "q12_distinct_agg",
    spark_sql="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("agg",),
)

register_sql(
    "q13_rollup",
    spark_sql="""
    SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
           CAST(GROUPING(c_mktsegment) AS INT) AS g
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY ROLLUP(c_mktsegment, o_orderstatus)
    ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    tags=("agg", "rollup"),
)

register_sql(
    "q13b_cube_gsets",
    spark_sql="""
    SELECT 'cube' AS variant, c_mktsegment, o_orderstatus, COUNT(*) AS n,
           CAST(GROUPING(c_mktsegment) AS INT) AS g1,
           CAST(GROUPING(o_orderstatus) AS INT) AS g2
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE(c_mktsegment, o_orderstatus)
    UNION ALL
    SELECT 'gsets' AS variant, c_mktsegment, o_orderstatus, COUNT(*) AS n,
           CAST(GROUPING(c_mktsegment) AS INT) AS g1,
           CAST(GROUPING(o_orderstatus) AS INT) AS g2
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
    ORDER BY variant, c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    tags=("agg", "rollup"),
)

register_sql(
    "q14_having",
    spark_sql="""
    SELECT o_custkey, COUNT(*) AS n
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    ORDER BY n DESC, o_custkey
    """,
    tags=("agg",),
)


# ---------------------------------------------------------------------------
# Q15–Q19: window functions
# ---------------------------------------------------------------------------

register_sql(
    "q15_rank_windows",
    spark_sql="""
    SELECT c_custkey, c_acctbal,
           CAST(RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS drnk,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
    FROM customer ORDER BY c_custkey LIMIT 200
    """,
    tags=("window",),
)

register_sql(
    "q16_lag",
    spark_sql="""
    SELECT event_id,
           ROUND(value - LAG(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS dv
    FROM events ORDER BY event_id LIMIT 500
    """,
    tags=("window",),
)

register_sql(
    "q17_rows_frame",
    spark_sql="""
    SELECT event_id,
           CAST(SUM(CAST(value AS DECIMAL(14,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv10
    FROM events ORDER BY event_id LIMIT 500
    """,
    tags=("window",),
)

register_sql(
    "q18_analytic",
    spark_sql="""
    SELECT c_custkey,
           CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey), 6) AS pr,
           ROUND(CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey), 6) AS cd,
           FIRST_VALUE(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS first_cust,
           LAST_VALUE(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS last_cust
    FROM customer ORDER BY c_custkey LIMIT 200
    """,
    tags=("window",),
)

register_sql(
    "q19_topk_per_group",
    spark_sql="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders
    ) WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 300
    """,
    headline=True,
    tags=("window",),
)


# ---------------------------------------------------------------------------
# Q20–Q22: sort/limit/set ops
# ---------------------------------------------------------------------------

register_sql(
    "q20_sort_limit_offset",
    spark_sql="""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20 OFFSET 40
    """,
    tags=("sort",),
)

register_sql(
    "q21_union",
    spark_sql="""
    SELECT 'distinct' AS variant, CAST(k AS BIGINT) AS k, CAST(NULL AS BIGINT) AS n FROM (
      SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier
    ) u
    UNION ALL
    SELECT 'all_count' AS variant, CAST(NULL AS BIGINT) AS k, COUNT(*) AS n FROM (
      SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier
    ) a
    ORDER BY variant, k
    """,
    tags=("setop",),
)

register_sql(
    "q22_intersect_except",
    spark_sql="""
    SELECT 'i' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier
    ) i
    UNION ALL
    SELECT 'e' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier
    ) e
    ORDER BY op, k
    """,
    tags=("setop",),
)


# ---------------------------------------------------------------------------
# Q23–Q28: scalar function surface
# ---------------------------------------------------------------------------

register_sql(
    "q23_string_fns",
    spark_sql="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           LOWER(p_type) AS type_l,
           SUBSTRING(p_name, 1, 8) AS name8,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           TRIM(CONCAT(' ', p_brand, ' ')) AS brand_t,
           REPLACE(p_type, ' ', '_') AS type_r
    FROM part ORDER BY p_partkey LIMIT 100
    """,
    tags=("functions",),
)

register_sql(
    "q24_date_fns",
    spark_sql="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS y,
           CAST(MONTH(o_orderdate) AS INT) AS m,
           CAST(DAY(o_orderdate) AS INT) AS d,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS plus30
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
    duckdb_sql="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS y,
           CAST(MONTH(o_orderdate) AS INT) AS m,
           CAST(DAY(o_orderdate) AS INT) AS d,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS plus30
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
    tags=("functions",),
)

register_sql(
    "q25_math_fns",
    spark_sql="""
    SELECT l_orderkey, l_linenumber,
           ROUND(ABS(l_discount - 0.05), 4) AS adisc,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS fprice,
           CAST(CEIL(l_quantity) AS BIGINT) AS cqty,
           ROUND(POWER(l_tax + 1, 2), 6) AS ptax,
           ROUND(SQRT(l_extendedprice), 4) AS sprice,
           CAST(MOD(l_orderkey, 7) AS BIGINT) AS m7
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
    """,
    tags=("functions",),
)

register_sql(
    "q26_array_fns",
    spark_sql="""
    SELECT vec_id,
           CAST(SIZE(embedding) AS BIGINT) AS n_dim,
           ROUND(CAST(element_at(embedding, 1) AS DOUBLE), 4) AS e1,
           ROUND(AGGREGATE(CAST(embedding AS ARRAY<DOUBLE>), CAST(0 AS DOUBLE), (a, x) -> a + x), 4) AS esum
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    duckdb_sql="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS n_dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) AS e1,
           ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), CAST(embedding AS DOUBLE[])), (a, x) -> a + x), 4) AS esum
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
    tags=("functions", "array"),
)

register_sql(
    "q26b_array_explode",
    spark_sql="""
    SELECT vec_id, pos, ROUND(CAST(x AS DOUBLE), 4) AS x
    FROM (
      SELECT vec_id, posexplode(embedding) AS (pos, x) FROM embeddings
    ) WHERE vec_id < 5 ORDER BY vec_id, pos
    """,
    duckdb_sql="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 4) AS x
    FROM embeddings WHERE vec_id < 5 ORDER BY vec_id, pos
    """,
    tags=("functions", "array"),
)

register_sql(
    "q27_map_fns",
    spark_sql="""
    SELECT event_id, m['t'] AS t FROM (
      SELECT event_id, MAP('t', event_type, 'u', CAST(user_id AS STRING)) AS m FROM events
    ) ORDER BY event_id LIMIT 100
    """,
    duckdb_sql="""
    SELECT event_id, event_type AS t FROM events ORDER BY event_id LIMIT 100
    """,
    tags=("functions", "map"),
)

register_sql(
    "q27b_map_keys",
    spark_sql="""
    SELECT event_id, array_join(sort_array(map_keys(m)), ',') AS ks, m['u'] AS u FROM (
      SELECT event_id, MAP('t', event_type, 'u', CAST(user_id AS STRING)) AS m FROM events
    ) ORDER BY event_id LIMIT 100
    """,
    duckdb_sql="""
    SELECT event_id, 't,u' AS ks, CAST(user_id AS VARCHAR) AS u
    FROM events ORDER BY event_id LIMIT 100
    """,
    tags=("functions", "map"),
)

register_sql(
    "q28_json_fns",
    spark_sql="""
    SELECT event_id,
           get_json_object(props, '$.k') AS k_str,
           CAST(get_json_object(props, '$.k') AS BIGINT) AS k
    FROM events ORDER BY event_id LIMIT 200
    """,
    duckdb_sql="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events ORDER BY event_id LIMIT 200
    """,
    tags=("functions", "json"),
)


# ---------------------------------------------------------------------------
# Q29–Q32: time windows + OHLCV (the reference's signature workload, op O1;
# docs/…系統設計文件.md:69-72). Batch forms here double as oracles for the
# streaming forms in streaming/windows.py.
# ---------------------------------------------------------------------------

register_sql(
    "q29_tumbling_window",
    spark_sql="""
    SELECT DATE_TRUNC('hour', ts) AS w, event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE), 4) AS sv
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    duckdb_sql="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w, event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE), 4) AS sv
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    headline=True,
    tags=("window", "streaming-batch"),
)

register_sql(
    "q30_sliding_window",
    # Exactly the reference rate-limiter semantics (limiter.lua:30-43) as a
    # query: events per account in the trailing window, counted per row.
    spark_sql="""
    SELECT event_id,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW) AS BIGINT) AS n10m
    FROM events ORDER BY event_id LIMIT 500
    """,
    duckdb_sql="""
    SELECT event_id,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW) AS BIGINT) AS n10m
    FROM events ORDER BY event_id LIMIT 500
    """,
    tags=("window", "ratelimit"),
)


@register(
    "q31_session_window",
    oracle="""
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n,
           CAST(MIN(ts) AS TIMESTAMP) AS t0, CAST(MAX(ts) AS TIMESTAMP) AS t1
    FROM (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
      ) marked
    ) sessions
    GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
    tags=("window", "session"),
)
def q31_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.sessionize import sessionize

    t = load_tables(spark, sf_dir)
    return sessionize(
        t["events"], ts_col="ts", key_cols=["user_id"], gap="30 minutes", order_cols=["event_id"]
    )


@register(
    "q32_ohlcv",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w, user_id,
           MIN_BY(value, ts) AS open, MAX(value) AS high, MIN(value) AS low,
           MAX_BY(value, ts) AS close,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE), 4) AS vol
    FROM events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 500
    """,
    headline=True,
    tags=("ohlcv", "agg"),
)
def q32_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.ohlcv import ohlcv

    t = load_tables(spark, sf_dir)
    out = ohlcv(t["events"], ts_col="ts", key_cols=["user_id"], price_col="value",
                size_col="value", bucket="hour")
    return out.orderBy("w", "user_id").limit(500)


# ---------------------------------------------------------------------------
# Q33: gap detection (op G1 — domain/src/data_gap.rs:29-63 islands algorithm;
# the oracle is a date-spine anti-join + gaps-and-islands, the engine one
# collect_set aggregation + posexplode islands).
# ---------------------------------------------------------------------------


@register(
    "q33_gap_detection",
    oracle="""
    WITH spine AS (
      SELECT CAST(g AS DATE) AS d
      FROM generate_series(DATE'1995-01-01', DATE'1995-03-31', INTERVAL 1 DAY) AS t(g)
    ),
    present AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
    missing AS (
      SELECT s.d, ROW_NUMBER() OVER (ORDER BY s.d) AS rn
      FROM spine s LEFT JOIN present p ON s.d = p.d WHERE p.d IS NULL
    )
    SELECT MIN(d) AS gap_start, MAX(d) AS gap_end, COUNT(*) AS days
    FROM missing GROUP BY d - CAST(rn AS BIGINT) * INTERVAL 1 DAY
    ORDER BY gap_start
    """,
    tags=("gaps", "operator"),
)
def q33_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps

    t = load_tables(spark, sf_dir)
    present = t["orders"].selectExpr("CAST(o_orderdate AS DATE) AS d").distinct()
    return detect_gaps(present, "1995-01-01", "1995-03-31", date_col="d")


# ---------------------------------------------------------------------------
# Q34–Q36: dedup, similarity, text — the training-data-pipeline surface.
# ---------------------------------------------------------------------------

register_sql(
    "q34_dedup_exact",
    spark_sql="""
    SELECT COUNT(*) AS n FROM (SELECT DISTINCT lang, source, text FROM documents)
    """,
    duckdb_sql="""
    SELECT COUNT(*) AS n FROM (SELECT DISTINCT lang, source, text FROM documents) t
    """,
    tags=("dedup",),
)

register_sql(
    "q34b_dedup_events_minute",
    spark_sql="""
    SELECT COUNT(*) AS n FROM (
      SELECT user_id, event_type, DATE_TRUNC('minute', ts) AS m
      FROM events GROUP BY 1, 2, 3
    )
    """,
    duckdb_sql="""
    SELECT COUNT(*) AS n FROM (
      SELECT user_id, event_type, DATE_TRUNC('minute', ts) AS m
      FROM events GROUP BY 1, 2, 3
    ) t
    """,
    tags=("dedup",),
)


@register(
    "q35_sim_topk_cosine",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)), (a, b) -> a + b)) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])), (x, y) -> x + y)
                 / (a.nrm * b.nrm), 4) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    ORDER BY sim DESC, a, b LIMIT 20
    """,
    headline=True,
    tags=("similarity",),
)
def q35_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.similarity import pairwise_cosine_topk

    t = load_tables(spark, sf_dir)
    return pairwise_cosine_topk(t["embeddings"], id_col="vec_id", vec_col="embedding", k=20)


register_sql(
    "q36_token_counts",
    spark_sql="""
    SELECT lang, w, COUNT(*) AS n FROM (
      SELECT lang, explode(split(lower(text), ' ')) AS w FROM documents
    ) GROUP BY lang, w HAVING COUNT(*) > 5
    ORDER BY n DESC, lang, w LIMIT 100
    """,
    duckdb_sql="""
    SELECT lang, w, COUNT(*) AS n FROM (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ) t GROUP BY lang, w HAVING COUNT(*) > 5
    ORDER BY n DESC, lang, w LIMIT 100
    """,
    tags=("text",),
)


# ---------------------------------------------------------------------------
# Q37: correlated subquery (Catalyst decorrelates into an aggregate + join)
# ---------------------------------------------------------------------------

register_sql(
    "q37_corr_subquery",
    spark_sql="""
    SELECT c_custkey FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey LIMIT 100
    """,
    tags=("subquery",),
)


def _load_extensions() -> None:
    """Import every ``queries_ext*`` module; each registers its keys on import.

    Modules load in numeric-suffix order (bare ``queries_ext`` counts as 1),
    so REGISTRY order, which is also the driver's emission order, does not
    depend on directory listing order.
    """
    found = (
        re.fullmatch(r"queries_ext(\d*)", m.name)
        for m in pkgutil.iter_modules([os.path.dirname(__file__)])
    )
    for _, name in sorted((int(m[1] or 1), m[0]) for m in found if m):
        importlib.import_module(f"{__package__}.{name}")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {k: q.run for k, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {k: q.oracle for k, q in REGISTRY.items()}


def headline_keys() -> list[str]:
    _load_extensions()
    return [k for k, q in REGISTRY.items() if q.headline]
