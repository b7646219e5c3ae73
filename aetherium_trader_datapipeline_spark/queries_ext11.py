"""Spark 4.x SQL surface (x114–x119): recursive CTEs, positional explode,
error-safe ``try_*`` arithmetic, exact bitmap distinct counts, struct-array
inline, and the VARIANT semi-structured type.

A user of the reference platform querying its ClickHouse tick store
(docs/系統設計文件.md:60-72) gets these dialect features from any modern OLAP
engine; our engine exposes the Spark-native spellings with DuckDB-verified
semantics.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- WITH RECURSIVE: month spine + per-month order counts -------------------
# The reference's date-spine machinery (domain/src/date_range.rs:45-57,
# split_by_days) is a bounded recursion over days; the recursive-CTE form is
# the ANSI spelling and also covers hierarchy walks the reference lacks.

register_sql(
    "x114_recursive_cte",
    headline=True,
    spark_sql="""
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01' AS m
  UNION ALL
  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months WHERE m < DATE '1995-12-01'
)
SELECT m AS month_start, COALESCE(n, 0) AS n_orders
FROM months LEFT JOIN (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mm, COUNT(*) AS n
  FROM orders GROUP BY 1) o ON months.m = o.mm
ORDER BY month_start
""",
    duckdb_sql="""
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01' AS m
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '1995-12-01'
)
SELECT m AS month_start, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mm, COUNT(*) AS n
  FROM orders GROUP BY 1) o ON months.m = o.mm
ORDER BY month_start
""",
    tags=("recursive", "ansi"),
)

# -- posexplode: position-preserving unnest of embedding vectors ------------

register_sql(
    "x115_posexplode",
    spark_sql="""
SELECT vec_id, pos, ROUND(CAST(x AS DOUBLE), 4) AS x
FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, x
WHERE vec_id <= 20
ORDER BY vec_id, pos
""",
    duckdb_sql="""
SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
       ROUND(CAST(unnest(embedding) AS DOUBLE), 4) AS x
FROM embeddings WHERE vec_id <= 20
ORDER BY vec_id, pos
""",
    tags=("array", "explode"),
)

# -- try_* error-safe arithmetic (ANSI mode without query-killing errors) ---

# r14: the per-row try_cast(concat(...)) projection over all of lineitem
# ran in ONE task (single-row-group scan; TakeOrderedAndProject keeps the
# projection below the top-K), so the Spark side feeds it from a
# cores-derived round-robin repartition — 5.2 s → 1.0 s at sf0.1 on
# local[32].  Oracle text unchanged.
_X116_SPARK = """
SELECT l_orderkey, l_linenumber,
       ROUND(try_divide(l_extendedprice, l_linenumber - 1), 4) AS div_maybe,
       try_cast(CONCAT('x', CAST(l_orderkey AS STRING)) AS INT) AS bad_int,
       try_add(l_orderkey, 1) AS ok_add
FROM {lineitem_rep} ORDER BY l_orderkey, l_linenumber LIMIT 200
"""

_X116_DUCK = """
SELECT l_orderkey, l_linenumber,
       ROUND(CASE WHEN l_linenumber - 1 = 0 THEN NULL
                  ELSE l_extendedprice / (l_linenumber - 1) END, 4) AS div_maybe,
       TRY_CAST(CONCAT('x', CAST(l_orderkey AS VARCHAR)) AS INTEGER) AS bad_int,
       l_orderkey + 1 AS ok_add
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200
"""


@register("x116_try_fns", oracle=_X116_DUCK, tags=("ansi", "functions"))
def x116_try_fns(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p = spark.sparkContext.defaultParallelism * 2
    return spark.sql(_X116_SPARK, lineitem_rep=t["lineitem"].repartition(p))

# -- bitmap exact distinct count: the scale path for COUNT(DISTINCT) -------
# Two-level bucket/position form is exact for arbitrary key ranges and
# shuffles fixed-size bitmaps instead of raw keys — the 100 TB replacement
# for naive distinct (oracle: plain COUNT(DISTINCT)).

register_sql(
    "x117_bitmap_distinct",
    headline=True,
    spark_sql="""
SELECT o_orderstatus, SUM(cnt) AS nd FROM (
  SELECT o_orderstatus, bitmap_bucket_number(o_custkey) AS bkt,
         bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey))) AS cnt
  FROM orders GROUP BY o_orderstatus, bkt)
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    duckdb_sql="""
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS nd
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("agg", "bitmap", "scale"),
)

# -- inline over constructed array<struct>: typed fan-out -------------------

register_sql(
    "x118_inline_structs",
    spark_sql="""
SELECT o_orderkey, kind, amt
FROM (SELECT o_orderkey,
             array(named_struct('kind', 'base', 'amt', ROUND(o_totalprice, 2)),
                   named_struct('kind', 'tax',  'amt', CAST(FLOOR(o_totalprice * 0.05 * 100 + 0.5) AS BIGINT) / 100.0E0)) AS parts
      FROM orders WHERE o_orderkey <= 400)
LATERAL VIEW inline(parts) AS kind, amt
ORDER BY o_orderkey, kind
""",
    duckdb_sql="""
SELECT o_orderkey, kind, amt FROM (
  SELECT o_orderkey, 'base' AS kind, ROUND(o_totalprice, 2) AS amt
  FROM orders WHERE o_orderkey <= 400
  UNION ALL
  SELECT o_orderkey, 'tax' AS kind, CAST(FLOOR(o_totalprice * 0.05 * 100 + 0.5) AS BIGINT) / 100.0E0 AS amt
  FROM orders WHERE o_orderkey <= 400)
ORDER BY o_orderkey, kind
""",
    tags=("array", "struct"),
)

# -- VARIANT: parse-once semi-structured storage (Spark 4) ------------------
# Shreds the events.props JSON into the binary VARIANT encoding and reads
# typed paths back — the scale path for JSON columns (parse once at ingest,
# typed access thereafter) vs per-query get_json_object re-parsing (q28).

register_sql(
    "x119_variant_json",
    spark_sql="""
SELECT event_id,
       CAST(variant_get(parse_json(props), '$.device') AS STRING) AS device,
       CAST(variant_get(parse_json(props), '$.dur_ms') AS BIGINT) AS dur_ms
FROM events ORDER BY event_id LIMIT 200
""",
    duckdb_sql="""
SELECT event_id,
       json_extract_string(props, '$.device') AS device,
       CAST(json_extract(props, '$.dur_ms') AS BIGINT) AS dur_ms
FROM events ORDER BY event_id LIMIT 200
""",
    tags=("json", "variant"),
)
