"""Wave 153 (x528–x530): semi-structured profiling, conversion latency,
and bag-semantics set operations.

x528 — JSON schema inference over the events.props column: keys are
enumerated from the data (json_object_keys / json_keys — no schema
assumed), and each key reports presence share and the distribution of
value types (the discovery pass every semi-structured ingest runs
before declaring a schema).  Complements x119 (variant access) and
x28/x95 (codec round-trips) with the INFERENCE step.

x529 — time-to-convert quantiles: per user, the latency from first
click to first subsequent purchase; exact p50/p90 order statistics of
those latencies plus the conversion share — the funnel-speed table
(x163 counts conversions; this times them).

x530 — bag-semantics set operations: INTERSECT ALL and EXCEPT ALL over
deliberately duplicate-bearing projections, next to their DISTINCT
cousins (q21/q22) — multiplicity handling is where engines diverge and
where the ANSI surface is usually left untested.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x528: JSON schema inference -----------------------------------------------------------

_X528 = """
    WITH keys AS (
      SELECT {keysrc} AS k, props FROM events WHERE props IS NOT NULL
    ),
    exploded AS (
      SELECT {kexpl} AS key_name, props FROM keys
    ),
    typed AS (
      SELECT key_name,
             {typeof} AS vtype
      FROM exploded
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
              WHERE props IS NOT NULL)
    SELECT t.key_name, t.vtype,
           CAST(COUNT(*) AS BIGINT) AS occurrences,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(tt.n), 6) AS presence_share
    FROM typed t CROSS JOIN total tt
    GROUP BY t.key_name, t.vtype
    ORDER BY t.key_name, t.vtype
"""

register_sql(
    "x528_json_schema_infer",
    spark_sql=_X528.format(
        keysrc="json_object_keys(props)",
        kexpl="explode(k)",
        typeof=(
            "CASE WHEN get_json_object(props, concat('$.', key_name)) "
            "RLIKE '^-?[0-9]+$' THEN 'integer' "
            "WHEN get_json_object(props, concat('$.', key_name)) "
            "RLIKE '^-?[0-9]*\\\\.[0-9]+$' THEN 'double' "
            "ELSE 'string' END"
        ),
    ),
    duckdb_sql=_X528.format(
        keysrc="json_keys(props)",
        kexpl="unnest(k)",
        typeof=(
            "CASE WHEN json_extract_string(props, '$.' || key_name) "
            "SIMILAR TO '-?[0-9]+' THEN 'integer' "
            "WHEN json_extract_string(props, '$.' || key_name) "
            "SIMILAR TO '-?[0-9]*\\.[0-9]+' THEN 'double' "
            "ELSE 'string' END"
        ),
    ),
    tags=("json", "profiling"),
)

# -- x529: time-to-convert quantiles ----------------------------------------------------------

_X529 = """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click' THEN {epoch} END)
               AS first_click,
             MIN(CASE WHEN event_type = 'purchase' THEN {epoch} END)
               AS first_purchase
      FROM events GROUP BY user_id
    ),
    latencies AS (
      SELECT user_id,
             CAST(first_purchase - first_click AS BIGINT) AS latency_s
      FROM firsts
      WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_click
    ),
    ranked AS (
      SELECT latency_s,
             ROW_NUMBER() OVER (ORDER BY latency_s) AS rk,
             COUNT(*) OVER () AS n
      FROM latencies
    ),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS converted FROM latencies
    ),
    users AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS clickers FROM firsts
      WHERE first_click IS NOT NULL
    )
    SELECT u.clickers, c.converted,
           ROUND(CAST(c.converted AS DOUBLE) / u.clickers, 6)
             AS conversion_share,
           (SELECT latency_s FROM ranked
            WHERE rk = (n + 1) {intdiv} 2) AS p50_latency_s,
           (SELECT latency_s FROM ranked
            WHERE rk = (9 * n + 9) {intdiv} 10) AS p90_latency_s
    FROM users u CROSS JOIN counts c
"""

register_sql(
    "x529_time_to_convert",
    spark_sql=_X529.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X529.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("events", "stats"),
)

# -- x530: bag-semantics set ops ------------------------------------------------------------------

_X530 = """
    WITH a AS (
      SELECT l_returnflag AS f, l_linestatus AS s FROM lineitem
      WHERE l_quantity < 25
    ),
    b AS (
      SELECT l_returnflag AS f, l_linestatus AS s FROM lineitem
      WHERE l_quantity >= 10
    ),
    iall AS (
      SELECT f, s FROM a INTERSECT ALL SELECT f, s FROM b
    ),
    eall AS (
      SELECT f, s FROM a EXCEPT ALL SELECT f, s FROM b
    ),
    idist AS (
      SELECT f, s FROM a INTERSECT SELECT f, s FROM b
    )
    SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT f || '|' || s) AS BIGINT) AS n_distinct
    FROM iall
    UNION ALL
    SELECT 'except_all', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT f || '|' || s) AS BIGINT)
    FROM eall
    UNION ALL
    SELECT 'intersect_distinct', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT f || '|' || s) AS BIGINT)
    FROM idist
    ORDER BY op
"""

@register(
    "x530_bag_set_ops",
    oracle=_X530,
    tags=("ansi", "sql"),
)
def x530_bag_set_ops(spark, sf_dir):
    """r14 restructure (guide §2.2 — shuffle fewer bytes): the SQL form
    scanned lineitem six times (a and b re-inlined per set op) and ran
    three full-width INTERSECT/EXCEPT shuffles over the row bags.  Bag
    set ops are pure count arithmetic per group: with ca/cb the
    multiplicities of (f, s) in a/b, INTERSECT ALL contributes
    min(ca, cb) rows, EXCEPT ALL max(ca - cb, 0), INTERSECT DISTINCT one
    row where both sides are present — so ONE lineitem scan computing
    both conditional counts per (f, s) (a ~6-row frame) replaces
    everything.  n_distinct counts the qualifying groups with non-NULL
    f and s, exactly like COUNT(DISTINCT f || '|' || s).  DuckDB oracle
    textually unchanged."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
    WITH g AS (
      SELECT l_returnflag AS f, l_linestatus AS s,
             CAST(SUM(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN l_quantity >= 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM lineitem
      WHERE l_quantity < 25 OR l_quantity >= 10
      GROUP BY l_returnflag, l_linestatus
    ),
    agg AS (
      SELECT
        CAST(SUM(LEAST(ca, cb)) AS BIGINT) AS iall_rows,
        CAST(SUM(CASE WHEN LEAST(ca, cb) > 0 AND f IS NOT NULL
                       AND s IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS iall_distinct,
        CAST(SUM(GREATEST(ca - cb, 0)) AS BIGINT) AS eall_rows,
        CAST(SUM(CASE WHEN ca - cb > 0 AND f IS NOT NULL
                       AND s IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS eall_distinct,
        CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS idist_rows,
        CAST(SUM(CASE WHEN ca > 0 AND cb > 0 AND f IS NOT NULL
                       AND s IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS idist_distinct
      FROM g
    )
    SELECT 'except_all' AS op, eall_rows AS n_rows,
           eall_distinct AS n_distinct FROM agg
    UNION ALL
    SELECT 'intersect_all', iall_rows, iall_distinct FROM agg
    UNION ALL
    SELECT 'intersect_distinct', idist_rows, idist_distinct FROM agg
    ORDER BY op"""
    )
