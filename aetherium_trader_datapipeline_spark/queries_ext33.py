"""Thirty-third extension wave — information retrieval and pattern mining:

x199 phrase search        positional-index bigram phrase match over the
                          corpus (posexplode + pos+1 self-join) — the
                          inverted-index plan; oracle counts literal
                          occurrences by string algebra
x200 boolean retrieval    conjunctive (AND) multi-term query via posting
                          intersection, ranked by summed term frequency
x201 basket pairs         market-basket part-pair co-occurrence with lift
                          (orders are the baskets) — self-join bounded by
                          per-order line count
x202 session paths        top event-type trigram paths per user stream
                          (LEAD chain) — clickstream path mining

Scale shapes: x199/x200 build token postings with one explode + shuffle on
(token|doc); phrase candidates come from an equality join on (doc_id, pos)
— never a text scan per query at serve time. x201's pair fan-out is
C(items_per_order, 2), bounded by the order size (~7 lines), so the
self-join output is a constant factor of lineitem, not quadratic in parts.
x202 is one window pass keyed by user.

Oracle notes: the phrase/term-frequency oracles count token-boundary
matches by doubling inner spaces (' '||replace(text,' ','  ')||' ') so
adjacent matches cannot share a separator and substring hits cannot cross
token boundaries; the count is then (len(s)-len(replace(s,pat,'')))/len(pat)
— exact integer algebra, identical in both engines.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables


def _tf(term: str) -> str:
    """Exact whitespace-token term frequency via space-doubled string algebra."""
    pat = f" {term} "
    return (
        f"CAST((length(s) - length(replace(s, ' {term} ', ''))) / {len(pat)} AS BIGINT)"
    )


# -- x199: bigram phrase search ---------------------------------------------
# Spark side: the scalable inverted-index plan — postings (doc_id, pos, tok)
# from one posexplode, phrase candidates via (doc_id, pos+1) equality join.
# Oracle: literal occurrence count on the raw text.

_X199_SPARK = """
    WITH toks AS (
      SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok) FROM documents
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'value' AND b.tok = 'table'
    GROUP BY a.doc_id
    ORDER BY n_hits DESC, a.doc_id LIMIT 100
"""

_X199_DUCK = """
    WITH s AS (
      SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS s FROM documents
    )
    SELECT doc_id,
           CAST((length(s) - length(replace(s, ' value  table ', '')))
                / length(' value  table ') AS BIGINT) AS n_hits
    FROM s
    WHERE s LIKE '% value  table %'
    ORDER BY n_hits DESC, doc_id LIMIT 100
"""

register_sql(
    "x199_phrase_search",
    spark_sql=_X199_SPARK,
    duckdb_sql=_X199_DUCK,
    tags=("ir", "text", "join"),
)

# -- x200: conjunctive boolean retrieval ------------------------------------
# Spark side: posting-list intersection — explode once, keep query terms,
# require all three distinct terms per doc, rank by total tf. Oracle: the
# same tf by string algebra per term, AND of presence predicates.

_X200_SPARK = """
    WITH toks AS (
      SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents
    ),
    hits AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE tok IN ('spark', 'hash', 'merge')
      GROUP BY doc_id, tok
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM hits GROUP BY doc_id
    HAVING COUNT(*) = 3
    ORDER BY total_tf DESC, doc_id LIMIT 100
"""

_X200_DUCK = f"""
    WITH s AS (
      SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS s FROM documents
    ),
    tf AS (
      SELECT doc_id,
             {_tf("spark")} AS tf1, {_tf("hash")} AS tf2, {_tf("merge")} AS tf3
      FROM s
    )
    SELECT doc_id, tf1 + tf2 + tf3 AS total_tf
    FROM tf WHERE tf1 > 0 AND tf2 > 0 AND tf3 > 0
    ORDER BY total_tf DESC, doc_id LIMIT 100
"""

register_sql(
    "x200_boolean_retrieval",
    spark_sql=_X200_SPARK,
    duckdb_sql=_X200_DUCK,
    tags=("ir", "text"),
)

# -- x201: market-basket pair mining with lift ------------------------------
# DISTINCT first (a part can appear on two lines of one order), then the
# bounded within-order self-join. Lift numerator/denominator are exact
# integers; one double division per output row.

_X201_BODY = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY pk),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS nords FROM items),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_both
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    )
    SELECT p.part_a, p.part_b, p.n_both, ca.c AS n_a, cb.c AS n_b,
           ROUND(CAST(n.nords AS DOUBLE) * p.n_both / (ca.c * cb.c), 6) AS lift
    FROM pairs p
    JOIN pc ca ON p.part_a = ca.pk
    JOIN pc cb ON p.part_b = cb.pk
    CROSS JOIN n
    ORDER BY p.n_both DESC, p.part_a, p.part_b LIMIT 100
"""

@register(
    "x201_basket_pairs",
    oracle=_X201_BODY,
    tags=("mining", "join"),
)
def x201_basket_pairs(spark, sf_dir):
    """r14 restructure (guide §2.4): `items` (the DISTINCT over lineitem)
    was re-expanded by pc, n and both sides of the pair self-join — 5
    lineitem scans + 5 DISTINCT shuffles in one plan.  Checkpointing
    items runs the scan + dedup ONCE; the lift tail is textually
    unchanged, as is the DuckDB oracle."""
    load_tables(spark, sf_dir)
    items = spark.sql(
        "SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem"
    ).localCheckpoint()
    return spark.sql(
        """
    WITH items AS (SELECT ok, pk FROM {items}),
    pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY pk),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS nords FROM items),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_both
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    )
    SELECT p.part_a, p.part_b, p.n_both, ca.c AS n_a, cb.c AS n_b,
           ROUND(CAST(n.nords AS DOUBLE) * p.n_both / (ca.c * cb.c), 6) AS lift
    FROM pairs p
    JOIN pc ca ON p.part_a = ca.pk
    JOIN pc cb ON p.part_b = cb.pk
    CROSS JOIN n
    ORDER BY p.n_both DESC, p.part_a, p.part_b LIMIT 100""",
        items=items,
    )

# -- x202: session path mining (event-type trigrams) ------------------------

_X202_BODY = """
    WITH seq AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1 || '>' || e2 || '>' || e3
    ORDER BY n DESC, path LIMIT 50
"""

register_sql(
    "x202_session_paths",
    spark_sql=_X202_BODY,
    duckdb_sql=_X202_BODY,
    tags=("mining", "window"),
)
