"""Wave 74 (x310–x312): word communities, conformal intervals, k-anonymity.

x310 composes two existing pieces into the classic word-clustering
pipeline: a word co-occurrence graph with INTEGER-EXACT positive-PMI
edges (pmi > 0 ⟺ c·n² > bn·c₁·c₂ — no float threshold, so both engines
build the identical graph), symmetrized, then 2 rounds of the
frequency-LPA operator (x297's `graph.label_propagation`, here on STRING
node ids — the operator is type-generic).  Topic-ish communities from
distributional statistics alone.

x311 is split-conformal prediction (Vovk; Lei et al.): fit
l_extendedprice ~ l_quantity on the train split (exact DECIMAL normal
equations), take the ceil(0.9·n)-th absolute residual on the calibration
split as the conformal radius q, and measure empirical coverage of
y ± q on the test split — the distribution-free ~90% interval a model
service attaches to predictions.  All splits are the deterministic
multiplicative-hash family (x121), all order statistics exact.

x312 is the k-anonymity release audit: quasi-identifier tuples
(lang, source, length bucket) with group size < k re-identify their
members; report risky groups/docs/share for k ∈ {2, 5, 10} — the
privacy gate next to x144's PII redaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x310: positive-PMI word graph → LPA communities -------------------------

_X310_EDGES_FMT = """
    WITH toks AS ({toks}),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    big AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
      WHERE a.w <> b.w
      GROUP BY a.w, b.w),
    btot AS (SELECT CAST(SUM(c) AS BIGINT) AS bn FROM big),
    e0 AS (
      SELECT w1, w2 FROM big
      JOIN uni u1 ON big.w1 = u1.w JOIN uni u2 ON big.w2 = u2.w
      CROSS JOIN tot CROSS JOIN btot
      WHERE big.c >= 5 AND {pmi_pos}
    )
    SELECT w1 AS src, w2 AS dst FROM e0
    UNION
    SELECT w2 AS src, w1 AS dst FROM e0
"""

_TOKS_SPARK = """
      SELECT doc_id, w, idx FROM documents
      LATERAL VIEW posexplode(split(lower(text), ' ')) t AS idx, w"""
# pmi > 0 ⟺ c·n² > bn·c₁·c₂ — EXACT wide arithmetic (the BIGINT form
# overflowed at the 100× replica: c·n² ≈ 1e21).  Spark chains DECIMAL
# casts (12,0 × 12,0 × 12,0 → precision 38, values ≤ 22 digits so no
# loss); DuckDB uses HUGEINT (int128).  Both are exact, so the edge sets
# stay identical.
_PMI_POS_SPARK = (
    "CAST(big.c AS DECIMAL(12,0)) * CAST(n AS DECIMAL(12,0)) * CAST(n AS DECIMAL(12,0))"
    " > CAST(bn AS DECIMAL(12,0)) * CAST(u1.c AS DECIMAL(12,0)) * CAST(u2.c AS DECIMAL(12,0))"
)
_PMI_POS_DUCK = (
    "CAST(big.c AS HUGEINT) * CAST(n AS HUGEINT) * CAST(n AS HUGEINT)"
    " > CAST(bn AS HUGEINT) * CAST(u1.c AS HUGEINT) * CAST(u2.c AS HUGEINT)"
)

_TOKS_DUCK = """
      SELECT doc_id, ws[i] AS w, i AS idx FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        LATERAL unnest(generate_series(1, len(ws))) AS t(i)"""


def _x310_lpa_oracle() -> str:
    edges = _X310_EDGES_FMT.format(toks=_TOKS_DUCK, pmi_pos=_PMI_POS_DUCK)
    return f"""
    WITH e AS (SELECT src AS node, dst AS nbr FROM ({edges}) ee),
    l0 AS (SELECT DISTINCT node, node AS lab FROM e),
    c1 AS (SELECT e.node, l.lab, COUNT(*) AS c
           FROM e JOIN l0 l ON e.nbr = l.node GROUP BY e.node, l.lab),
    l1 AS (SELECT node, lab FROM (
             SELECT node, lab,
                    ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
             FROM c1) t WHERE rn = 1),
    c2 AS (SELECT e.node, l.lab, COUNT(*) AS c
           FROM e JOIN l1 l ON e.nbr = l.node GROUP BY e.node, l.lab),
    l2 AS (SELECT node, lab FROM (
             SELECT node, lab,
                    ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
             FROM c2) t WHERE rn = 1)
    SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_words,
           MIN(node) AS min_word
    FROM l2 GROUP BY lab ORDER BY n_words DESC, community LIMIT 50
"""


@register(
    "x310_pmi_topic_communities",
    oracle=_x310_lpa_oracle(),
    tags=("text", "graph", "clustering"),
)
def x310_pmi_topic_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.graph import label_propagation

    load_tables(spark, sf_dir)
    edges = spark.sql(_X310_EDGES_FMT.format(toks=_TOKS_SPARK, pmi_pos=_PMI_POS_SPARK))
    labels = label_propagation(edges, rounds=2)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_words"), F.min("node").alias("min_word"))
        .orderBy(F.desc("n_words"), "community")
        .limit(50)
    )


# -- x311: split-conformal prediction interval --------------------------------
# splits: hash(l_orderkey*8 + l_linenumber) % 10 → 0-5 train, 6-7 cal,
# 8-9 test (the x121 multiplicative-hash family, key made unique per row).

_X311_FMT = """
    WITH base AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             (l_orderkey * 8 + l_linenumber) AS rid,
             ((l_orderkey * 8 + l_linenumber) * 2654435761) % 4294967296 % 10
               AS bucket
      FROM lineitem
    ),
    train AS (SELECT * FROM base WHERE bucket <= 5),
    fit AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)))
                  AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)))
                  AS DECIMAL(38,4)) AS DOUBLE) AS sxy
      FROM train
    ),
    coef AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept
      FROM fit
    ),
    cal AS (
      -- calibration is a BOUNDED hash-sample of its split: conformal
      -- validity needs only ~100s-1000s of points, and the order
      -- statistic below is a global window — unbounded it was a 12 M-row
      -- single-partition sort at the 100× replica.  The secondary
      -- multiplicative hash keeps ~2% of the split deterministically.
      SELECT ABS(b.y - (c.icept + c.slope * b.x)) AS r, b.rid
      FROM base b CROSS JOIN coef c
      WHERE b.bucket IN (6, 7)
        AND ((b.rid * 1103515245) % 4294967296) % 50 = 0
    ),
    cb AS (SELECT MIN(r) AS lo, MAX(r) AS hi,
                  CAST(COUNT(*) AS BIGINT) AS nc FROM cal),
    cch AS (
      -- the calibration split is RATE-based (2% of rows), so its order
      -- statistic must not run through one unpartitioned rank window
      -- (the x442 class at 100 TB).  Value-range chunking (x198/x238
      -- family): <=1000 monotone chunks, partitioned ranks, prefix
      -- offsets over the chunk grid reconstruct the exact global rank.
      SELECT c.r, c.rid,
             CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR((c.r - b.lo) * 1000
                                        / (b.hi - b.lo)) AS BIGINT),
                             CAST(999 AS BIGINT)) END AS ck
      FROM cal c CROSS JOIN cb b
    ),
    cw AS (
      SELECT r, ck,
             ROW_NUMBER() OVER (PARTITION BY ck ORDER BY r, rid) AS r_in
      FROM cch
    ),
    co AS (
      SELECT ck, COALESCE(SUM(c) OVER (ORDER BY ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c FROM cch GROUP BY ck)
    ),
    q AS (
      SELECT w.r AS radius
      FROM cw w JOIN co o ON w.ck = o.ck CROSS JOIN cb b
      WHERE o.off + w.r_in = CAST(CEIL(0.9 * b.nc) AS BIGINT)
    ),
    test AS (
      SELECT CASE WHEN ABS(b.y - (c.icept + c.slope * b.x)) <= q.radius
                  THEN 1 ELSE 0 END AS hit
      FROM base b CROSS JOIN coef c CROSS JOIN q WHERE b.bucket >= 8
    )
    SELECT ROUND(c.slope, 6) AS slope, ROUND(c.icept, 4) AS intercept,
           ROUND(q.radius, 4) AS conformal_radius,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(hit) * 10000 {div} COUNT(*) AS BIGINT) AS coverage_bp,
           SUM(hit) * 100 >= 85 * COUNT(*)
             AND SUM(hit) * 100 <= 97 * COUNT(*) AS near_nominal
    FROM test CROSS JOIN coef c CROSS JOIN q
    GROUP BY c.slope, c.icept, q.radius
"""

@register(
    "x311_conformal_interval",
    oracle=_X311_FMT.format(div="//"),
    tags=("stats", "ml"),
)
def x311_conformal_interval(spark, sf_dir):
    """r14 restructure (guide §2.4): every reference to `coef` and `q`
    re-expanded the whole fit chain down to the lineitem scan — 23
    lineitem scans, 92 exchanges in one plan.  Materializing the four
    natural boundaries (base once; the one-row coef; the bounded cal
    sample; the one-row q) runs the lineitem scan ONCE; all CTE
    expressions and the DuckDB oracle are textually unchanged."""
    load_tables(spark, sf_dir)
    # base stays an unmaterialized DataFrame, not a checkpoint:
    # materializing the full projected lineitem costs more than the three
    # pruned parquet re-scans it would save (measured 0.95x at sf0.1), and
    # at scale writing the whole fact projection is strictly worse.
    base = spark.sql(
        """
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             (l_orderkey * 8 + l_linenumber) AS rid,
             ((l_orderkey * 8 + l_linenumber) * 2654435761) % 4294967296 % 10
               AS bucket
      FROM lineitem"""
    )
    coef = spark.sql(
        """
    WITH base AS (SELECT * FROM {base}),
    train AS (SELECT * FROM base WHERE bucket <= 5),
    fit AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)))
                  AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)))
                  AS DECIMAL(38,4)) AS DOUBLE) AS sxy
      FROM train
    )
    SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept
    FROM fit""",
        base=base,
    ).localCheckpoint()
    cal = spark.sql(
        """
      SELECT ABS(b.y - (c.icept + c.slope * b.x)) AS r, b.rid
      FROM {base} b CROSS JOIN (SELECT * FROM {coef} LIMIT 1) c
      WHERE b.bucket IN (6, 7)
        AND ((b.rid * 1103515245) % 4294967296) % 50 = 0""",
        base=base,
        coef=coef,
    ).localCheckpoint()
    q = spark.sql(
        """
    WITH cal AS (SELECT * FROM {cal}),
    cb AS (SELECT MIN(r) AS lo, MAX(r) AS hi,
                  CAST(COUNT(*) AS BIGINT) AS nc FROM cal),
    cch AS (
      SELECT c.r, c.rid,
             CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR((c.r - b.lo) * 1000
                                        / (b.hi - b.lo)) AS BIGINT),
                             CAST(999 AS BIGINT)) END AS ck
      FROM cal c CROSS JOIN cb b
    ),
    cw AS (
      SELECT r, ck,
             ROW_NUMBER() OVER (PARTITION BY ck ORDER BY r, rid) AS r_in
      FROM cch
    ),
    co AS (
      SELECT ck, COALESCE(SUM(c) OVER (ORDER BY ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c FROM cch GROUP BY ck)
    )
    SELECT w.r AS radius
    FROM cw w JOIN co o ON w.ck = o.ck CROSS JOIN cb b
    WHERE o.off + w.r_in = CAST(CEIL(0.9 * b.nc) AS BIGINT)""",
        cal=cal,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH test AS (
      SELECT CASE WHEN ABS(b.y - (c.icept + c.slope * b.x)) <= q.radius
                  THEN 1 ELSE 0 END AS hit
      FROM {base} b CROSS JOIN (SELECT * FROM {coef} LIMIT 1) c
           CROSS JOIN (SELECT * FROM {q} LIMIT 1) q
      WHERE b.bucket >= 8
    )
    SELECT ROUND(c.slope, 6) AS slope, ROUND(c.icept, 4) AS intercept,
           ROUND(q.radius, 4) AS conformal_radius,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(hit) * 10000 DIV COUNT(*) AS BIGINT) AS coverage_bp,
           SUM(hit) * 100 >= 85 * COUNT(*)
             AND SUM(hit) * 100 <= 97 * COUNT(*) AS near_nominal
    FROM test CROSS JOIN (SELECT * FROM {coef} LIMIT 1) c
         CROSS JOIN (SELECT * FROM {q} LIMIT 1) q
    GROUP BY c.slope, c.icept, q.radius""",
        base=base,
        coef=coef,
        q=q,
    )

# -- x312: k-anonymity audit ---------------------------------------------------

_X312_FMT = """
    WITH qi AS (
      SELECT lang, source, n_chars {div} 50 AS len_bucket FROM documents
    ),
    grp AS (
      SELECT lang, source, len_bucket, COUNT(*) AS sz
      FROM qi GROUP BY lang, source, len_bucket
    ),
    ks AS ({gen_k}),
    tot AS (
      -- grp IS the distinct (lang, source, len_bucket) grid — reuse it
      -- instead of a COUNT(DISTINCT tuple) over raw docs, which plans
      -- as a 2x row EXPAND of the whole table (r12)
      SELECT CAST(SUM(sz) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_groups
      FROM grp)
    SELECT k.k,
           t.n_groups,
           CAST(SUM(CASE WHEN g.sz < k.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(SUM(CASE WHEN g.sz < k.k THEN g.sz ELSE 0 END) AS BIGINT)
             AS n_risky_docs,
           CAST(SUM(CASE WHEN g.sz < k.k THEN g.sz ELSE 0 END) * 10000
                {div} t.n_docs AS BIGINT) AS risky_bp
    FROM grp g CROSS JOIN ks k CROSS JOIN tot t
    GROUP BY k.k, t.n_groups, t.n_docs ORDER BY k.k
"""

register_sql(
    "x312_k_anonymity",
    spark_sql=_X312_FMT.format(
        gen_k="SELECT explode(array(2, 5, 10)) AS k", div="DIV"
    ),
    duckdb_sql=_X312_FMT.format(gen_k="SELECT unnest([2, 5, 10]) AS k", div="//"),
    tags=("privacy", "audit"),
)
