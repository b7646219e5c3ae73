"""Wave 125 (x447–x449): rank fusion, Simpson reversal, shrinkage.

x447 — reciprocal-rank fusion (Cormack et al. 2009): the hybrid-search
combiner.  Ranking A is lexical (Σ tf·1e9-quantized idf over the fixed
query terms, an exact BIGINT); ranking B is a metadata prior (n_chars
desc).  RRF = Σ 1/(60+rank) — each of the two reciprocal terms is
1e12-quantized before the two-term sum, so fused scores and the fused
top-10 order hash exactly.

x448 — Simpson's-paradox detector: the OLS slope sign of value vs
hour-of-day computed overall AND within each event_type, from
DECIMAL-exact moments of 1e6-quantized values; a group whose slope sign
opposes the pooled slope is flagged — aggregation reversing a trend is
the canonical dashboard trap.

x449 — James-Stein shrinkage of per-group means toward the grand mean:
the positive-part factor 1 − (k−3)·σ̂²/S, with σ̂² the pooled within
variance over the mean's sampling variance and S = Σ(ȳ_i − ȳ)².  All
moments DECIMAL-exact; the estimator the experimentation platform
applies before ranking many small arms (winner's-curse control).
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x447: reciprocal rank fusion -----------------------------------------------------

_X447 = """
    WITH tok AS ({tok}),
    lex AS (
      SELECT t.doc_id,
             CAST(SUM(t.tf * i.idf_fp) AS BIGINT) AS lex_fp
      FROM (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE term IN ('table', 'value', 'row')
        GROUP BY doc_id, term
      ) t
      JOIN (
        SELECT term,
               CAST(FLOOR(LN((CAST((SELECT COUNT(*) FROM documents)
                              AS DOUBLE) + 1.0) / (COUNT(DISTINCT doc_id)
                              + 1.0)) * 1e9) AS BIGINT) AS idf_fp
        FROM tok WHERE term IN ('table', 'value', 'row')
        GROUP BY term
      ) i ON t.term = i.term
      GROUP BY t.doc_id
    ),
    cand AS (
      SELECT l.doc_id, l.lex_fp, d.n_chars
      FROM lex l JOIN documents d ON l.doc_id = d.doc_id
    ),
    -- per-list ranks via value-range chunking (x198/x238 family): the
    -- candidate set is every doc matching the query terms — corpus-scaled
    -- for common terms — so the rank windows must not single-partition
    -- (the x442 class).  ck ascends as the list score DESCENDS; global
    -- rank = prefix offset over the <=1000-row chunk grid + in-chunk
    -- rank.  Both lists share ONE chunk-id CTE and ONE two-window pass
    -- so Spark's CTE inlining re-expands the expensive tokenize scan 4x
    -- instead of 8x (r11 review).
    bounds AS (
      SELECT MIN(lex_fp) AS llo, MAX(lex_fp) AS lhi,
             MIN(n_chars) AS mlo, MAX(n_chars) AS mhi
      FROM cand
    ),
    cch AS (
      SELECT c.doc_id, c.lex_fp, c.n_chars,
             CASE WHEN b.lhi = b.llo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR(CAST(b.lhi - c.lex_fp AS DOUBLE)
                                  * 1000 / CAST(b.lhi - b.llo AS DOUBLE))
                                  AS BIGINT), CAST(999 AS BIGINT)) END AS ckl,
             CASE WHEN b.mhi = b.mlo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR(CAST(b.mhi - c.n_chars AS DOUBLE)
                                  * 1000 / CAST(b.mhi - b.mlo AS DOUBLE))
                                  AS BIGINT), CAST(999 AS BIGINT)) END AS ckm
      FROM cand c CROSS JOIN bounds b
    ),
    wrk AS (
      SELECT doc_id, ckl, ckm,
             ROW_NUMBER() OVER (PARTITION BY ckl
                                ORDER BY lex_fp DESC, doc_id) AS rl_in,
             ROW_NUMBER() OVER (PARTITION BY ckm
                                ORDER BY n_chars DESC, doc_id) AS rm_in
      FROM cch
    ),
    lg AS (
      SELECT ckl, COALESCE(SUM(c) OVER (ORDER BY ckl
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ckl, CAST(COUNT(*) AS BIGINT) AS c FROM cch GROUP BY ckl)
    ),
    mg AS (
      SELECT ckm, COALESCE(SUM(c) OVER (ORDER BY ckm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ckm, CAST(COUNT(*) AS BIGINT) AS c FROM cch GROUP BY ckm)
    ),
    fused AS (
      SELECT w.doc_id,
             CAST(lg.off + w.rl_in AS BIGINT) AS rank_lex,
             CAST(mg.off + w.rm_in AS BIGINT) AS rank_meta,
             CAST(FLOOR(1e12 / (60 + lg.off + w.rl_in)) AS BIGINT)
               + CAST(FLOOR(1e12 / (60 + mg.off + w.rm_in)) AS BIGINT)
               AS rrf_fp
      FROM wrk w JOIN lg ON w.ckl = lg.ckl
      JOIN mg ON w.ckm = mg.ckm
    )
    SELECT doc_id,
           rank_lex,
           rank_meta,
           ROUND(rrf_fp / 1e12, 9) AS rrf_score
    FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT 10
"""

_TOK_SPARK = """
      SELECT doc_id, w AS term
      FROM documents LATERAL VIEW explode(split(lower(text), ' ')) t AS w
      WHERE w != ''
"""
_TOK_DUCK = """
      SELECT doc_id, w AS term FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents) u
      WHERE w != ''
"""

@register(
    "x447_rrf_fusion",
    oracle=_X447.format(tok=_TOK_DUCK),
    tags=("retrieval",),
)
def x447_rrf_fusion(spark, sf_dir):
    """r14 restructure (guide §2.4): CTE inlining re-expanded the token
    explode per reference — lex reads tok twice (tf side and idf side),
    and wrk/lg/mg each re-expand cch -> cand -> lex -> tok — 19 documents
    scans, 101 exchanges in one plan.  Changes, oracle untouched:
    (1) the tf grouping runs ONCE and the idf side derives from it
    (each (doc_id, term) appears once in the tf frame, so COUNT(*) per
    term there IS COUNT(DISTINCT doc_id) per term in tok); (2) `cand`
    and `cch` are checkpointed once; the two-list chunked-rank tail reads
    the small checkpoints.  19 documents scans -> 2 (token pass + the
    corpus-count scalar / n_chars join)."""
    load_tables(spark, sf_dir)
    tf = spark.sql(
        f"""
    WITH tok AS ({_TOK_SPARK})
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok WHERE term IN ('table', 'value', 'row')
    GROUP BY doc_id, term"""
    ).localCheckpoint()
    cand = spark.sql(
        """
    WITH lex AS (
      SELECT t.doc_id,
             CAST(SUM(t.tf * i.idf_fp) AS BIGINT) AS lex_fp
      FROM {tf} t
      JOIN (
        SELECT term,
               CAST(FLOOR(LN((CAST((SELECT COUNT(*) FROM documents)
                              AS DOUBLE) + 1.0) / (COUNT(*)
                              + 1.0)) * 1e9) AS BIGINT) AS idf_fp
        FROM {tf}
        GROUP BY term
      ) i ON t.term = i.term
      GROUP BY t.doc_id
    )
    SELECT l.doc_id, l.lex_fp, d.n_chars
    FROM lex l JOIN documents d ON l.doc_id = d.doc_id""",
        tf=tf,
    ).localCheckpoint()
    cch = spark.sql(
        """
    WITH bounds AS (
      SELECT MIN(lex_fp) AS llo, MAX(lex_fp) AS lhi,
             MIN(n_chars) AS mlo, MAX(n_chars) AS mhi
      FROM {cand}
    )
    SELECT c.doc_id, c.lex_fp, c.n_chars,
           CASE WHEN b.lhi = b.llo THEN CAST(0 AS BIGINT)
                ELSE LEAST(CAST(FLOOR(CAST(b.lhi - c.lex_fp AS DOUBLE)
                                * 1000 / CAST(b.lhi - b.llo AS DOUBLE))
                                AS BIGINT), CAST(999 AS BIGINT)) END AS ckl,
           CASE WHEN b.mhi = b.mlo THEN CAST(0 AS BIGINT)
                ELSE LEAST(CAST(FLOOR(CAST(b.mhi - c.n_chars AS DOUBLE)
                                * 1000 / CAST(b.mhi - b.mlo AS DOUBLE))
                                AS BIGINT), CAST(999 AS BIGINT)) END AS ckm
    FROM {cand} c CROSS JOIN bounds b""",
        cand=cand,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH wrk AS (
      SELECT doc_id, ckl, ckm,
             ROW_NUMBER() OVER (PARTITION BY ckl
                                ORDER BY lex_fp DESC, doc_id) AS rl_in,
             ROW_NUMBER() OVER (PARTITION BY ckm
                                ORDER BY n_chars DESC, doc_id) AS rm_in
      FROM {cch}
    ),
    lg AS (
      SELECT ckl, COALESCE(SUM(c) OVER (ORDER BY ckl
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ckl, CAST(COUNT(*) AS BIGINT) AS c FROM {cch}
            GROUP BY ckl)
    ),
    mg AS (
      SELECT ckm, COALESCE(SUM(c) OVER (ORDER BY ckm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ckm, CAST(COUNT(*) AS BIGINT) AS c FROM {cch}
            GROUP BY ckm)
    ),
    fused AS (
      SELECT w.doc_id,
             CAST(lg.off + w.rl_in AS BIGINT) AS rank_lex,
             CAST(mg.off + w.rm_in AS BIGINT) AS rank_meta,
             CAST(FLOOR(1e12 / (60 + lg.off + w.rl_in)) AS BIGINT)
               + CAST(FLOOR(1e12 / (60 + mg.off + w.rm_in)) AS BIGINT)
               AS rrf_fp
      FROM wrk w JOIN lg ON w.ckl = lg.ckl
      JOIN mg ON w.ckm = mg.ckm
    )
    SELECT doc_id,
           rank_lex,
           rank_meta,
           ROUND(rrf_fp / 1e12, 9) AS rrf_score
    FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT 10""",
        cch=cch,
    )

# -- x448: Simpson's paradox detector --------------------------------------------------

_X448 = """
    WITH obs AS (
      SELECT event_type,
             CAST({hour} AS BIGINT) AS x,
             CAST(FLOOR(value * 1e6) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    by_group AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM obs GROUP BY event_type
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(sx) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(sy) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(sxx) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(sxy) AS DECIMAL(38,0)) AS sxy
      FROM by_group
    )
    SELECT g.event_type, g.n,
           ROUND(CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                 / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE) / 1e6, 9)
             AS slope_within,
           ROUND(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                 / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) / 1e6, 9)
             AS slope_pooled,
           CASE WHEN SIGN(CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE))
                     * SIGN(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)) < 0
                THEN 1 ELSE 0 END AS simpson_reversal
    FROM by_group g CROSS JOIN pooled p
    WHERE g.n * g.sxx - g.sx * g.sx > 0
    ORDER BY g.event_type
"""

register_sql(
    "x448_simpson_paradox",
    spark_sql=_X448.format(hour="hour(ts)"),
    duckdb_sql=_X448.format(hour="EXTRACT(hour FROM ts)"),
    tags=("stats", "events"),
)

# -- x449: James-Stein shrinkage --------------------------------------------------------

_X449 = """
    WITH obs AS (
      SELECT event_type, CAST(FLOOR(value * 1e6) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    grp AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM obs GROUP BY event_type
    ),
    means AS (
      SELECT event_type, n,
             CAST(sy AS DOUBLE) / n AS ybar,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) AS ssw,
             CAST(SUM(sy) OVER () AS DOUBLE) / SUM(n) OVER () AS grand,
             CAST(COUNT(*) OVER () AS BIGINT) AS k,
             CAST(SUM(n) OVER () AS BIGINT) AS n_all
      FROM grp
    ),
    quant AS (
      -- cross-group sums must be over INTEGERS: a 5-row float window
      -- sum is addition-order-sensitive across engines.  Both terms are
      -- rescaled by 1e-6 (micro² → same shared unit; they only enter as
      -- a ratio) so ssw_fp stays inside BIGINT at 10M+ rows per group.
      SELECT event_type, n, ybar, grand, k, n_all,
             CAST(FLOOR(ssw / 1e6) AS BIGINT) AS ssw_fp,
             CAST(FLOOR((ybar - grand) * (ybar - grand) / 1e6) AS BIGINT)
               AS sb_fp
      FROM means
    ),
    spread AS (
      SELECT event_type, n, ybar, grand, k,
             -- pooled within variance of a group MEAN (σ̂²/n̄)
             CAST(SUM(ssw_fp) OVER () AS DOUBLE)
               / (n_all - k) / (CAST(n_all AS DOUBLE) / k) AS var_mean,
             CAST(SUM(sb_fp) OVER () AS DOUBLE) AS s_between
      FROM quant
    )
    SELECT event_type, n,
           ROUND(ybar / 1e6, 6) AS raw_mean,
           CASE WHEN s_between > 0 THEN
             ROUND(GREATEST(0.0, 1 - (k - 3) * var_mean / s_between), 6)
           ELSE 0.0 END AS shrink_weight,
           CASE WHEN s_between > 0 THEN
             ROUND((grand
                    + GREATEST(0.0, 1 - (k - 3) * var_mean / s_between)
                      * (ybar - grand)) / 1e6, 6)
           ELSE ROUND(grand / 1e6, 6) END AS js_mean
    FROM spread ORDER BY event_type
"""

register_sql(
    "x449_james_stein",
    spark_sql=_X449,
    duckdb_sql=_X449,
    tags=("stats", "experiment"),
)
