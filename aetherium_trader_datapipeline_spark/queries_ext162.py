"""Wave 162 (x552–x554): empirical Bayes for rates, graph keywords, and
the inspection paradox.

x552 — beta-binomial empirical Bayes: per-user conversion rates shrunk
toward the population by method-of-moments (α, β) from the exact
moments of the raw rates; output compares the noisiest raw extremes
against their shrunk values — the rate counterpart of x449's
James–Stein means (k/n with tiny n is the classic leaderboard trap).

x553 — TextRank keywords: two unrolled iterations of integer PageRank
over the term co-occurrence graph (top-40 df terms; edges weighted by
co-document counts), entirely in SQL on both sides — scores stay exact
integers (1e6-scaled uniform init, weighted-degree normalization by
integer division), so the keyword ranking hash-verifies.  Graph
centrality keywords vs x227's RAKE statistics.

x554 — the inspection paradox, measured: the mean inter-event gap vs
the mean LENGTH OF THE GAP COVERING a random probe time (hourly
marks): length-biased sampling makes the covering gap systematically
larger (E[L²]/E[L] ≥ E[L]) — the bias behind "my bus wait is longer
than the schedule" and behind any sampled-at-time monitoring metric.
Exact integer gap sums; probes matched to covering gaps by as-of
logic.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x552: empirical Bayes rates --------------------------------------------------------------

_X552 = """
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY user_id
    ),
    moms AS (
      -- raw-rate moments, 1e9-quantized per user before the sums
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(FLOOR(CAST(k AS DOUBLE) / n * 1e9) AS BIGINT))
                  AS BIGINT) AS s1,
             CAST(SUM(CAST(FLOOR(POWER(CAST(k AS DOUBLE) / n, 2) * 1e9)
                           AS BIGINT)) AS BIGINT) AS s2
      FROM per_user
    ),
    fitted AS (
      -- MoM: mu = E[p]; var = E[p^2]-mu^2; nu = mu(1-mu)/var - 1;
      -- alpha = mu*nu, beta = (1-mu)*nu
      SELECT CAST(s1 AS DOUBLE) / m / 1e9 AS mu,
             CAST(s2 AS DOUBLE) / m / 1e9
               - POWER(CAST(s1 AS DOUBLE) / m / 1e9, 2) AS v
      FROM moms
    ),
    params AS (
      SELECT mu, v,
             CASE WHEN v > 0 AND mu * (1 - mu) > v
                  THEN mu * (mu * (1 - mu) / v - 1) ELSE 1.0 END AS alpha,
             CASE WHEN v > 0 AND mu * (1 - mu) > v
                  THEN (1 - mu) * (mu * (1 - mu) / v - 1)
                  ELSE 1.0 END AS beta
      FROM fitted
    ),
    shrunk AS (
      SELECT u.user_id, u.n, u.k,
             CAST(u.k AS DOUBLE) / u.n AS raw_rate,
             (u.k + p.alpha) / (u.n + p.alpha + p.beta) AS eb_rate,
             p.mu
      FROM per_user u CROSS JOIN params p
    ),
    -- top-5 / bottom-5 via ORDER BY ... LIMIT (TakeOrderedAndProject,
    -- per-partition top-k): the earlier form ranked EVERY user through
    -- one unpartitioned ROW_NUMBER window just to keep ten rows (the
    -- x442 class).  A top-5 row that is also a bottom-5 row (tiny
    -- populations) keeps the 'top_raw' bucket, exactly like hi<=5 won
    -- the old CASE.
    top5 AS (
      SELECT user_id, n, k, raw_rate, eb_rate, mu
      FROM shrunk ORDER BY raw_rate DESC, user_id LIMIT 5
    ),
    bot5 AS (
      SELECT user_id, n, k, raw_rate, eb_rate, mu
      FROM shrunk ORDER BY raw_rate, user_id LIMIT 5
    ),
    extremes AS (
      SELECT user_id, n, k, raw_rate, eb_rate, mu, 'top_raw' AS bucket
      FROM top5
      UNION ALL
      SELECT b.user_id, b.n, b.k, b.raw_rate, b.eb_rate, b.mu,
             'bottom_raw' AS bucket
      FROM bot5 b
      WHERE NOT EXISTS (SELECT 1 FROM top5 t WHERE t.user_id = b.user_id)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n AS n_events,
           k AS n_purchases,
           ROUND(raw_rate, 6) AS raw_rate,
           ROUND(eb_rate, 6) AS eb_rate,
           ROUND(mu, 6) AS population_rate,
           bucket
    FROM extremes
    ORDER BY raw_rate DESC, user_id
"""

register_sql(
    "x552_empirical_bayes_rates",
    spark_sql=_X552,
    duckdb_sql=_X552,
    tags=("stats", "experiment"),
)

# -- x553: TextRank keywords --------------------------------------------------------------------

_X553 = """
    WITH tok AS ({tok}),
    postings AS (SELECT DISTINCT doc_id, term FROM tok),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      FROM postings GROUP BY term
    ),
    vocab AS (
      SELECT term, df,
             ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rk
      FROM df
    ),
    nodes AS (SELECT term, df FROM vocab WHERE rk <= 40),
    edge_docs AS (
      -- deterministic 10% doc sample for GRAPH CONSTRUCTION: the pair
      -- join is |docs|·k² rows and the full corpus measured 46 s at
      -- 100×; df/vocab stay full-corpus, only edge weights sample
      SELECT doc_id, term FROM postings WHERE doc_id % 10 = 0
    ),
    edges AS (
      -- co-occurrence weights between vocabulary terms
      SELECT pa.term AS u, pb.term AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM edge_docs pa
      JOIN edge_docs pb
        ON pa.doc_id = pb.doc_id AND pa.term != pb.term
      JOIN nodes na ON pa.term = na.term
      JOIN nodes nb ON pb.term = nb.term
      GROUP BY pa.term, pb.term
    ),
    wdeg AS (
      SELECT u, CAST(SUM(w) AS BIGINT) AS wd FROM edges GROUP BY u
    ),
    -- integer PageRank, two unrolled iterations, damping 0.85 in
    -- 1/100 units: pr' = 15*UNIT/100 + 85/100 * sum(w/wd * pr)
    pr1 AS (
      SELECT e.v AS term,
             150000 + 85 * CAST(SUM(e.w * 1000000 {intdiv} d.wd)
                                AS BIGINT) {intdiv} 100 AS score
      FROM edges e JOIN wdeg d ON e.u = d.u
      GROUP BY e.v
    ),
    pr2 AS (
      SELECT e.v AS term,
             150000 + 85 * CAST(SUM((e.w * p.score {intdiv} d.wd))
                                AS BIGINT) {intdiv} 100 AS score
      FROM edges e
      JOIN wdeg d ON e.u = d.u
      JOIN pr1 p ON e.u = p.term
      GROUP BY e.v
    )
    SELECT p.term, n.df, CAST(p.score AS BIGINT) AS textrank_fp,
           ROUND(p.score / 1e6, 6) AS textrank
    FROM pr2 p JOIN nodes n ON p.term = n.term
    ORDER BY p.score DESC, p.term LIMIT 10
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
    "x553_textrank_keywords",
    oracle=_X553.format(tok=_TOK_DUCK, intdiv="//"),
    tags=("text", "graph"),
)
def x553_textrank_keywords(spark, sf_dir):
    """r14 restructure (guide §2.4): `postings` (the distinct token
    explode) was re-expanded by df and both edge_docs sides, and `edges`
    by wdeg/pr1/pr2 — each expansion re-running the corpus scan — 17
    documents scans, 98 exchanges in one plan.  Checkpointing postings,
    nodes and edges runs the corpus pass ONCE; the two unrolled PageRank
    iterations read the tiny (<=40x40) edge checkpoint.  All expressions
    and the DuckDB oracle are textually unchanged."""
    load_tables(spark, sf_dir)
    postings = spark.sql(
        f"""
    WITH tok AS ({_TOK_SPARK})
    SELECT DISTINCT doc_id, term FROM tok"""
    ).localCheckpoint()
    nodes = spark.sql(
        """
    WITH df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      FROM {postings} GROUP BY term
    ),
    vocab AS (
      SELECT term, df,
             ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rk
      FROM df
    )
    SELECT term, df FROM vocab WHERE rk <= 40""",
        postings=postings,
    ).localCheckpoint()
    edges = spark.sql(
        """
    WITH edge_docs AS (
      SELECT doc_id, term FROM {postings} WHERE doc_id % 10 = 0
    )
    SELECT pa.term AS u, pb.term AS v,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM edge_docs pa
    JOIN edge_docs pb
      ON pa.doc_id = pb.doc_id AND pa.term != pb.term
    JOIN {nodes} na ON pa.term = na.term
    JOIN {nodes} nb ON pb.term = nb.term
    GROUP BY pa.term, pb.term""",
        postings=postings,
        nodes=nodes,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH wdeg AS (
      SELECT u, CAST(SUM(w) AS BIGINT) AS wd FROM {edges} GROUP BY u
    ),
    pr1 AS (
      SELECT e.v AS term,
             150000 + 85 * CAST(SUM(e.w * 1000000 DIV d.wd)
                                AS BIGINT) DIV 100 AS score
      FROM {edges} e JOIN wdeg d ON e.u = d.u
      GROUP BY e.v
    ),
    pr2 AS (
      SELECT e.v AS term,
             150000 + 85 * CAST(SUM((e.w * p.score DIV d.wd))
                                AS BIGINT) DIV 100 AS score
      FROM {edges} e
      JOIN wdeg d ON e.u = d.u
      JOIN pr1 p ON e.u = p.term
      GROUP BY e.v
    )
    SELECT p.term, n.df, CAST(p.score AS BIGINT) AS textrank_fp,
           ROUND(p.score / 1e6, 6) AS textrank
    FROM pr2 p JOIN {nodes} n ON p.term = n.term
    ORDER BY p.score DESC, p.term LIMIT 10""",
        nodes=nodes,
        edges=edges,
    )

# -- x554: inspection paradox ---------------------------------------------------------------------

_X554 = """
    WITH ets AS (
      -- Same device as x516: the kept gap multiset (consecutive pairs,
      -- et > prev_et) equals consecutive DISTINCT epoch diffs, so the
      -- global LAG over the raw purchase stream (one task for the whole
      -- table — the x442 class) becomes per-day partitioned diffs plus
      -- an O(days) boundary handoff.
      SELECT DISTINCT {epoch} AS et
      FROM events WHERE event_type = 'purchase'
    ),
    bucketed AS (SELECT et, et {intdiv} 86400 AS b FROM ets),
    intra AS (
      SELECT LAG(et) OVER (PARTITION BY b ORDER BY et) AS g_start,
             et AS g_end
      FROM bucketed
    ),
    day_bounds AS (
      SELECT b, MIN(et) AS first_et, MAX(et) AS last_et
      FROM bucketed GROUP BY b
    ),
    crossb AS (
      SELECT LAG(last_et) OVER (ORDER BY b) AS g_start,
             first_et AS g_end
      FROM day_bounds
    ),
    gaps AS (
      SELECT g_start, g_end, CAST(g_end - g_start AS BIGINT) AS len_s
      FROM (SELECT g_start, g_end FROM intra WHERE g_start IS NOT NULL
            UNION ALL
            SELECT g_start, g_end FROM crossb WHERE g_start IS NOT NULL) u
    ),
    plain AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(len_s) AS BIGINT) AS s1,
             CAST(SUM(CAST(len_s AS DECIMAL(18,0)) * len_s)
                  AS DECIMAL(38,0)) AS s2
      FROM gaps
    ),
    probes AS (
      -- hourly probe marks inside the observed span
      SELECT (SELECT MIN(g_start) FROM gaps) + h.h * 3600 AS t
      FROM ({gensrc}) h
      WHERE (SELECT MIN(g_start) FROM gaps) + h.h * 3600
            < (SELECT MAX(g_end) FROM gaps)
    ),
    covering AS (
      -- the gap covering each probe time
      SELECT p.t, MIN(g.len_s) AS len_s
      FROM probes p JOIN gaps g
        ON p.t >= g.g_start AND p.t < g.g_end
      GROUP BY p.t
    )
    SELECT pl.n_gaps,
           ROUND(CAST(pl.s1 AS DOUBLE) / pl.n_gaps, 4) AS mean_gap_s,
           CAST(COUNT(c.t) AS BIGINT) AS n_probes,
           ROUND(CAST(SUM(c.len_s) AS DOUBLE) / COUNT(c.t), 4)
             AS mean_covering_gap_s,
           -- theory: E[covering] = E[L^2]/E[L]
           ROUND(CAST(pl.s2 AS DOUBLE) / pl.s1, 4)
             AS size_biased_theory_s,
           ROUND((CAST(SUM(c.len_s) AS DOUBLE) / COUNT(c.t))
                 / (CAST(pl.s1 AS DOUBLE) / pl.n_gaps), 4)
             AS inspection_inflation
    FROM covering c CROSS JOIN plain pl
    GROUP BY pl.n_gaps, pl.s1, pl.s2
"""

_GEN_SPARK = "SELECT explode(sequence(0, 719)) AS h"
_GEN_DUCK = "SELECT unnest(range(0, 720)) AS h"

@register(
    "x554_inspection_paradox",
    oracle=_X554.format(
        epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)", gensrc=_GEN_DUCK,
        intdiv="//",
    ),
    tags=("stats", "events"),
)
def x554_inspection_paradox(spark, sf_dir):
    """r14 restructure (guide §2.4): `gaps` was re-expanded by plain,
    covering and THREE scalar subqueries inside probes — each expansion
    re-running the events scan, the DISTINCT and the gap windows (10
    events scans, 56 exchanges in one plan; 3.7-8.5 s and unstable at
    sf0.1).  Checkpointing gaps runs that chain ONCE; the probe/covering
    tail reads the checkpoint.  All expressions and the DuckDB oracle
    are textually unchanged."""
    load_tables(spark, sf_dir)
    gaps = spark.sql(
        """
    WITH ets AS (
      SELECT DISTINCT unix_seconds(ts) AS et
      FROM events WHERE event_type = 'purchase'
    ),
    bucketed AS (SELECT et, et DIV 86400 AS b FROM ets),
    intra AS (
      SELECT LAG(et) OVER (PARTITION BY b ORDER BY et) AS g_start,
             et AS g_end
      FROM bucketed
    ),
    day_bounds AS (
      SELECT b, MIN(et) AS first_et, MAX(et) AS last_et
      FROM bucketed GROUP BY b
    ),
    crossb AS (
      SELECT LAG(last_et) OVER (ORDER BY b) AS g_start,
             first_et AS g_end
      FROM day_bounds
    )
    SELECT g_start, g_end, CAST(g_end - g_start AS BIGINT) AS len_s
    FROM (SELECT g_start, g_end FROM intra WHERE g_start IS NOT NULL
          UNION ALL
          SELECT g_start, g_end FROM crossb WHERE g_start IS NOT NULL) u"""
    ).localCheckpoint()
    return spark.sql(
        """
    WITH gaps AS (SELECT g_start, g_end, len_s FROM {gaps}),
    plain AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(len_s) AS BIGINT) AS s1,
             CAST(SUM(CAST(len_s AS DECIMAL(18,0)) * len_s)
                  AS DECIMAL(38,0)) AS s2
      FROM gaps
    ),
    probes AS (
      SELECT (SELECT MIN(g_start) FROM gaps) + h.h * 3600 AS t
      FROM (SELECT explode(sequence(0, 719)) AS h) h
      WHERE (SELECT MIN(g_start) FROM gaps) + h.h * 3600
            < (SELECT MAX(g_end) FROM gaps)
    ),
    covering AS (
      SELECT p.t, MIN(g.len_s) AS len_s
      FROM probes p JOIN gaps g
        ON p.t >= g.g_start AND p.t < g.g_end
      GROUP BY p.t
    )
    SELECT pl.n_gaps,
           ROUND(CAST(pl.s1 AS DOUBLE) / pl.n_gaps, 4) AS mean_gap_s,
           CAST(COUNT(c.t) AS BIGINT) AS n_probes,
           ROUND(CAST(SUM(c.len_s) AS DOUBLE) / COUNT(c.t), 4)
             AS mean_covering_gap_s,
           ROUND(CAST(pl.s2 AS DOUBLE) / pl.s1, 4)
             AS size_biased_theory_s,
           ROUND((CAST(SUM(c.len_s) AS DOUBLE) / COUNT(c.t))
                 / (CAST(pl.s1 AS DOUBLE) / pl.n_gaps), 4)
             AS inspection_inflation
    FROM covering c CROSS JOIN plain pl
    GROUP BY pl.n_gaps, pl.s1, pl.s2""",
        gaps=gaps,
    )
