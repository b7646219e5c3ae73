"""Wave 88 (x348–x350): dedup threshold sweep, quality funnel, budget fill.

Three dataset-construction DECISIONS, each answered with the measurement
a data lead actually looks at before signing off on a corpus:

x348 — the dedup THRESHOLD sweep: how many near-dup pairs (and how many
documents) does each Jaccard cutoff 0.5→0.9 implicate?  Picking τ from
one number is guesswork; the sweep is the evidence.  Exact bigram-set
Jaccard in integer milli-units over the bounded diagnostic set (the
x291/x306 doc_id ≤ 300 convention bounds the pair join by construction);
all five thresholds are answered by ONE pair computation joined to a
5-row threshold relation — the sweep costs one GROUP BY more than a
single cutoff.

x349 — the quality-filter FUNNEL: cumulative survivor counts through
the standard lexical gates (length → word count → max-word-frequency
repetition → distinct-word diversity), reported per stage with
drop-at-stage counts.  Ordering matters (each stage sees the previous
stages' survivors) and the funnel makes the attrition visible instead
of one opaque AND.  All predicates are exact integer/ratio tests
computed from one token aggregation per doc.

x350 — token-BUDGET waterfill: given a 50%-of-corpus token budget,
take sources greedily by quality rank (distinct-word ratio) — full
sources while they fit, the boundary source partially, the tail not at
all.  One window cumsum over the ~20-row source frame decides every
allocation; the corpus-sized work is only the per-source token count.
The greedy-by-quality rule is the simplest defensible allocation; the
output states it so reviewers can argue with the POLICY, not the code.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

_TOKS_SPARK = """
      SELECT doc_id, w, idx FROM documents
      LATERAL VIEW posexplode(split(lower(text), ' ')) t AS idx, w"""

_TOKS_DUCK = """
      SELECT doc_id, ws[i] AS w, i AS idx FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        LATERAL unnest(generate_series(1, len(ws))) AS t(i)"""

# -- x348: dedup threshold sweep -----------------------------------------------

_X348_FMT = """
    WITH toks AS ({toks}),
    grams AS (
      SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w AS g
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
      WHERE a.doc_id <= 300
    ),
    sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY id),
    inter AS (
      SELECT x.id AS a, y.id AS b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams x JOIN grams y ON x.g = y.g AND x.id < y.id
      GROUP BY x.id, y.id
    ),
    scored AS (
      SELECT i.a, i.b,
             CAST(FLOOR(CAST(i.i AS DOUBLE) * 1000 / (sa.n + sb.n - i.i))
               AS BIGINT) AS j_milli
      FROM inter i
      JOIN sizes sa ON i.a = sa.id JOIN sizes sb ON i.b = sb.id
    ),
    thresholds AS (
      SELECT CAST(t AS BIGINT) AS thr FROM ({thr_rel}) v(t)
    ),
    hits AS (
      SELECT t.thr, s.a, s.b FROM scored s JOIN thresholds t
        ON s.j_milli >= t.thr
    ),
    pair_counts AS (
      SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MIN(a) AS BIGINT) AS min_doc
      FROM hits GROUP BY thr
    ),
    doc_counts AS (
      SELECT thr, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs FROM (
        SELECT thr, a AS d FROM hits UNION SELECT thr, b FROM hits
      ) u GROUP BY thr
    )
    SELECT p.thr, p.n_pairs, d.n_docs, p.min_doc
    FROM pair_counts p JOIN doc_counts d ON p.thr = d.thr
    ORDER BY p.thr
"""

_THR_REL = "VALUES (500), (600), (700), (800), (900)"

@register(
    "x348_dedup_threshold_sweep",
    oracle=_X348_FMT.format(toks=_TOKS_DUCK, thr_rel=_THR_REL),
    tags=("dedup", "audit"),
)
def x348_dedup_threshold_sweep(spark, sf_dir):
    """r14 restructure (guide §2.4): CTE inlining re-ran `toks` per
    reference — grams' self-join reads it twice, grams feeds sizes and
    both sides of inter, and `hits` is expanded three times by the tail —
    24 documents scans, 104 exchanges in one plan.  Changes, oracle
    untouched: (1) the bigram pairing b.idx = a.idx + 1 becomes LEAD over
    the dense posexplode index (identical pairs — idx is consecutive
    0..n-1 within a doc, g is NULL only at the last token); (2) `grams`
    and `scored` are checkpointed once; the threshold tail reads the
    small pair checkpoint.  24 documents scans -> 1."""
    load_tables(spark, sf_dir)
    grams = spark.sql(
        f"""
    WITH toks AS ({_TOKS_SPARK.replace("FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id <= 300) documents")})
    SELECT DISTINCT doc_id AS id, g FROM (
      SELECT doc_id,
             w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY idx)
               AS g
      FROM toks) z
    WHERE g IS NOT NULL"""
    ).localCheckpoint()
    scored = spark.sql(
        """
    WITH grams AS (SELECT id, g FROM {grams}),
    sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY id),
    inter AS (
      SELECT x.id AS a, y.id AS b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams x JOIN grams y ON x.g = y.g AND x.id < y.id
      GROUP BY x.id, y.id
    )
    SELECT i.a, i.b,
           CAST(FLOOR(CAST(i.i AS DOUBLE) * 1000 / (sa.n + sb.n - i.i))
             AS BIGINT) AS j_milli
    FROM inter i
    JOIN sizes sa ON i.a = sa.id JOIN sizes sb ON i.b = sb.id""",
        grams=grams,
    ).localCheckpoint()
    return spark.sql(
        f"""
    WITH thresholds AS (
      SELECT CAST(t AS BIGINT) AS thr FROM ({_THR_REL}) v(t)
    ),
    hits AS (
      SELECT t.thr, s.a, s.b FROM {{scored}} s JOIN thresholds t
        ON s.j_milli >= t.thr
    ),
    pair_counts AS (
      SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MIN(a) AS BIGINT) AS min_doc
      FROM hits GROUP BY thr
    ),
    doc_counts AS (
      SELECT thr, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs FROM (
        SELECT thr, a AS d FROM hits UNION SELECT thr, b FROM hits
      ) u GROUP BY thr
    )
    SELECT p.thr, p.n_pairs, d.n_docs, p.min_doc
    FROM pair_counts p JOIN doc_counts d ON p.thr = d.thr
    ORDER BY p.thr""",
        scored=scored,
    )

# -- x349: quality-filter funnel -----------------------------------------------

_X349_FMT = """
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, {unnest_tok} AS tok FROM documents
      ) t WHERE tok <> ''
    ),
    stats AS (
      SELECT tk.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
             CAST(MAX(cnt) AS BIGINT) AS max_freq
      FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok
      ) tk GROUP BY tk.doc_id
    ),
    gated AS (
      SELECT d.doc_id,
             CASE WHEN d.n_chars >= 200 THEN 1 ELSE 0 END AS f1,
             CASE WHEN s.n_words >= 30 THEN 1 ELSE 0 END AS f2,
             CASE WHEN s.max_freq * 5 <= s.n_words THEN 1 ELSE 0 END AS f3,
             CASE WHEN s.n_distinct * 10 >= s.n_words * 3 THEN 1 ELSE 0 END AS f4
      FROM documents d JOIN stats s ON d.doc_id = s.doc_id
    ),
    stages AS (
      SELECT CAST(stage AS BIGINT) AS stage, CAST(surv AS BIGINT) AS n_surviving
      FROM (
        SELECT 0 AS stage, COUNT(*) AS surv FROM gated
        UNION ALL
        SELECT 1, SUM(f1) FROM gated
        UNION ALL
        SELECT 2, SUM(f1 * f2) FROM gated
        UNION ALL
        SELECT 3, SUM(f1 * f2 * f3) FROM gated
        UNION ALL
        SELECT 4, SUM(f1 * f2 * f3 * f4) FROM gated
      ) u
    )
    SELECT stage, n_surviving,
           COALESCE(LAG(n_surviving) OVER (ORDER BY stage) - n_surviving, 0)
             AS dropped_here
    FROM stages ORDER BY stage
"""

# r14 (guide §2.4): the oracle's five UNION ALL stage branches each
# re-inline `gated` (10 documents scans on the Spark side).  The Spark
# form computes all five survivor counts in ONE aggregate over gated and
# unpivots with stack() — same integers, one corpus pass (matched-protocol
# medians 4.3 -> 3.4 s at sf0.1).
_X349_SPARK = """
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, explode(split(lower(text), ' ')) AS tok FROM documents
      ) t WHERE tok <> ''
    ),
    stats AS (
      SELECT tk.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
             CAST(MAX(cnt) AS BIGINT) AS max_freq
      FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok
      ) tk GROUP BY tk.doc_id
    ),
    gated AS (
      SELECT d.doc_id,
             CASE WHEN d.n_chars >= 200 THEN 1 ELSE 0 END AS f1,
             CASE WHEN s.n_words >= 30 THEN 1 ELSE 0 END AS f2,
             CASE WHEN s.max_freq * 5 <= s.n_words THEN 1 ELSE 0 END AS f3,
             CASE WHEN s.n_distinct * 10 >= s.n_words * 3 THEN 1 ELSE 0 END AS f4
      FROM documents d JOIN stats s ON d.doc_id = s.doc_id
    ),
    agg AS (
      SELECT COUNT(*) AS s0, SUM(f1) AS s1, SUM(f1 * f2) AS s2,
             SUM(f1 * f2 * f3) AS s3, SUM(f1 * f2 * f3 * f4) AS s4
      FROM gated
    ),
    stages AS (
      SELECT CAST(stage AS BIGINT) AS stage, CAST(surv AS BIGINT) AS n_surviving
      FROM (
        SELECT stack(5, 0, s0, 1, s1, 2, s2, 3, s3, 4, s4) AS (stage, surv)
        FROM agg
      ) u
    )
    SELECT stage, n_surviving,
           COALESCE(LAG(n_surviving) OVER (ORDER BY stage) - n_surviving, 0)
             AS dropped_here
    FROM stages ORDER BY stage
"""

register_sql(
    "x349_quality_funnel",
    spark_sql=_X349_SPARK,
    duckdb_sql=_X349_FMT.format(unnest_tok="unnest(string_split(lower(text), ' '))"),
    tags=("quality", "audit"),
)

# -- x350: token-budget waterfill ----------------------------------------------

_X350_FMT = """
    WITH toks AS (
      SELECT source, tok FROM (
        SELECT source, {unnest_tok} AS tok FROM documents
      ) t WHERE tok <> ''
    ),
    per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
      FROM toks GROUP BY source
    ),
    budget AS (
      SELECT CAST(FLOOR(SUM(n_tokens) * 0.5) AS BIGINT) AS b FROM per_source
    ),
    ranked AS (
      SELECT source, n_tokens,
             -- quality = distinct/token ratio in exact milli-units;
             -- deterministic tiebreak on source name
             CAST(FLOOR(CAST(n_distinct AS DOUBLE) * 1000 / n_tokens)
               AS BIGINT) AS quality_milli,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY CAST(FLOOR(CAST(n_distinct AS DOUBLE) * 1000 / n_tokens)
                             AS BIGINT) DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_cum
      FROM per_source
    )
    SELECT r.source, r.quality_milli, r.n_tokens,
           CAST(LEAST(r.n_tokens, GREATEST(b.b - r.prior_cum, 0)) AS BIGINT)
             AS tokens_taken,
           CASE WHEN r.prior_cum + r.n_tokens <= b.b THEN 'full'
                WHEN r.prior_cum < b.b THEN 'partial'
                ELSE 'skipped' END AS allocation
    FROM ranked r CROSS JOIN budget b
    ORDER BY r.quality_milli DESC, r.source
"""

register_sql(
    "x350_token_budget_fill",
    spark_sql=_X350_FMT.format(unnest_tok="explode(split(lower(text), ' '))"),
    duckdb_sql=_X350_FMT.format(unnest_tok="unnest(string_split(lower(text), ' '))"),
    tags=("training", "sampling"),
)
