"""Twentieth extension wave — dedup policy & sampling machinery. All
DuckDB hash-verified; float policy per repo convention (integer counts
under per-row double math, hash orderings with tie-breakers).

- x166 weighted sampling without replacement (Efraimidis–Spirakis): each
  row draws a deterministic pseudo-uniform u from an LCG of its key and
  ranks by ln(u)/w — the top-k under that key IS a weight-proportional
  sample, reproducible across engines and runs. This is the scale form
  of weighted sampling: one TakeOrdered, no per-group state.
- x167 containment (|A∩B| / |A|) over 5-token shingles: the asymmetric
  near-subset detector that Jaccard misses (a short doc embedded in a
  long one scores low Jaccard but high containment). Candidate-then-
  verify shape: candidate pairs come ONLY from rare shingles (df ≤ 50 —
  the stop-shingle guard of operators/dedup.py:77, keeping pair fan-out
  Σdf² bounded; a relaxed corpus-relative cap measured 88 s at 10× from
  quadratic hot-shingle pairs), then the containment numerator is
  verified over ALL shared shingles of each candidate pair, so scores
  are exact. Pairs sharing only hot shingles are missed — the standard
  LSH-style recall trade; near-identical docs reach the exact-dup and
  MinHash paths instead. Width 5 (not 3): on this corpus 3-gram
  collisions produce 2.26 M candidate pairs where 5-grams produce 2,920
  for the same top pairs — shingle width is the first-order fan-out
  knob, before any cap.
- x168 dedup keep-best: dup groups by a 10-token-prefix fingerprint
  (md5 of the normalized prefix — the URL/boilerplate-dup heuristic;
  exact-text grouping is q34/x55) keep the longest member (ties → lowest
  doc_id) and emit kept doc + drop count per group — the
  canonical-selection policy layered on detection.
- x170 duplicated-span REMOVAL: the transform stage of exact substring
  dedup (Lee et al.), keep-first semantics — a duplicated 8-gram's
  tokens are dropped from every doc EXCEPT the lowest-doc_id owner
  (dropping all occurrences erases the entire corpus under heavy
  duplication — measured 0 surviving docs at 10× before the keeper
  exemption), and surviving tokens are re-joined in order.
  Two shuffles (shingle df, doc_id regroup); the rebuild is
  array_sort(collect_list(struct(pos, w))) so output text is
  order-deterministic despite distributed aggregation.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x166: deterministic weighted sampling (A-ES) ---------------------------

register_sql(
    "x166_weighted_sample",
    spark_sql="""
    WITH u AS (
      SELECT doc_id, n_chars,
             (CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE) + 1.0)
               / 2147483649.0 AS uu
      FROM documents)
    SELECT doc_id, n_chars, ROUND(ln(uu) / n_chars, 8) AS skey
    FROM u ORDER BY ln(uu) / n_chars DESC, doc_id LIMIT 100
    """,
    duckdb_sql="""
    WITH u AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             (CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE) + 1.0)
               / 2147483649.0 AS uu
      FROM documents)
    SELECT doc_id, n_chars, ROUND(ln(uu) / n_chars, 8) AS skey
    FROM u ORDER BY ln(uu) / n_chars DESC, doc_id LIMIT 100
    """,
    tags=("sampling", "training"),
)

# -- x167: shingle containment (near-subset detection) ----------------------

@register(
    "x167_containment",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents) d,
      LATERAL unnest(generate_series(1, len(ws) - 4)) AS t(i)
      WHERE len(ws) >= 5),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM sh a JOIN rare ON a.shingle = rare.shingle
                JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS c
      FROM cand c JOIN sh sa ON sa.doc_id = c.a
                  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      GROUP BY c.a, c.b)
    SELECT a, b, CAST(c AS BIGINT) AS n_shared, CAST(sz.n AS BIGINT) AS n_a,
           ROUND(c / CAST(sz.n AS DOUBLE), 4) AS containment
    FROM inter JOIN sz ON inter.a = sz.doc_id
    WHERE c / CAST(sz.n AS DOUBLE) >= 0.5
    ORDER BY containment DESC, a, b LIMIT 100
    """,
    tags=("dedup", "llm"),
)
def x167_containment(spark, sf_dir):
    """r14 restructure (guide §2.4): `sh` (the distinct-shingle explode —
    the expensive pass) was re-inlined six times (sz, rare, both cand
    sides, both inter sides) — 6 documents scans, 28 exchanges in one
    plan.  Checkpointing sh once leaves every downstream join reading the
    small (doc_id, shingle) checkpoint; all expressions and the DuckDB
    oracle are textually unchanged."""
    load_tables(spark, sf_dir)
    sh = spark.sql(
        """
      SELECT DISTINCT doc_id, array_join(slice(ws, i, 5), ' ') AS shingle
      FROM (SELECT doc_id, split(lower(text), ' ') AS ws FROM documents
            ) d
      LATERAL VIEW explode(sequence(1, size(ws) - 4)) t AS i
      WHERE size(ws) >= 5"""
    ).localCheckpoint()
    return spark.sql(
        """
    WITH sh AS (SELECT doc_id, shingle FROM {sh}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM sh a JOIN rare ON a.shingle = rare.shingle
                JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS c
      FROM cand c JOIN sh sa ON sa.doc_id = c.a
                  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      GROUP BY c.a, c.b)
    SELECT a, b, c AS n_shared, sz.n AS n_a,
           ROUND(c / CAST(sz.n AS DOUBLE), 4) AS containment
    FROM inter JOIN sz ON inter.a = sz.doc_id
    WHERE c / CAST(sz.n AS DOUBLE) >= 0.5
    ORDER BY containment DESC, a, b LIMIT 100""",
        sh=sh,
    )

# -- x168: exact-dup keep-best policy ---------------------------------------

register_sql(
    "x168_dedup_keep_best",
    spark_sql="""
    WITH g AS (
      SELECT doc_id, n_chars,
             md5(array_join(slice(split(lower(text), ' '), 1, 10), ' ')) AS grp
      FROM documents),
    r AS (
      SELECT doc_id, grp,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS gsz
      FROM g)
    SELECT grp AS grp_hash, doc_id AS kept_doc, gsz - 1 AS n_dropped
    FROM r WHERE rn = 1 AND gsz > 1
    ORDER BY grp_hash LIMIT 100
    """,
    duckdb_sql="""
    WITH g AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(string_split(lower(text), ' ')[1:10], ' ')) AS grp
      FROM documents),
    r AS (
      SELECT doc_id, grp,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS gsz
      FROM g)
    SELECT grp AS grp_hash, doc_id AS kept_doc, CAST(gsz - 1 AS BIGINT) AS n_dropped
    FROM r WHERE rn = 1 AND gsz > 1
    ORDER BY grp_hash LIMIT 100
    """,
    tags=("dedup", "llm"),
)

# -- x170: duplicated-span removal (exact substring dedup transform) --------
#
# Position arithmetic: shingle index i is 1-based (slice semantics), so a
# duplicated shingle at i covers 1-based token positions i..i+7; Spark's
# posexplode is 0-based, hence the t.i + 1 in the anti-join. Non-keeper
# documents whose every token is covered disappear (same both engines).

register_sql(
    "x170_dup_span_removal",
    spark_sql="""
    WITH d AS (SELECT doc_id, split(lower(text), ' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id, i, array_join(slice(ws, i, 8), ' ') AS shingle
      FROM (SELECT doc_id, ws FROM d WHERE size(ws) >= 8)
      LATERAL VIEW explode(sequence(1, size(ws) - 7)) t AS i),
    dup AS (
      SELECT shingle, MIN(doc_id) AS keeper FROM sh GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) > 1),
    cover AS (
      SELECT DISTINCT s.doc_id, p
      FROM (SELECT sh.doc_id, sh.i FROM sh JOIN dup
              ON sh.shingle = dup.shingle AND sh.doc_id > dup.keeper) s
      LATERAL VIEW explode(sequence(s.i, s.i + 7)) c AS p),
    toks AS (
      SELECT doc_id, i, w FROM d LATERAL VIEW posexplode(ws) t AS i, w),
    kept AS (
      SELECT t.doc_id, t.i, t.w
      FROM toks t LEFT ANTI JOIN cover c
        ON t.doc_id = c.doc_id AND t.i + 1 = c.p)
    SELECT doc_id,
           array_join(transform(array_sort(collect_list(struct(i, w))),
                                s -> s.w), ' ') AS clean_text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id ORDER BY doc_id LIMIT 200
    """,
    duckdb_sql="""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id, i, array_to_string(ws[i:i+7], ' ') AS shingle
      FROM (SELECT doc_id, ws FROM d WHERE len(ws) >= 8) dd,
      LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)),
    dup AS (
      SELECT shingle, MIN(doc_id) AS keeper FROM sh GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) > 1),
    cover AS (
      SELECT DISTINCT s.doc_id, p
      FROM (SELECT sh.doc_id, sh.i FROM sh JOIN dup
              ON sh.shingle = dup.shingle AND sh.doc_id > dup.keeper) s,
      LATERAL unnest(generate_series(s.i, s.i + 7)) AS c(p)),
    toks AS (
      SELECT doc_id, i, ws[i] AS w FROM d,
      LATERAL unnest(generate_series(1, len(ws))) AS t(i)),
    kept AS (
      SELECT t.doc_id, t.i, t.w
      FROM toks t ANTI JOIN cover c
        ON t.doc_id = c.doc_id AND t.i = c.p)
    SELECT doc_id,
           string_agg(w, ' ' ORDER BY i) AS clean_text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id ORDER BY doc_id LIMIT 200
    """,
    tags=("dedup", "llm", "text"),
)
