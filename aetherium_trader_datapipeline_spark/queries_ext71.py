"""Wave 71 (x307): EXACT set-similarity self-join (all pairs, Jaccard >= τ).

Discovers every doc pair with bigram-set Jaccard >= τ = 0.8 exactly — the
no-recall-loss complement to MinHash LSH (x129) and to x252's exact
Jaccard on GIVEN pairs.  Two structural moves keep it off the quadratic
cliff:

1. Identical token sets collapse to ONE representative (group by the
   sorted-distinct-bigram signature) before any pairing: all-pairs over a
   duplicate-heavy corpus is inherently quadratic in cluster size — the
   uncollapsed first cut measured 126 s at sf0.1 / >10 min at 10× on this
   fixture (every k-clone cluster re-verified C(k,2) identical pairs).
   Within-cluster pairs are J = 1 by definition; they ride along as the
   representatives' member counts.  Same order real pipelines run: exact
   dedup, then similarity join.
2. Intersections are computed by the triangle-replicated block-GEMM
   kernel (`operators.similarity.exact_jaccard_pairs`, r6): docs hash
   into blocks, each block-pair group densifies only its LOCAL token
   universe and one float32 GEMM yields every exact intersection count
   (< 2^24, so float32 is exact).  THREE measured rejections shaped
   this plan:
   (a) the textbook AllPairs/PPJoin prefix filter (Bayardo WWW'07; Xiao
       WWW'08): on this fixture's ~40-word vocabulary every "rare"
       prefix bigram still hits ~260 reps → 4.4 M candidates for 238
       true pairs, slower than direct counting (76 s vs 18 s);
   (b) the r5 shipped form — token equi-join grouped on the pair —
       shuffles one row per matching-token pair: 36.3 M rows at sf0.1,
       13.5 M even after a Jaccard size-ratio prefilter
       (max_sz <= 1.25*min_sz is NECESSARY for J >= 0.8), 9.5 s warm;
   (c) int-encoded join keys / packed pair keys on form (b): no change
       (10.0 s) — the cost is the pair-row cardinality, not key hashing.
   The GEMM form runs the same exact math at 2.86 s warm sf0.1 /
   21 s at the 100× replica (vs 32.5 s for (b)); full table in
   SCALE.md's wave-71 r6 note.

Plan shape at 100 TB: signature groupBy (exact-dedup pass), one
dictionary-encode join, then B(B+1)/2 bounded dense kernels.  Exact
ALL-pairs is inherently quadratic in doc count — at true corpus scale
the production tool is the LSH tier (x129/x298) generating candidate
buckets with THIS kernel as the per-bucket exact verifier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.queries import register
from aetherium_trader_datapipeline_spark.tables import load_tables

_X307_FMT = """
    WITH toks0 AS (
      SELECT DISTINCT doc_id, w FROM ({tok_gen}) z WHERE w <> ''
    ),
    setsig AS (
      SELECT doc_id, {sig} AS sig FROM toks0 GROUP BY doc_id
    ),
    reps AS (
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS members
      FROM setsig GROUP BY sig
    ),
    toks AS (
      SELECT t.doc_id, t.w FROM toks0 t JOIN reps r ON t.doc_id = r.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    tsz AS (
      SELECT t.doc_id, t.w, s.sz FROM toks t JOIN sizes s ON t.doc_id = s.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             MIN(a.sz) AS sa, MIN(b.sz) AS sb, COUNT(*) AS c
      FROM tsz a JOIN tsz b
        ON a.w = b.w AND a.doc_id < b.doc_id
       AND a.sz * 4 <= b.sz * 5 AND b.sz * 4 <= a.sz * 5
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.d1, i.d2,
           CAST(ra.members AS BIGINT) AS members1,
           CAST(rb.members AS BIGINT) AS members2,
           CAST(i.c AS BIGINT) AS n_common,
           CAST(i.sa + i.sb - i.c AS BIGINT) AS n_union,
           CAST(i.c * 10000 {div} (i.sa + i.sb - i.c) AS BIGINT) AS jaccard_bp
    FROM inter i
    JOIN reps ra ON ra.doc_id = i.d1
    JOIN reps rb ON rb.doc_id = i.d2
    WHERE i.c * 10 >= 8 * (i.sa + i.sb - i.c)
    ORDER BY jaccard_bp DESC, i.d1, i.d2 LIMIT 200
"""

_TOK_SPARK = """
      SELECT doc_id, gram AS w FROM (
        SELECT doc_id,
               explode(transform(sequence(1, greatest(size(split(lower(text), ' ')) - 1, 1)),
                 i -> concat_ws(' ', slice(split(lower(text), ' '), i, 2)))) AS gram
        FROM documents WHERE size(split(lower(text), ' ')) >= 2
      ) g"""
_TOK_DUCK = """
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1) + 1),
               i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i+1])) AS w
      FROM documents WHERE len(string_split(lower(text), ' ')) >= 2"""

_X307_ORACLE = _X307_FMT.format(
    tok_gen=_TOK_DUCK,
    sig="md5(string_agg(DISTINCT w, ' ' ORDER BY w))",
    div="//",
)


@register(
    "x307_exact_similarity_join",
    headline=True,
    oracle=_X307_ORACLE,
    tags=("dedup", "similarity", "exact"),
)
def x307_exact_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 self-join: exact-dedup collapse in SQL, then
    operators.similarity.exact_jaccard_pairs — the triangle-replicated
    block-GEMM kernel — instead of the token equi-join + pair groupBy
    (r5 form, kept as the DuckDB oracle): the join form shuffles one row
    per matching-token pair (13.5 M at sf0.1 even after the size-ratio
    prefilter; 9.5 s warm), the GEMM form computes the same exact
    intersection counts inside B(B+1)/2 bounded dense kernels (~1 s).
    """
    from aetherium_trader_datapipeline_spark.operators.similarity import (
        exact_jaccard_pairs,
    )

    load_tables(spark, sf_dir)
    # r13 restructure (guide §2.4 — remove shuffles outright): the old
    # pipeline materialized a DISTINCT (doc_id, w) token table, derived
    # per-doc signatures in a SECOND doc_id-keyed grouping, and joined the
    # token stream back to the reps on doc_id — three full passes of the
    # token stream through exchanges plus a dedicated toks0 checkpoint.
    # collect_set dedups while it groups, so ONE doc_id grouping now yields
    # each doc's sorted token-set array directly; the signature groupBy
    # carries the (deduped) arrays and keeps one representative set via
    # min_by (all sets in a sig group are identical, min_by just makes the
    # pick total); and only the REPS' tokens are re-exploded for the
    # dictionary encode. The toks0 checkpoint and the doc_id join are gone
    # (plan: 2 checkpoints + 6 token-stream exchanges → 1 checkpoint + 2
    # token-stream + 3 rep-sized exchanges); wids are unchanged
    # (ROW_NUMBER ORDER BY w over the same distinct rep-token set), so the
    # kernel sees byte-identical input. The bigram generator indexes the
    # split array with element_at (O(1) per position, not O(len) slices).
    reps = spark.sql(
        """
        WITH d AS (
          SELECT doc_id, array_sort(collect_set(w)) AS tw
          FROM (
            SELECT doc_id, split(lower(text), ' ') AS ws
            FROM documents WHERE size(split(lower(text), ' ')) >= 2
          ) s
          LATERAL VIEW explode(
            transform(sequence(1, size(ws) - 1),
                      i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
          ) t AS w
          WHERE w <> ''
          GROUP BY doc_id
        )
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS members,
               min_by(tw, doc_id) AS tw
        FROM d GROUP BY md5(array_join(tw, ' '))
        """
    ).localCheckpoint()  # read 3x: rep_toks below + the two members joins
    # Dictionary-encode the reps' bigrams, pack each rep's token-id set
    # into an array. localCheckpoint because the kernel's triangle union
    # reads the frame twice.
    rep_toks = spark.sql(
        """
        WITH rt AS (
          SELECT doc_id, members, w FROM {reps}
          LATERAL VIEW explode(tw) t AS w
        ),
        vocab AS (
          SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS wid
          FROM (SELECT DISTINCT w FROM rt)
        )
        -- SHUFFLE_HASH pinned: rt is checkpoint-derived (no stats) and
        -- vocab is data-proportional (one row per distinct rep bigram),
        -- so letting the planner broadcast it OOMs the driver at the
        -- 100x replica — same failure mode x331 hit (commit fb061da).
        SELECT /*+ SHUFFLE_HASH(v) */
               rt.doc_id, rt.members, collect_list(v.wid) AS toks
        FROM rt JOIN vocab v ON rt.w = v.w
        GROUP BY rt.doc_id, rt.members
        """,
        reps=reps,
    ).localCheckpoint()
    pairs = exact_jaccard_pairs(
        rep_toks, "doc_id", "toks", threshold_num=8, threshold_den=10
    )
    # Members joins: no forced broadcast — reps is data-proportional and
    # pairs is the thresholded survivor set; both are stats-less here
    # (checkpoint / UDF outputs), so AQE's runtime sizes pick the
    # broadcast side correctly at every SF. They read the checkpointed
    # reps frame (not rep_toks), so no token-id arrays flow through them.
    memb = reps.select("doc_id", "members")
    return (
        pairs.join(
            memb.select(F.col("doc_id").alias("a"),
                        F.col("members").alias("m1")), "a")
        .join(
            memb.select(F.col("doc_id").alias("b"),
                        F.col("members").alias("m2")), "b")
        .selectExpr(
            "a AS d1",
            "b AS d2",
            "CAST(m1 AS BIGINT) AS members1",
            "CAST(m2 AS BIGINT) AS members2",
            "CAST(n_common AS BIGINT) AS n_common",
            "CAST(sz_a + sz_b - n_common AS BIGINT) AS n_union",
            "CAST(n_common * 10000 DIV (sz_a + sz_b - n_common) AS BIGINT) AS jaccard_bp",
        )
        .orderBy(F.desc("jaccard_bp"), "d1", "d2")
        .limit(200)
    )
