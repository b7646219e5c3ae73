"""Thirtieth extension wave — embedding-space curation: SemDeDup-style
semantic dedup and k-NN majority-vote classification, both DuckDB
hash-verified via the sequential-fold dot product (ext26's x94/x181
pattern: Spark AGGREGATE(zip_with(...)) ↔ DuckDB list_dot_product, both
left-to-right over doubles, so cosines are engine-identical).

x191 semdedup      SemDeDup (Abbas et al. 2023) shape: coarse-partition
                   the space (here: deterministic sign-bit bucket over
                   dims 1-3 — the stand-in for the k-means step, which
                   x139 provides on the production path), compare pairs
                   only WITHIN a bucket, drop the higher id of any pair
                   over threshold. Per-bucket pair generation is the
                   whole point at scale: all-pairs work is (n/B)² per
                   bucket, never n². Cross-bucket near-dups are the
                   accepted recall loss of the algorithm.
x192 knn_classify  5-NN cosine majority vote for a deterministic probe
                   subset (vec_id % 25 = 0) against the rest of the
                   corpus — broadcast-probes × scan-candidates shape, the
                   classification twin of x98's single-query kNN. Labels
                   here are synthetic/unclustered, so accuracy is chance;
                   the query verifies the operator, not the data.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register_sql

_SPARK_DOT = (
    "AGGREGATE(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _spark_cos(a: str, b: str) -> str:
    d = _SPARK_DOT.format(a=a, b=b)
    na = _SPARK_DOT.format(a=a, b=a)
    nb = _SPARK_DOT.format(a=b, b=b)
    return f"({d} / (sqrt({na}) * sqrt({nb})))"


def _duck_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


_X191_FMT = """
    WITH v AS (
      SELECT vec_id, {cast_vec} AS e,
             CAST(CASE WHEN {d1} >= 0 THEN 4 ELSE 0 END
                + CASE WHEN {d2} >= 0 THEN 2 ELSE 0 END
                + CASE WHEN {d3} >= 0 THEN 1 ELSE 0 END AS INT) AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.bucket, a.vec_id AS ka, b.vec_id AS kb
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {cos} > 0.35
    ),
    removed AS (SELECT DISTINCT bucket, kb AS vec_id FROM pairs),
    sizes AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM v GROUP BY bucket)
    SELECT s.bucket, s.n_docs,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(s.n_docs - COALESCE(r.n_removed, 0) AS BIGINT) AS n_survivors
    FROM sizes s
    LEFT JOIN (SELECT bucket, COUNT(*) AS n_pairs FROM pairs GROUP BY bucket) p
      ON s.bucket = p.bucket
    LEFT JOIN (SELECT bucket, COUNT(*) AS n_removed FROM removed GROUP BY bucket) r
      ON s.bucket = r.bucket
    ORDER BY s.bucket
"""

# Spark side: one numpy matmul per bucket via applyInPandas (the q35
# blocked-matmul tier) instead of a pair-join with interpreted
# higher-order-function cosines — 9.1 s → sub-second at sf0.1. The output
# is integer counts, so BLAS vs sequential-fold float ordering cannot
# touch the hash (a pair would have to sit within ~1e-15 of the 0.35
# threshold to flip). Each bucket must fit one task — SemDeDup's own
# design assumption; at larger corpora raise the cluster count (x139's
# k-means is the production clusterer, this sign-bit grid is the
# deterministic stand-in).


def _x191_run(spark, sf_dir):
    import pandas as pd

    from aetherium_trader_datapipeline_spark.tables import load_tables

    t = load_tables(spark, sf_dir)
    v = t["embeddings"].selectExpr(
        "vec_id",
        "CAST(embedding AS ARRAY<DOUBLE>) AS e",
        "CAST(CASE WHEN embedding[0] >= 0 THEN 4 ELSE 0 END"
        "   + CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END"
        "   + CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END AS INT) AS bucket",
    )

    def per_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        bucket = int(pdf["bucket"].iloc[0])
        m = np.asarray(pdf["e"].to_list(), dtype=np.float64)
        n_docs = len(pdf)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        u = m / np.where(nrm == 0, 1.0, nrm)
        sim = u @ u.T
        ii, jj = np.triu_indices(n_docs, k=1)
        over = sim[ii, jj] > 0.35
        n_pairs = int(over.sum())
        n_removed = int(np.unique(jj[over]).size)  # ids sorted → j is higher id
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "n_docs": [n_docs],
                "n_dup_pairs": [n_pairs],
                "n_removed": [n_removed],
                "n_survivors": [n_docs - n_removed],
            }
        )

    out = v.groupBy("bucket").applyInPandas(
        per_bucket,
        schema="bucket int, n_docs bigint, n_dup_pairs bigint, "
               "n_removed bigint, n_survivors bigint",
    )
    return out.orderBy("bucket")


from aetherium_trader_datapipeline_spark.queries import register  # noqa: E402

register(
    "x191_semdedup",
    oracle=_X191_FMT.format(
        cast_vec="CAST(embedding AS DOUBLE[])",
        d1="embedding[1]", d2="embedding[2]", d3="embedding[3]",
        cos=_duck_cos("a.e", "b.e"),
    ),
    headline=True,
    tags=("dedup", "similarity", "llm"),
)(_x191_run)

_X192_FMT = """
    WITH v AS (SELECT vec_id, label, {cast_vec} AS e FROM embeddings),
    probes AS (SELECT * FROM v WHERE vec_id % 25 = 0),
    cands AS (SELECT * FROM v WHERE vec_id % 25 <> 0),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS actual_label,
             c.vec_id AS cand_id, c.label AS cand_label,
             {cos} AS cos
      FROM probes p CROSS JOIN cands c
    ),
    top5 AS (
      SELECT probe_id, actual_label, cand_label FROM (
        SELECT probe_id, actual_label, cand_label,
               ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rk
        FROM scored
      ) r WHERE rk <= 5
    ),
    votes AS (
      SELECT probe_id, actual_label, cand_label AS predicted_label,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM top5 GROUP BY probe_id, actual_label, cand_label
    ),
    best AS (
      SELECT probe_id, actual_label, predicted_label, votes FROM (
        SELECT votes.*, ROW_NUMBER() OVER (
          PARTITION BY probe_id ORDER BY votes DESC, predicted_label) AS rk
        FROM votes
      ) r WHERE rk = 1
    )
    SELECT probe_id, actual_label, predicted_label, votes,
           CAST(CASE WHEN actual_label = predicted_label THEN 1 ELSE 0 END AS INT) AS hit
    FROM best ORDER BY probe_id
"""

# r14: the probes×cands cross join evaluates ~154k interpreted 64-dim
# cosine folds out of a single-row-group scan — one task.  The Spark side
# reads embeddings through a cores-derived repartition so the
# BroadcastNestedLoopJoin stage spreads (2.5 s → see OPTIMIZATION_r14.md);
# oracle text unchanged.
_X192_SPARK = _X192_FMT.format(
    cast_vec="CAST(embedding AS ARRAY<DOUBLE>)", cos=_spark_cos("p.e", "c.e")
).replace("FROM embeddings", "FROM {emb_rep}")


@register(
    "x192_knn_classify",
    oracle=_X192_FMT.format(
        cast_vec="CAST(embedding AS DOUBLE[])", cos=_duck_cos("p.e", "c.e")
    ),
    tags=("similarity", "llm"),
)
def x192_knn_classify(spark, sf_dir):
    from aetherium_trader_datapipeline_spark.tables import load_tables

    t = load_tables(spark, sf_dir)
    p = spark.sparkContext.defaultParallelism * 2
    return spark.sql(_X192_SPARK, emb_rep=t["embeddings"].repartition(p))
