"""Wave 118 (x427–x429): graph quality & partitioning metrics.

The graph family (x72 CC, x172 PageRank, x212 k-core, x189 triangles,
x297 LPA, x310 PMI communities) gains the metrics that JUDGE a
clustering or a partitioning rather than produce one.

Shared spine (x427/x429): a deterministic linear-size similarity graph
over embeddings — sign-bit bucket of the first 8 dims (the x191 SemDeDup
coarse bucket), each bucket contributing a vec_id-ordered chain of
edges.  |edges| = Σ(|bucket|−1), never all-pairs.

x427 — Newman modularity of the label communities on that graph:
Q = Σ_c [e_c/m − (d_c/2m)²] from exact integer edge/degree counts;
per-community contributions and the global Q.

x428 — two-iteration HITS on the doc–term bipartite graph, fully
integer: a1(t)=df(t), h1(d)=Σ df over the doc's terms, a2(t)=Σ h1 over
docs containing t.  Unnormalized integer scores hash exactly; the
normalized column divides by the max as one IEEE expression.

x429 — edge-cut quality of a hash-sharded placement (K=8, the x305
rendezvous family): share of chain-graph edges crossing shards plus
per-shard node balance — the metric a distributed graph engine uses to
choose a partitioner.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

_SIGN_SPARK = """aggregate(transform(slice(CAST(embedding AS ARRAY<DOUBLE>),
                                     1, 8),
                              x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END),
                    0, (a, b) -> a * 2 + b)"""
_SIGN_DUCK = """list_reduce(list_transform(list_slice(
                                     CAST(embedding AS DOUBLE[]), 1, 8),
                              x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END),
                    (a, b) -> a * 2 + b)"""

_CHAIN_EDGES = """
    sb AS (
      SELECT vec_id, label, {sign} AS bkt FROM embeddings
    ),
    chain AS (
      SELECT bkt, vec_id, label,
             LEAD(vec_id) OVER (PARTITION BY bkt ORDER BY vec_id) AS nxt,
             LEAD(label) OVER (PARTITION BY bkt ORDER BY vec_id) AS nxt_label
      FROM sb
    ),
    edges AS (
      SELECT vec_id AS u, nxt AS v, label AS lu, nxt_label AS lv
      FROM chain WHERE nxt IS NOT NULL
    )
"""

# -- x427: Newman modularity ------------------------------------------------------

_X427 = (
    "WITH " + _CHAIN_EDGES + """,
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    deg AS (
      SELECT lbl, CAST(SUM(cnt) AS BIGINT) AS d_c FROM (
        SELECT lu AS lbl, COUNT(*) AS cnt FROM edges GROUP BY lu
        UNION ALL
        SELECT lv AS lbl, COUNT(*) AS cnt FROM edges GROUP BY lv
      ) both_ends GROUP BY lbl
    ),
    intra AS (
      SELECT lu AS lbl, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM edges WHERE lu = lv GROUP BY lu
    ),
    terms AS (
      SELECT d.lbl, COALESCE(i.e_c, 0) AS e_c, d.d_c, m.m,
             CAST(FLOOR((CAST(COALESCE(i.e_c, 0) AS DOUBLE) / m.m
                         - POWER(CAST(d.d_c AS DOUBLE) / (2 * m.m), 2))
                        * 1e12) AS BIGINT) AS q_fp
      FROM deg d LEFT JOIN intra i ON d.lbl = i.lbl CROSS JOIN m
    )
    SELECT CAST(lbl AS BIGINT) AS community, e_c AS intra_edges,
           d_c AS degree_sum,
           ROUND(q_fp / 1e12, 6) AS q_contrib,
           ROUND(CAST(SUM(q_fp) OVER () AS DOUBLE) / 1e12, 6) AS modularity_q
    FROM terms ORDER BY community
"""
)

register_sql(
    "x427_modularity",
    spark_sql=_X427.format(sign=_SIGN_SPARK),
    duckdb_sql=_X427.format(sign=_SIGN_DUCK),
    tags=("graph", "embeddings"),
)

# -- x428: integer HITS on the doc-term graph -------------------------------------

_X428 = """
    WITH tok AS ({tok}),
    postings AS (SELECT DISTINCT doc_id, term FROM tok),
    a1 AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
    ),
    h1 AS (
      SELECT p.doc_id, CAST(SUM(a1.df) AS BIGINT) AS hub
      FROM postings p JOIN a1 ON p.term = a1.term GROUP BY p.doc_id
    ),
    a2 AS (
      SELECT p.term, CAST(SUM(h1.hub) AS BIGINT) AS auth
      FROM postings p JOIN h1 ON p.doc_id = h1.doc_id GROUP BY p.term
    ),
    mx AS (
      -- scalar max as an aggregate, not MAX() OVER (): the window form
      -- funnelled the whole per-term relation (vocabulary-sized) through
      -- one task just to read its max (the x442 class)
      SELECT CAST(MAX(auth) AS BIGINT) AS max_auth FROM a2
    )
    SELECT a2.term, a1.df, a2.auth AS authority_score,
           ROUND(CAST(a2.auth AS DOUBLE) / mx.max_auth, 6)
             AS authority_norm
    FROM a2 JOIN a1 ON a2.term = a1.term CROSS JOIN mx
    ORDER BY a2.auth DESC, a2.term LIMIT 20
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
    "x428_hits_scores",
    oracle=_X428.format(tok=_TOK_DUCK),
    tags=("graph", "retrieval"),
)
def x428_hits_scores(spark, sf_dir):
    """r14 restructure (guide §2.4): `postings` (the distinct token
    explode) was re-expanded by a1, h1 and a2, and `a2` by mx and the
    final join — 7 documents scans, 42 exchanges in one plan.
    Checkpointing postings, a1 and a2 runs the corpus pass ONCE; all
    expressions and the DuckDB oracle are textually unchanged."""
    load_tables(spark, sf_dir)
    postings = spark.sql(
        f"""
    WITH tok AS ({_TOK_SPARK})
    SELECT DISTINCT doc_id, term FROM tok"""
    ).localCheckpoint()
    a1 = spark.sql(
        """
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM {postings}
      GROUP BY term""",
        postings=postings,
    ).localCheckpoint()
    a2 = spark.sql(
        """
    WITH h1 AS (
      SELECT p.doc_id, CAST(SUM(a1.df) AS BIGINT) AS hub
      FROM {postings} p JOIN {a1} a1 ON p.term = a1.term
      GROUP BY p.doc_id
    )
    SELECT p.term, CAST(SUM(h1.hub) AS BIGINT) AS auth
    FROM {postings} p JOIN h1 ON p.doc_id = h1.doc_id GROUP BY p.term""",
        postings=postings,
        a1=a1,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH mx AS (
      SELECT CAST(MAX(auth) AS BIGINT) AS max_auth FROM {a2}
    )
    SELECT a2.term, a1.df, a2.auth AS authority_score,
           ROUND(CAST(a2.auth AS DOUBLE) / mx.max_auth, 6)
             AS authority_norm
    FROM {a2} a2 JOIN {a1} a1 ON a2.term = a1.term CROSS JOIN mx
    ORDER BY a2.auth DESC, a2.term LIMIT 20""",
        a1=a1,
        a2=a2,
    )

# -- x429: edge-cut of a hash-sharded placement -----------------------------------

_X429 = (
    "WITH " + _CHAIN_EDGES + """,
    placed AS (
      SELECT ((u * 2654435761) {intdiv} 4096) % 8 AS shard_u,
             ((v * 2654435761) {intdiv} 4096) % 8 AS shard_v
      FROM edges
    ),
    cut AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN shard_u != shard_v THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cut
      FROM placed
    ),
    nodes AS (
      SELECT ((vec_id * 2654435761) {intdiv} 4096) % 8 AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM embeddings GROUP BY ((vec_id * 2654435761) {intdiv} 4096) % 8
    ),
    intra AS (
      SELECT shard_u AS shard, CAST(COUNT(*) AS BIGINT) AS intra_edges
      FROM placed WHERE shard_u = shard_v GROUP BY shard_u
    )
    SELECT CAST(n.shard AS BIGINT) AS shard, n.n_nodes,
           COALESCE(i.intra_edges, 0) AS intra_edges,
           ROUND(CAST(c.n_cut AS DOUBLE) / c.m, 6) AS global_cut_share,
           ROUND(CAST(n.n_nodes AS DOUBLE)
                 / (SUM(n.n_nodes) OVER () / 8.0), 6) AS balance_ratio
    FROM nodes n LEFT JOIN intra i ON n.shard = i.shard CROSS JOIN cut c
    ORDER BY shard
"""
)

register_sql(
    "x429_edge_cut_balance",
    spark_sql=_X429.format(sign=_SIGN_SPARK, intdiv="DIV"),
    duckdb_sql=_X429.format(sign=_SIGN_DUCK, intdiv="//"),
    tags=("graph", "layout"),
)
