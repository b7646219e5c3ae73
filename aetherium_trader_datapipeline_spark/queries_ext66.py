"""Wave 66 (x291–x296): corpus-construction algorithms a 100 TB training-data
pipeline runs between crawl and tokenizer — each oracle-paired and exact.

x291 is robust winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
fingerprinting scheme): per-position k-gram hashes, a w-window minimum with
the RIGHTMOST tie-break, and document-pair overlap counted on the selected
fingerprints only.  Unlike MinHash (x129) this is position-aware — it
guarantees any shared run of length >= w + k - 1 is detected — so it is the
family used for plagiarism/contamination span detection rather than
whole-document similarity.

x292 is byte-pair-encoding tokenizer training, the first two merge rounds,
run distributed: weighted adjacent-pair counts over the word table, argmax
pair, then the greedy left-to-right merge applied with the overlap parity
rule (in a run of overlapping matches — possible only when s1 = s2 — the
1st, 3rd, ... merge and the even ones are consumed), expressed as
gaps-and-islands window SQL identical in both engines.

x293 is the sublinear per-domain cap (crawl curation's "no domain may
dominate"): cap(domain) = 4 * ceil(sqrt(n_docs)), keep the best docs by
(n_chars, doc_id) under the cap, report kept/dropped per domain.

x294 is the zone-map pruning simulator: lay lineitem out three ways
(shipdate-sorted, orderkey-sorted, Z-ordered on NTILE(256) ranks of both),
cut 1000-row "files", compute per-file min/max zone maps, and count how
many files each of a date predicate and a key predicate must scan.  The
numeric answer to "why Z-order" (x287 computes the keys; this measures the
payoff).  The global-ORDER-BY windows are the simulator's point (a layout
IS a total order); production writes use a range partitioner to the same
effect.

x295 is Johnson–Lindenstrauss random projection of the 64-d embeddings to
k = 16 with a deterministic ±1 sign matrix derived from md5(i*16+j) —
norms quantized to integers (floor(v*1000)) so both engines agree bit-for-
bit, with the norm-preservation ratio reported in basis points.

x296 is CCNet-style perplexity bucketing (Wenzek et al., LREC'20): score
every doc with the corpus-trained bigram LM (x156's exact convention —
per-term DECIMAL(18,9) log-probs so the sum is order-independent), then
NTILE(3) head/middle/tail terciles with per-bucket stats — the standard
"keep head+middle, drop tail" curation gate.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# ---------------------------------------------------------------------------
# engine fragments
# ---------------------------------------------------------------------------


def _md5i_spark(expr: str, a: int, n: int) -> str:
    return f"CAST(conv(substring(md5(CAST({expr} AS STRING)), {a}, {n}), 16, 10) AS BIGINT)"


def _md5i_duck(expr: str, a: int, n: int) -> str:
    return f"(('0x' || substring(md5(CAST({expr} AS VARCHAR)), {a}, {n}))::BIGINT)"


# -- x291: robust winnowing fingerprints -------------------------------------
# k = 5 (char 5-grams), w = 4.  Selection is the paper's: for every full
# window of w consecutive k-gram hashes record the minimum, breaking ties by
# the RIGHTMOST position; the fingerprint set is the distinct (pos, hash)
# pairs selected.  Window minima via a bounded band self-join (b.i in
# [a.i, a.i+3]) — 4 rows per position, linear, not quadratic; at 100 TB this
# is a map-side operation after a doc_id repartition (both sides share the
# doc_id key, one exchange).  Pair overlap then joins the SELECTED
# fingerprints only (the ~2/(w+1) density that makes winnowing cheap).


def _x291_sql(pos_gen: str, md5i) -> str:
    h = md5i("substr(d.text, g.i, 5)", 1, 12)
    return f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS text, length(text) - 4 AS npos
      FROM documents WHERE doc_id <= 300 AND length(text) >= 5
    ),
    g AS (
      SELECT d.doc_id, g.i, d.npos, {h} AS h
      FROM d {pos_gen}
    ),
    win AS (
      SELECT a.doc_id, a.i AS s, b.i AS j, b.h
      FROM g a JOIN g b
        ON a.doc_id = b.doc_id AND b.i >= a.i AND b.i <= a.i + 3
      WHERE a.i + 3 <= a.npos
    ),
    sel AS (
      SELECT doc_id, s, mh, MAX(j) AS fp_pos
      FROM (
        SELECT w.*, MIN(h) OVER (PARTITION BY doc_id, s) AS mh FROM win w
      ) z
      WHERE h = mh GROUP BY doc_id, s, mh
    ),
    fp AS (SELECT DISTINCT doc_id, mh AS fp_hash FROM sel),
    nfp AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.d1, p.d2, CAST(p.shared AS BIGINT) AS shared_fps,
           CAST(na.n AS BIGINT) AS n_fp1, CAST(nb.n AS BIGINT) AS n_fp2,
           CAST(p.shared * 10000 {{div}} (na.n + nb.n - p.shared) AS BIGINT)
             AS overlap_bp
    FROM pairs p
    JOIN nfp na ON na.doc_id = p.d1
    JOIN nfp nb ON nb.doc_id = p.d2
    WHERE p.shared >= 3
    ORDER BY overlap_bp DESC, p.d1, p.d2 LIMIT 100
"""


_X291_DUCK = _x291_sql(
    ", LATERAL (SELECT unnest(range(1, d.npos + 1)) AS i) g", _md5i_duck
).format(div="//")


@register(
    "x291_winnowing_fingerprints",
    oracle=_X291_DUCK,
    tags=("dedup", "text", "fingerprint"),
)
def x291_winnowing_fingerprints(spark, sf_dir):
    """r14 restructure (guide §2.4): CTE inlining ran the per-position
    md5 k-gram hashing once per reference — `g` twice (both sides of the
    band self-join) and `fp` three times (nfp + both pair-join sides) —
     8 documents scans per plan, each re-exploding every position and
    re-hashing.  Checkpointing g (doc_id, i, npos, h — the text never
    leaves the scan job) and fp makes the hash pass run once; the band
    join and the overlap join read the small checkpoints.  Window/selection
    SQL is textually unchanged, as is the DuckDB oracle."""
    load_tables(spark, sf_dir)
    h = _md5i_spark("substr(d.text, g.i, 5)", 1, 12)
    g = spark.sql(
        f"""
    SELECT d.doc_id, g.i, d.npos, {h} AS h
    FROM (
      SELECT doc_id, lower(text) AS text, length(text) - 4 AS npos
      FROM documents WHERE doc_id <= 300 AND length(text) >= 5
    ) d LATERAL VIEW explode(sequence(1, d.npos)) g AS i"""
    ).localCheckpoint()
    fp = spark.sql(
        """
    WITH win AS (
      SELECT a.doc_id, a.i AS s, b.i AS j, b.h
      FROM {g} a JOIN {g} b
        ON a.doc_id = b.doc_id AND b.i >= a.i AND b.i <= a.i + 3
      WHERE a.i + 3 <= a.npos
    ),
    sel AS (
      SELECT doc_id, s, mh, MAX(j) AS fp_pos
      FROM (
        SELECT w.*, MIN(h) OVER (PARTITION BY doc_id, s) AS mh FROM win w
      ) z
      WHERE h = mh GROUP BY doc_id, s, mh
    )
    SELECT DISTINCT doc_id, mh AS fp_hash FROM sel""",
        g=g,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH nfp AS (SELECT doc_id, COUNT(*) AS n FROM {fp} GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM {fp} a JOIN {fp} b
        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.d1, p.d2, CAST(p.shared AS BIGINT) AS shared_fps,
           CAST(na.n AS BIGINT) AS n_fp1, CAST(nb.n AS BIGINT) AS n_fp2,
           CAST(p.shared * 10000 DIV (na.n + nb.n - p.shared) AS BIGINT)
             AS overlap_bp
    FROM pairs p
    JOIN nfp na ON na.doc_id = p.d1
    JOIN nfp nb ON nb.doc_id = p.d2
    WHERE p.shared >= 3
    ORDER BY overlap_bp DESC, p.d1, p.d2 LIMIT 100""",
        fp=fp,
    )

# -- x292: BPE tokenizer training, two merge rounds --------------------------
# The merge round is the interesting SQL: mark match positions (sym_p,
# sym_{p+1}) = (s1, s2); overlapping matches form runs ONLY when s1 = s2,
# and greedy left-to-right admits the odd-ranked members of each run
# (gaps-and-islands: run id = p - ROW_NUMBER() within matches); merged
# positions absorb their right neighbor, whose row is dropped, and
# positions renumber.  Every window partitions by word — at 100 TB the
# word table is the deduplicated vocabulary (Zipf-bounded, ~sqrt of corpus
# token count), so rounds are cheap; the corpus-sized work is only the
# initial word count.


def _bpe_round(r: int) -> str:
    p, q = r - 1, r
    return f"""
    pc{q} AS (
      SELECT t.s1, t.s2, SUM(w.f) AS cnt
      FROM (
        SELECT word, p, sym AS s1,
               LEAD(sym) OVER (PARTITION BY word ORDER BY p) AS s2
        FROM seq{p}
      ) t JOIN wf w ON t.word = w.word
      WHERE t.s2 IS NOT NULL GROUP BY t.s1, t.s2
    ),
    best{q} AS (
      SELECT s1, s2 FROM pc{q} ORDER BY cnt DESC, s1, s2 LIMIT 1
    ),
    m{q} AS (
      SELECT s.word, s.p, s.sym,
             CASE WHEN s.sym = b.s1
                   AND LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.p) = b.s2
                  THEN 1 ELSE 0 END AS cand
      FROM seq{p} s CROSS JOIN best{q} b
    ),
    r{q} AS (
      SELECT *, p - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY p) AS grp
      FROM m{q}
    ),
    mm{q} AS (
      SELECT *,
             CASE WHEN cand = 1
                   AND ROW_NUMBER() OVER (PARTITION BY word, cand, grp ORDER BY p) % 2 = 1
                  THEN 1 ELSE 0 END AS do_merge
      FROM r{q}
    ),
    n{q} AS (
      SELECT word, p,
             CASE WHEN do_merge = 1 THEN sym || next_sym ELSE sym END AS sym,
             LAG(do_merge) OVER (PARTITION BY word ORDER BY p) AS consumed
      FROM (
        SELECT *, LEAD(sym) OVER (PARTITION BY word ORDER BY p) AS next_sym
        FROM mm{q}
      ) z
    ),
    seq{q} AS (
      SELECT word, ROW_NUMBER() OVER (PARTITION BY word ORDER BY p) AS p, sym
      FROM n{q} WHERE consumed IS NULL OR consumed = 0
    )"""


def _x292_sql(tok_gen: str, chr_gen: str) -> str:
    top = """
      SELECT CAST({r} AS BIGINT) AS round, rk, s1, s2, pair_count FROM (
        SELECT s1, s2, CAST(cnt AS BIGINT) AS pair_count,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS BIGINT) AS rk
        FROM pc{r}
      ) t{r} WHERE rk <= 10"""
    return f"""
    WITH w0 AS ({tok_gen}),
    wf AS (SELECT word, COUNT(*) AS f FROM w0 WHERE length(word) > 0 GROUP BY word),
    seq0 AS ({chr_gen}),
    {_bpe_round(1)},
    {_bpe_round(2)},
    pc3 AS (
      SELECT t.s1, t.s2, SUM(w.f) AS cnt
      FROM (
        SELECT word, p, sym AS s1,
               LEAD(sym) OVER (PARTITION BY word ORDER BY p) AS s2
        FROM seq2
      ) t JOIN wf w ON t.word = w.word
      WHERE t.s2 IS NOT NULL GROUP BY t.s1, t.s2
    )
    SELECT * FROM ({top.format(r=1)}) a
    UNION ALL SELECT * FROM ({top.format(r=2)}) b
    UNION ALL SELECT * FROM ({top.format(r=3)}) c
    ORDER BY round, rk
"""


_X292_TOK_SPARK = """
      SELECT w AS word FROM documents
      LATERAL VIEW explode(split(lower(text), ' ')) t AS w
      WHERE doc_id <= 300
"""
_X292_TOK_DUCK = """
      SELECT unnest(string_split(lower(text), ' ')) AS word
      FROM documents WHERE doc_id <= 300
"""
_X292_CHR_SPARK = """
      SELECT word, p, substr(word, p, 1) AS sym
      FROM wf LATERAL VIEW explode(sequence(1, length(word))) t AS p
"""
_X292_CHR_DUCK = """
      SELECT word, p, substr(word, p, 1) AS sym FROM (
        SELECT word, unnest(range(1, length(word) + 1)) AS p FROM wf
      ) z
"""

_BPE_PAIR_COUNTS = """
      SELECT t.s1, t.s2, SUM(w.f) AS cnt
      FROM (
        SELECT word, p, sym AS s1,
               LEAD(sym) OVER (PARTITION BY word ORDER BY p) AS s2
        FROM {seq}
      ) t JOIN {wf} w ON t.word = w.word
      WHERE t.s2 IS NOT NULL GROUP BY t.s1, t.s2"""
_BPE_MERGE = """
    WITH best AS (
      SELECT s1, s2 FROM {pc} ORDER BY cnt DESC, s1, s2 LIMIT 1
    ),
    m AS (
      SELECT s.word, s.p, s.sym,
             CASE WHEN s.sym = b.s1
                   AND LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.p) = b.s2
                  THEN 1 ELSE 0 END AS cand
      FROM {seq} s CROSS JOIN best b
    ),
    r AS (
      SELECT *, p - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY p) AS grp
      FROM m
    ),
    mm AS (
      SELECT *,
             CASE WHEN cand = 1
                   AND ROW_NUMBER() OVER (PARTITION BY word, cand, grp ORDER BY p) % 2 = 1
                  THEN 1 ELSE 0 END AS do_merge
      FROM r
    ),
    n AS (
      SELECT word, p,
             CASE WHEN do_merge = 1 THEN sym || next_sym ELSE sym END AS sym,
             LAG(do_merge) OVER (PARTITION BY word ORDER BY p) AS consumed
      FROM (
        SELECT *, LEAD(sym) OVER (PARTITION BY word ORDER BY p) AS next_sym
        FROM mm
      ) z
    )
    SELECT word, ROW_NUMBER() OVER (PARTITION BY word ORDER BY p) AS p, sym
    FROM n WHERE consumed IS NULL OR consumed = 0"""


def _bpe_rounds(spark, sf_dir):
    """Word table, symbol sequences after two merge rounds, and the round
    1-2 pair counts (``pc1``/``pc2``), each checkpointed — shared by x292
    and x300."""
    load_tables(spark, sf_dir)
    wf = spark.sql(
        f"""
    WITH w0 AS ({_X292_TOK_SPARK})
    SELECT word, COUNT(*) AS f FROM w0 WHERE length(word) > 0
    GROUP BY word"""
    ).localCheckpoint()
    seq = spark.sql(
        _X292_CHR_SPARK.replace("FROM wf", "FROM {wf} wf"), wf=wf
    ).localCheckpoint()
    pcs = {}
    for q in (1, 2):
        pc = spark.sql(_BPE_PAIR_COUNTS, seq=seq, wf=wf).localCheckpoint()
        pcs[f"pc{q}"] = pc
        seq = spark.sql(_BPE_MERGE, pc=pc, seq=seq).localCheckpoint()
    return wf, seq, pcs


@register(
    "x292_bpe_merge_rounds",
    oracle=_x292_sql(_X292_TOK_DUCK, _X292_CHR_DUCK),
    tags=("text", "llm", "tokenizer"),
)
def x292_bpe_merge_rounds(spark, sf_dir):
    """r14 restructure (guide §2.4): the recursive CTE chain seq0 -> pc1/
    seq1 -> pc2/seq2 -> pc3 re-inlined every upstream round per reference
    (pc{q} feeds both best{q} and the top-10 tail; m{q} re-expands
    seq{p}) — 14 documents scans, 64 exchanges in one plan.  Running the
    rounds iteratively with wf/seq{q}/pc{q} checkpointed runs the corpus
    scan and each merge round ONCE; the `_bpe_round` window SQL is reused
    textually round by round, and the DuckDB oracle is unchanged."""
    wf, seq, pcs = _bpe_rounds(spark, sf_dir)
    pcs["pc3"] = spark.sql(_BPE_PAIR_COUNTS, seq=seq, wf=wf).localCheckpoint()
    top = """
      SELECT CAST({r} AS BIGINT) AS round, rk, s1, s2, pair_count FROM (
        SELECT s1, s2, CAST(cnt AS BIGINT) AS pair_count,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, s1, s2) AS BIGINT) AS rk
        FROM {{pc{r}}}
      ) t{r} WHERE rk <= 10"""
    return spark.sql(
        f"""
    SELECT * FROM ({top.format(r=1)}) a
    UNION ALL SELECT * FROM ({top.format(r=2)}) b
    UNION ALL SELECT * FROM ({top.format(r=3)}) c
    ORDER BY round, rk""",
        **pcs,
    )

# -- x293: sublinear per-domain cap ------------------------------------------
# cap(domain) = 4 * ceil(sqrt(n_docs)) — large domains keep relatively
# less; ranking is (n_chars DESC, doc_id) so "best" is deterministic.  One
# window per domain plus a tiny per-domain cap join: at 100 TB the cap
# table is |domains| rows (broadcast), and the rank window is the only
# shuffle.

_X293 = """
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM documents
    ),
    caps AS (
      SELECT source, CAST(4 * CEIL(SQRT(COUNT(*))) AS BIGINT) AS cap
      FROM documents GROUP BY source
    )
    SELECT r.source, c.cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r.rk <= c.cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.rk > c.cap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN r.rk <= c.cap THEN r.n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM ranked r JOIN caps c ON r.source = c.source
    GROUP BY r.source, c.cap ORDER BY r.source
"""

register_sql(
    "x293_domain_cap",
    spark_sql=_X293,
    duckdb_sql=_X293,
    tags=("curation", "sampling"),
)

# -- x294: zone-map pruning simulator ----------------------------------------
# Morton bits on NTILE(256) ranks (rank, not raw value, so both columns
# spread uniformly over the 8-bit grid regardless of distribution).

_ZBITS294 = " + ".join(
    f"(((a {{div}} {1 << i}) % 2) * {1 << (2 * i)})"
    f" + (((b {{div}} {1 << i}) % 2) * {1 << (2 * i + 1)})"
    for i in range(8)
)


def _x294_layout(name: str, order: str) -> str:
    return f"""
    f_{name} AS (
      SELECT (rn - 1) {{div}} 1000 AS fid,
             MIN(l_shipdate) AS dlo, MAX(l_shipdate) AS dhi,
             MIN(l_orderkey) AS klo, MAX(l_orderkey) AS khi
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY {order}) AS rn FROM lz) t
      GROUP BY (rn - 1) {{div}} 1000
    ),
    s_{name} AS (
      SELECT '{name}' AS layout,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN dhi >= DATE '1995-06-01'
                            AND dlo <= DATE '1995-06-30' THEN 1 ELSE 0 END)
                  AS BIGINT) AS files_date_pred,
             CAST(SUM(CASE WHEN khi >= 1000 AND klo <= 5000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS files_key_pred
      FROM f_{name}
    )"""


_X294 = f"""
    WITH l AS (SELECT l_orderkey, l_shipdate FROM lineitem),
    lz AS (
      SELECT l_orderkey, l_shipdate,
             CAST({_ZBITS294} AS BIGINT) AS zval
      FROM (
        SELECT l_orderkey, l_shipdate,
               NTILE(256) OVER (ORDER BY l_shipdate, l_orderkey) - 1 AS a,
               NTILE(256) OVER (ORDER BY l_orderkey, l_shipdate) - 1 AS b
        FROM l
      ) r
    ),
    {_x294_layout("date_sorted", "l_shipdate, l_orderkey")},
    {_x294_layout("key_sorted", "l_orderkey, l_shipdate")},
    {_x294_layout("z_order", "zval, l_orderkey, l_shipdate")}
    SELECT * FROM s_date_sorted
    UNION ALL SELECT * FROM s_key_sorted
    UNION ALL SELECT * FROM s_z_order
    ORDER BY layout
"""

@register("x294_zone_map_prune", oracle=_X294.format(div="//"), tags=("ops", "layout"))
def x294_zone_map_prune(spark, sf_dir):
    """r7 Spark-side rewrite (VERDICT r6 ask #8 / global-band policy):
    the SQL form (kept verbatim as the DuckDB oracle) computes two
    global NTILEs + three global ROW_NUMBERs — five single-partition
    sorts of all of lineitem. This DataFrame form decomposes every rank
    as cum_before(leading-bucket) + within-bucket rank (operators.
    layout.grid_rank: date grid / contiguous-orderkey-chunk grid /
    distinct-zval grid, each a sub-linear band). Rank ties permute only
    rows identical in every aggregated column, so file stats — and the
    oracle hash — are unchanged.

    r12 (VERDICT r11 ask #3): materialize after EVERY grid_rank, not
    just before the zval one — grid_rank's bucket grid aggregates its
    own input, so an unmaterialized upstream window executes once per
    plan branch (the rka window ran twice inside the old checkpoint
    job, ~30% of the 100x wall). The zval rank also now carries only
    (zval, l_orderkey, l_shipdate) through its exchange — rka/rkb stay
    behind in the checkpoint and each layout's file stats fold through
    its own map-side-partial aggregation instead of a 3x stack()
    explode. 100x wall 41.3 s -> ~15 s, same oracle hashes."""
    from pyspark.sql import SparkSession  # noqa: F401 (signature parity)
    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.operators.layout import (
        _interleave,
        grid_rank,
        materialize_disk,
        ntile_from_rank,
    )
    from aetherium_trader_datapipeline_spark.tables import load_tables

    li = load_tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_shipdate")
    n = li.count()

    # rkb's bucket grid depends only on the ROW MULTISET, which the rka
    # decoration leaves untouched — sourcing it from the raw scan (via
    # grid_source) leaves the rka window with exactly ONE consumer, so
    # the 60M-row materialization between the chained grid_ranks (and
    # its write+read) disappears entirely (r12).
    ranked = grid_rank(li, "l_shipdate", ["l_orderkey"], "rka")
    ranked = grid_rank(
        ranked,
        "l_orderkey DIV 8192",
        ["l_orderkey", "l_shipdate"],
        "rkb",
        grid_source=li,
    )
    lz = (
        ranked.withColumn("a", ntile_from_rank(F.col("rka"), n, 256) - 1)
        .withColumn("b", ntile_from_rank(F.col("rkb"), n, 256) - 1)
        .withColumn(
            "zval",
            _interleave(
                [F.col("a").cast("bigint"), F.col("b").cast("bigint")], 8
            ).cast("bigint"),
        )
        .select("l_orderkey", "l_shipdate", "rka", "rkb", "zval")
    )
    lz = materialize_disk(lz)
    zranked = grid_rank(
        lz.select("l_orderkey", "l_shipdate", "zval"),
        "zval",
        ["l_orderkey", "l_shipdate"],
        "rkz",
    )

    def _files(frame, rank_col, name):
        files = (
            frame.withColumn("fid", F.expr(f"({rank_col} - 1) DIV 1000"))
            .groupBy("fid")
            .agg(
                F.min("l_shipdate").alias("dlo"),
                F.max("l_shipdate").alias("dhi"),
                F.min("l_orderkey").alias("klo"),
                F.max("l_orderkey").alias("khi"),
            )
        )
        return files.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(
                F.when(
                    (F.col("dhi") >= F.lit("1995-06-01").cast("date"))
                    & (F.col("dlo") <= F.lit("1995-06-30").cast("date")),
                    1,
                ).otherwise(0)
            ).alias("files_date_pred"),
            F.sum(
                F.when((F.col("khi") >= 1000) & (F.col("klo") <= 5000), 1)
                .otherwise(0)
            ).alias("files_key_pred"),
        ).select(F.lit(name).alias("layout"), "*")

    return (
        _files(lz, "rka", "date_sorted")
        .unionByName(_files(lz, "rkb", "key_sorted"))
        .unionByName(_files(zranked, "rkz", "z_order"))
        .orderBy("layout")
    )

# -- x295: Johnson–Lindenstrauss ±1 random projection ------------------------
# Values quantize to floor(v*1000) BIGINT before any aggregation, so both
# the projection and both norms are exact integer arithmetic; the sign
# matrix is md5-derived from the (input_dim, output_dim) cell index.  Plan:
# one posexplode, a 16-row broadcast cross join, one (vec_id, j) groupBy —
# linear in n*d*k with no driver traffic.


def _x295_sql(q_cte: str, dims_gen: str, md5i) -> str:
    sgn = md5i("q.i * 16 + d.j", 1, 8)
    return f"""
    WITH q AS ({q_cte}),
    dims AS ({dims_gen}),
    proj AS (
      SELECT q.vec_id, d.j,
             SUM(q.qv * (CASE WHEN {sgn} % 2 = 0 THEN 1 ELSE -1 END)) AS pj
      FROM q CROSS JOIN dims d
      GROUP BY q.vec_id, d.j
    ),
    np AS (SELECT vec_id, SUM(pj * pj) AS norm2_proj FROM proj GROUP BY vec_id),
    no AS (SELECT vec_id, SUM(qv * qv) AS norm2_orig FROM q GROUP BY vec_id)
    SELECT no.vec_id,
           CAST(no.norm2_orig AS BIGINT) AS norm2_orig,
           CAST(np.norm2_proj AS BIGINT) AS norm2_proj,
           CAST(np.norm2_proj * 10000 {{div}} (16 * no.norm2_orig) AS BIGINT)
             AS ratio_bp,
           np.norm2_proj * 4 > 16 * no.norm2_orig
             AND np.norm2_proj < 4 * 16 * no.norm2_orig AS within_4x
    FROM no JOIN np ON no.vec_id = np.vec_id
    WHERE no.norm2_orig > 0
    ORDER BY no.vec_id
"""


register_sql(
    "x295_random_projection",
    spark_sql=_x295_sql(
        """
      SELECT vec_id, pos AS i,
             CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS qv
      FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, x""",
        "SELECT explode(sequence(0, 15)) AS j",
        _md5i_spark,
    ).format(div="DIV"),
    duckdb_sql=_x295_sql(
        """
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
      FROM embeddings""",
        "SELECT unnest(range(0, 16)) AS j",
        _md5i_duck,
    ).format(div="//"),
    tags=("embedding", "sketch"),
)

# -- x296: CCNet-style perplexity terciles ------------------------------------
# Per-doc score is x156's exact bigram-LM convention (per-term
# DECIMAL(18,9) log2 probs; order-independent sum); buckets are exact
# NTILE(3) terciles over (score, doc_id), computed scale-safely: global
# ranks via value-range chunking (r11, x198/x238 family — partitioned
# rank windows + prefix offsets over a <=1000-row chunk grid) and the
# NTILE closed form, instead of one single-partition sort of every doc.


def _x296_sql(toks: str, intdiv: str = "DIV") -> str:
    return f"""
    WITH toks AS ({toks}),
    occ AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1),
    bc AS (SELECT w1, w2, COUNT(*) AS c FROM occ GROUP BY w1, w2),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
    scored AS (
      SELECT occ.doc_id,
             CAST(log2(CAST(bc.c + 1 AS DOUBLE) / (uni.c + vocab.v))
                  AS DECIMAL(18,9)) AS lp
      FROM occ
      JOIN bc ON occ.w1 = bc.w1 AND occ.w2 = bc.w2
      JOIN uni ON occ.w1 = uni.w
      CROSS JOIN vocab),
    docscore AS (
      SELECT doc_id,
             CAST(ROUND(-CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4)
                  AS DECIMAL(18,6)) AS nll
      FROM scored GROUP BY doc_id),
    nb AS (SELECT MIN(nll) AS lo, MAX(nll) AS hi,
                  CAST(COUNT(*) AS BIGINT) AS n FROM docscore),
    dch AS (
      -- value-range chunking (x198/x238 family): the r10-era NTILE(3)
      -- single-partition-sorted every document (the x442 class); the
      -- rank window now runs PARTITIONED by a monotone-in-nll chunk id
      -- (<=1000 chunks) and the exact global rank reconstructs from
      -- prefix offsets over the chunk grid
      SELECT d.doc_id, d.nll,
             CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR(CAST(d.nll - b.lo AS DOUBLE) * 1000
                                        / CAST(b.hi - b.lo AS DOUBLE))
                                  AS BIGINT), CAST(999 AS BIGINT)) END AS ck
      FROM docscore d CROSS JOIN nb b),
    dw AS (
      SELECT doc_id, nll, ck,
             ROW_NUMBER() OVER (PARTITION BY ck ORDER BY nll, doc_id)
               AS r_in
      FROM dch),
    doff AS (
      SELECT ck, COALESCE(SUM(c) OVER (ORDER BY ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c FROM dch GROUP BY ck)),
    bucketed AS (
      -- NTILE(3) reconstructed integer-exactly from the global rank
      -- (the x222 closed form): the first n%3 terciles hold n{intdiv}3+1
      -- rows, the rest n{intdiv}3
      SELECT w.doc_id, w.nll,
             CASE WHEN b.n {intdiv} 3 = 0 THEN o.off + w.r_in
                  WHEN o.off + w.r_in
                       <= (b.n % 3) * (b.n {intdiv} 3 + 1)
                    THEN (o.off + w.r_in + b.n {intdiv} 3)
                         {intdiv} (b.n {intdiv} 3 + 1)
                  ELSE b.n % 3
                       + (o.off + w.r_in
                          - (b.n % 3) * (b.n {intdiv} 3 + 1)
                          + b.n {intdiv} 3 - 1) {intdiv} (b.n {intdiv} 3)
             END AS bucket
      FROM dw w JOIN doff o ON w.ck = o.ck CROSS JOIN nb b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(nll) AS DOUBLE) AS min_nll,
           CAST(MAX(nll) AS DOUBLE) AS max_nll,
           ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 4) AS avg_nll
    FROM bucketed GROUP BY bucket ORDER BY bucket
"""


_X296_DUCK = _x296_sql(
    """
      SELECT doc_id, i AS idx, ws[i] AS w FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        LATERAL unnest(generate_series(1, len(ws))) AS t(i)""",
    intdiv="//",
)


@register(
    "x296_perplexity_buckets",
    oracle=_X296_DUCK,
    tags=("text", "llm", "curation"),
)
def x296_perplexity_buckets(spark, sf_dir):
    """r14 restructure (guide §2.4 — remove shuffles outright): the pure-SQL
    form re-inlined every CTE per reference — `toks` feeds occ (twice, via
    the idx+1 self-join), uni and vocab, and `docscore` feeds nb/dch (which
    dw and doff each re-expand) — 30 scans of documents and 122 exchanges
    in one plan.  Materializing the three natural boundaries (toks, uni,
    docscore) as checkpointed DataFrames and pairing bigrams with LEAD over
    the dense posexplode index (identical pairs: idx is 0..n-1 consecutive,
    so b.idx = a.idx + 1 selects exactly the LEAD row) drops the plan to
    ONE documents scan; bc's per-(w1,w2) count becomes a window on the same
    pass instead of a groupBy + join-back (the x157 device).  All decimal
    casts and the chunked-rank tail are textually unchanged, so the NTILE
    reconstruction and the DuckDB oracle (byte-identical) agree row-for-row.
    """
    load_tables(spark, sf_dir)
    toks = spark.sql(
        """
      SELECT doc_id, idx, w FROM documents
      LATERAL VIEW posexplode(split(lower(text), ' ')) t AS idx, w"""
    ).localCheckpoint()
    uni = spark.sql(
        "SELECT w, COUNT(*) AS c FROM {toks} GROUP BY w", toks=toks
    ).localCheckpoint()
    docscore = spark.sql(
        """
    WITH occ0 AS (
      SELECT doc_id, w AS w1,
             LEAD(w) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
      FROM {toks}),
    occ AS (
      SELECT doc_id, w1, w2,
             COUNT(*) OVER (PARTITION BY w1, w2) AS c
      FROM occ0 WHERE w2 IS NOT NULL),
    vocab AS (SELECT COUNT(*) AS v FROM {uni}),
    scored AS (
      SELECT occ.doc_id,
             CAST(log2(CAST(occ.c + 1 AS DOUBLE) / (uni.c + vocab.v))
                  AS DECIMAL(18,9)) AS lp
      FROM occ
      JOIN {uni} uni ON occ.w1 = uni.w
      CROSS JOIN vocab)
    SELECT doc_id,
           CAST(ROUND(-CAST(SUM(lp) AS DOUBLE) / COUNT(*), 4)
                AS DECIMAL(18,6)) AS nll
    FROM scored GROUP BY doc_id""",
        toks=toks,
        uni=uni,
    ).localCheckpoint()
    return spark.sql(
        """
    WITH nb AS (SELECT MIN(nll) AS lo, MAX(nll) AS hi,
                  CAST(COUNT(*) AS BIGINT) AS n FROM {docscore}),
    dch AS (
      SELECT d.doc_id, d.nll,
             CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(FLOOR(CAST(d.nll - b.lo AS DOUBLE) * 1000
                                        / CAST(b.hi - b.lo AS DOUBLE))
                                  AS BIGINT), CAST(999 AS BIGINT)) END AS ck
      FROM {docscore} d CROSS JOIN nb b),
    dw AS (
      SELECT doc_id, nll, ck,
             ROW_NUMBER() OVER (PARTITION BY ck ORDER BY nll, doc_id)
               AS r_in
      FROM dch),
    doff AS (
      SELECT ck, COALESCE(SUM(c) OVER (ORDER BY ck
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
      FROM (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c FROM dch GROUP BY ck)),
    bucketed AS (
      SELECT w.doc_id, w.nll,
             CASE WHEN b.n DIV 3 = 0 THEN o.off + w.r_in
                  WHEN o.off + w.r_in
                       <= (b.n % 3) * (b.n DIV 3 + 1)
                    THEN (o.off + w.r_in + b.n DIV 3)
                         DIV (b.n DIV 3 + 1)
                  ELSE b.n % 3
                       + (o.off + w.r_in
                          - (b.n % 3) * (b.n DIV 3 + 1)
                          + b.n DIV 3 - 1) DIV (b.n DIV 3)
             END AS bucket
      FROM dw w JOIN doff o ON w.ck = o.ck CROSS JOIN nb b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(nll) AS DOUBLE) AS min_nll,
           CAST(MAX(nll) AS DOUBLE) AS max_nll,
           ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 4) AS avg_nll
    FROM bucketed GROUP BY bucket ORDER BY bucket""",
        docscore=docscore,
    )
