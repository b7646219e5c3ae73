"""Wave 123 (x442–x444): vocabulary planning, a spread backtest, and
embedding-geometry diagnostics.

x442 — vocabulary coverage curve: the share of corpus tokens covered by
the top-k vocabulary for k ∈ {10, 100, 1000} — the table that sizes a
tokenizer's vocab against its OOV rate (Heaps x306 gives growth; this
gives coverage).  Rank by exact counts, cumulative integer sums.
Scale shape: only k ≤ 1000 reaches the output, so the corpus total is a
separate scalar aggregate and the rank/cumsum windows run on the
`ORDER BY c DESC LIMIT 1000` relation (TakeOrderedAndProject — a
per-partition top-k merge, never a global sort).  A 100 TB web corpus
has a 1e8–1e9-term vocabulary; the earlier form ran ROW_NUMBER/SUM OVER
an unpartitioned window across ALL of it through one task
(WindowExec "No Partition Defined"), which is the canonical
single-task scale killer.  The bounded form's only single-partition
window sits above a 1000-row LIMIT.

x443 — pairs-trading z-score backtest over the x426 cointegration
spine: spread = ya − β·xb (β from exact hedge moments, spread
re-quantized to 1e9 ints), z from the pair's own DECIMAL-exact
moments; the position state machine (enter beyond ±2σ, exit on the
zero crossing) is a marker column carried forward with the portable
IGNORE-NULLS last_value (the x71 idiom — Spark spells IGNORE NULLS
outside the parens, DuckDB inside).  PnL is Σ position_{t−1}·Δspread —
pure integer, so a backtest P&L hash-verifies across engines.

x444 — embedding isotropy report: mean pairwise dot via the identity
(‖Σv‖² − Σ‖v‖²)/(n(n−1)) over 1e6-quantized components (one
per-dimension sum pass — never an n² pairs join), plus the max
per-dimension variance share (isotropic ≈ 1/dims).  The geometry check
run before trusting cosine similarity (x35/x49/x191) on a new encoder.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register, register_sql

# -- x442: vocabulary coverage curve ------------------------------------------------

_X442 = """
    WITH tok AS ({tok}),
    counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term
    ),
    total AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM counts
    ),
    top_terms AS (
      -- ORDER BY + LIMIT plans as TakeOrderedAndProject: each partition
      -- keeps its local top-1000, the driver merges 1000 x n_partitions
      -- rows.  The vocabulary relation (1e8-1e9 terms at corpus scale)
      -- is never globally sorted and never crosses one task.
      SELECT term, c FROM counts ORDER BY c DESC, term LIMIT 1000
    ),
    cum AS (
      -- Single-partition windows, but over the <= 1000-row LIMIT above.
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk,
             SUM(c) OVER (ORDER BY c DESC, term
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS covered
      FROM top_terms
    ),
    ks AS (SELECT 10 AS k UNION ALL SELECT 100 UNION ALL SELECT 1000)
    SELECT ks.k,
           CAST(MAX(CASE WHEN cum.rk <= ks.k THEN cum.rk END) AS BIGINT)
             AS vocab_used,
           CAST(MAX(CASE WHEN cum.rk <= ks.k THEN cum.covered END)
                AS BIGINT) AS tokens_covered,
           ROUND(CAST(MAX(CASE WHEN cum.rk <= ks.k THEN cum.covered END)
                      AS DOUBLE) / MAX(total.total_tokens), 6)
             AS coverage_share
    FROM ks CROSS JOIN total JOIN cum ON cum.rk <= ks.k
    GROUP BY ks.k ORDER BY ks.k
"""

_TOK_SPARK = """
      SELECT w AS term
      FROM documents LATERAL VIEW explode(split(lower(text), ' ')) t AS w
      WHERE w != ''
"""
_TOK_DUCK = """
      SELECT w AS term FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents) u
      WHERE w != ''
"""

register_sql(
    "x442_vocab_coverage_curve",
    spark_sql=_X442.format(tok=_TOK_SPARK),
    duckdb_sql=_X442.format(tok=_TOK_DUCK),
    tags=("text", "planning"),
)

# -- x443: pairs z-score backtest -----------------------------------------------------

# r14: the Spark side materializes the tiny lp frame (last log-price per
# (sym, minute) — one events scan + one window) into an eagerly
# checkpointed DataFrame; CTE inlining otherwise re-ran that scan+window
# once per self-join side (2.1 s -> ~1.2 s at sf0.1).  The oracle keeps
# the original single-statement text.
_X443_LP = """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    )
    SELECT sym, mkey,
           CAST(FLOOR(LN(CAST(px AS DOUBLE)) * 1e9) AS BIGINT) AS lp_fp
    FROM (
      SELECT sym, mkey, px,
             ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ticks
    ) t WHERE rn = 1
"""

_X443 = """
    WITH ticks AS (
      SELECT user_id % 10 AS sym, {epoch} {intdiv} 60 AS mkey, ts, event_id,
             CAST(100 + (value - FLOOR(value)) * 10 AS DECIMAL(18,6)) AS px
      FROM events WHERE value IS NOT NULL
    ),
    lp AS (
      SELECT sym, mkey,
             CAST(FLOOR(LN(CAST(px AS DOUBLE)) * 1e9) AS BIGINT) AS lp_fp
      FROM (
        SELECT sym, mkey, px,
               ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ticks
      ) t WHERE rn = 1
    ),
    aligned AS (
      SELECT a.sym AS sa, b.sym AS sb, a.mkey,
             a.lp_fp AS ya, b.lp_fp AS xb
      FROM lp a JOIN lp b ON a.mkey = b.mkey AND a.sym < b.sym
    ),
    hedge AS (
      SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(xb AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(ya AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(xb AS DECIMAL(18,0)) * xb) AS DECIMAL(38,0))
               AS sxx,
             CAST(SUM(CAST(xb AS DECIMAL(18,0)) * ya) AS DECIMAL(38,0))
               AS sxy
      FROM aligned GROUP BY sa, sb
      HAVING COUNT(*) > 100
    ),
    hedgeok AS (
      SELECT * FROM hedge WHERE n * sxx - sx * sx > 0
    ),
    spread AS (
      SELECT a.sa, a.sb, a.mkey,
             CAST(FLOOR(a.ya
                        - (CAST(h.n * h.sxy - h.sx * h.sy AS DOUBLE)
                           / CAST(h.n * h.sxx - h.sx * h.sx AS DOUBLE))
                          * a.xb) AS BIGINT) AS s_fp
      FROM aligned a JOIN hedgeok h ON a.sa = h.sa AND a.sb = h.sb
    ),
    smoms AS (
      SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(s_fp AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS ss,
             CAST(SUM(CAST(s_fp AS DECIMAL(18,0)) * s_fp) AS DECIMAL(38,0))
               AS sss
      FROM spread GROUP BY sa, sb
    ),
    zs AS (
      SELECT sp.sa, sp.sb, sp.mkey, sp.s_fp,
             (sp.s_fp - CAST(m.ss AS DOUBLE) / m.n)
               / SQRT(CAST(m.sss AS DOUBLE) / m.n
                      - (CAST(m.ss AS DOUBLE) / m.n)
                        * (CAST(m.ss AS DOUBLE) / m.n)) AS z
      FROM spread sp JOIN smoms m ON sp.sa = m.sa AND sp.sb = m.sb
      WHERE m.n * m.sss - m.ss * m.ss > 0
    ),
    marks AS (
      SELECT sa, sb, mkey, s_fp,
             CASE WHEN z > 2 THEN -1
                  WHEN z < -2 THEN 1
                  WHEN z = 0 OR SIGN(z) <> SIGN(LAG(z) OVER w) THEN 0
             END AS marker
      FROM zs
      WINDOW w AS (PARTITION BY sa, sb ORDER BY mkey)
    ),
    pos AS (
      SELECT sa, sb, mkey, s_fp,
             COALESCE({lastval}, 0) AS position
      FROM marks
      WINDOW w AS (PARTITION BY sa, sb ORDER BY mkey)
    ),
    steps AS (
      SELECT sa, sb,
             LAG(position) OVER w AS pos_prev,
             position,
             s_fp - LAG(s_fp) OVER w AS ds
      FROM pos
      WINDOW w AS (PARTITION BY sa, sb ORDER BY mkey)
    )
    SELECT CAST(sa AS BIGINT) AS sym_a, CAST(sb AS BIGINT) AS sym_b,
           CAST(SUM(CASE WHEN COALESCE(pos_prev, 0) = 0 AND position != 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_entries,
           CAST(SUM(CASE WHEN COALESCE(pos_prev, 0) != 0 AND position = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_round_trips,
           ROUND(CAST(SUM(COALESCE(pos_prev, 0) * COALESCE(ds, 0))
                      AS DOUBLE) / 1e9, 9) AS total_pnl_logret
    FROM steps GROUP BY sa, sb ORDER BY sym_a, sym_b
"""

_LASTVAL_SPARK = "LAST_VALUE(marker) IGNORE NULLS OVER w"
_LASTVAL_DUCK = "LAST_VALUE(marker IGNORE NULLS) OVER w"

_X443_SPARK = _X443.format(
    intdiv="DIV", epoch="unix_seconds(ts)", lastval=_LASTVAL_SPARK
).replace(
    """lp AS (
      SELECT sym, mkey,
             CAST(FLOOR(LN(CAST(px AS DOUBLE)) * 1e9) AS BIGINT) AS lp_fp
      FROM (
        SELECT sym, mkey, px,
               ROW_NUMBER() OVER (PARTITION BY sym, mkey
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ticks
      ) t WHERE rn = 1
    ),""",
    "lp AS (SELECT * FROM {lp}),",
)


_X443_DUCK = _X443.format(
    intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)",
    lastval=_LASTVAL_DUCK,
)


@register("x443_pairs_backtest", oracle=_X443_DUCK, tags=("finance", "backtest"))
def x443_pairs_backtest(spark, sf_dir):
    from aetherium_trader_datapipeline_spark.tables import load_tables

    load_tables(spark, sf_dir)
    lp = spark.sql(_X443_LP.format(intdiv="DIV", epoch="unix_seconds(ts)"))
    return spark.sql(_X443_SPARK, lp=lp.localCheckpoint(eager=True))

# -- x444: embedding isotropy ---------------------------------------------------------

_X444 = """
    WITH comps AS (
      SELECT vec_id, dim, CAST(FLOOR(val * 1e6) AS BIGINT) AS v_fp
      FROM {compsrc}
    ),
    per_dim AS (
      SELECT dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v_fp AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sv,
             CAST(SUM(CAST(v_fp AS DECIMAL(18,0)) * v_fp) AS DECIMAL(38,0))
               AS svv
      FROM comps GROUP BY dim
    ),
    dimvar AS (
      SELECT dim, n, sv, svv,
             CAST(FLOOR((CAST(svv AS DOUBLE) / n
                         - (CAST(sv AS DOUBLE) / n)
                           * (CAST(sv AS DOUBLE) / n)) / 1e3) AS BIGINT)
               AS var_fp
      FROM per_dim
    ),
    agg AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
             CAST(COUNT(*) AS BIGINT) AS dims,
             -- sv fits DECIMAL(18,0) (|n|·max|v_fp| ≤ ~4e11 at 1000x);
             -- squaring at (18,0) keeps the product inside DECIMAL(38,0)
             CAST(SUM(CAST(sv AS DECIMAL(18,0)) * CAST(sv AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS norm_sum_sq,
             CAST(SUM(svv) AS DECIMAL(38,0)) AS sum_norms_sq,
             CAST(MAX(var_fp) AS BIGINT) AS max_var_fp,
             CAST(SUM(var_fp) AS BIGINT) AS tot_var_fp
      FROM dimvar
    )
    SELECT n_vecs, dims,
           ROUND(SQRT(CAST(sum_norms_sq AS DOUBLE) / n_vecs) / 1e6, 6)
             AS rms_norm,
           ROUND((CAST(norm_sum_sq AS DOUBLE) - CAST(sum_norms_sq AS DOUBLE))
                 / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1)) / 1e12, 9)
             AS mean_pairwise_dot,
           ROUND((CAST(norm_sum_sq AS DOUBLE) - CAST(sum_norms_sq AS DOUBLE))
                 / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1))
                 / (CAST(sum_norms_sq AS DOUBLE) / n_vecs), 9)
             AS anisotropy_ratio,
           ROUND(CAST(max_var_fp AS DOUBLE) / tot_var_fp, 6)
             AS max_dim_var_share
    FROM agg
"""

_COMPSRC_SPARK = """(
      SELECT vec_id, dim, val
      FROM embeddings
      LATERAL VIEW posexplode(CAST(embedding AS ARRAY<DOUBLE>))
        t AS dim, val
    ) c"""
_COMPSRC_DUCK = """(
      SELECT vec_id,
             generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1 AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings
    ) c"""

register_sql(
    "x444_embedding_isotropy",
    spark_sql=_X444.format(compsrc=_COMPSRC_SPARK),
    duckdb_sql=_X444.format(compsrc=_COMPSRC_DUCK),
    tags=("embeddings", "profiling"),
)
