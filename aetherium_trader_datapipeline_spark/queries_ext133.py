"""Wave 133 (x471–x473): sequence entropy, closed-form PCA, and
error-budget alerting.

x471 — character bigram conditional entropy per source, H(c₂|c₁) =
−Σ p(pair)·ln(p(pair)/p(c₁)): the sequence-structure complement to
x276's unigram entropy (a corpus whose characters are predictable from
their predecessor compresses further than its unigram entropy says).
Pair extraction is positional substr over a generated index — no
regex, no UDF; each log term is one IEEE expression over exact counts,
1e12-quantized before the per-source sum.

x472 — exact 2-D PCA of (n_chars, whitespace-token count) per source:
the 2×2 covariance eigensystem has a closed form, so PC1's variance
share and orientation angle come out of DECIMAL-exact moments with no
iteration — the analytic baseline the power-iteration key (x245)
approximates in high dimension.

x473 — SRE error-budget burn-rate alerting on data quality: hourly
validation-failure shares against a 1% SLO, with the Google
multi-window multi-burn rule (page when the 1-hour burn > 14.4 AND the
6-hour burn > 6; ticket at 3/1 over 6h/3d).  Counts are exact integers;
rolling burns are windowed sums over the 720-row hourly frame.  Extends
V1 (row validation) from filtering to OPERATING the filter.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

# -- x471: char bigram conditional entropy ----------------------------------------------

_X471 = """
    WITH pairs AS (
      -- lower() is hoisted BEFORE the positional explode: applied after,
      -- it re-lowercases the whole document once per position (measured
      -- 44 s -> ~14 s at 100x)
      SELECT source, SUBSTR(ltext, i, 2) AS pair,
             SUBSTR(ltext, i, 1) AS c1
      FROM {possrc}
    ),
    pair_counts AS (
      SELECT source, pair, c1, CAST(COUNT(*) AS BIGINT) AS cp
      FROM pairs GROUP BY source, pair, c1
    ),
    c1_counts AS (
      SELECT source, c1, CAST(SUM(cp) AS BIGINT) AS c1n
      FROM pair_counts GROUP BY source, c1
    ),
    totals AS (
      SELECT source, CAST(SUM(cp) AS BIGINT) AS n
      FROM pair_counts GROUP BY source
    ),
    terms AS (
      SELECT p.source,
             CAST(FLOOR(-(CAST(p.cp AS DOUBLE) / t.n)
                        * LN(CAST(p.cp AS DOUBLE) / c.c1n) * 1e12)
                  AS BIGINT) AS h_fp
      FROM pair_counts p
      JOIN c1_counts c ON p.source = c.source AND p.c1 = c.c1
      JOIN totals t ON p.source = t.source
    )
    SELECT source,
           ROUND(CAST(SUM(h_fp) AS DOUBLE) / 1e12, 6)
             AS bigram_cond_entropy_nats
    FROM terms GROUP BY source ORDER BY source
"""

_POS_DUCK = """(
      SELECT source, ltext, unnest(range(1, length(ltext))) AS i
      FROM (SELECT source, lower(text) AS ltext FROM documents
            WHERE length(text) > 1) d
    ) ps"""


@register(
    "x471_char_bigram_entropy",
    headline=True,
    oracle=_X471.format(possrc=_POS_DUCK),
    tags=("text", "stats"),
)
def x471_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side is a vectorized Arrow kernel, not an explode: the SQL
    positional-explode form materializes |chars| rows (28-44 s at 100x);
    this kernel utf-32-encodes each batch's per-source concatenation
    (NUL separators), forms pair codes c1*0x110000 + c2 on numpy arrays,
    and np.unique-counts them — only (source, pair, count) partials
    leave the worker.  The entropy reduce is the same 1e12-quantized
    expression the DuckDB oracle runs, over identical integer counts."""
    import numpy as np

    docs = load_tables(spark, sf_dir)["documents"].selectExpr(
        "source", "lower(text) AS ltext"
    ).where("length(ltext) > 1")

    def count_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[tuple[str, int], int] = {}
            for source, grp in pdf.groupby("source"):
                joined = chr(0).join(grp["ltext"].tolist())
                a = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
                keys = a[:-1].astype(np.int64) * 0x110000 + a[1:]
                # drop pairs touching the NUL document separator
                keys = keys[(a[:-1] != 0) & (a[1:] != 0)]
                uniq, cnt = np.unique(keys, return_counts=True)
                for k, c in zip(uniq.tolist(), cnt.tolist()):
                    out[(source, k)] = out.get((source, k), 0) + c
            yield pd.DataFrame(
                {
                    "source": [s for s, _ in out],
                    "pair_code": [k for _, k in out],
                    "cp": list(out.values()),
                }
            )

    partials = docs.mapInPandas(
        count_pairs, "source string, pair_code bigint, cp bigint"
    )
    cells = partials.groupBy("source", "pair_code").agg(
        F.sum("cp").cast("long").alias("cp")
    )
    # r13: the old c1_counts/totals CTEs referenced `cells` three times
    # (p, c1_counts, totals) and CTE inlining re-ran the whole
    # scan -> mapInPandas -> groupBy subtree per reference — the plan
    # showed 3 MapInPandas nodes and 9 exchanges (guide §2.4, §4).  The
    # denominators are now windows over the tiny cells grid (one row per
    # distinct (source, pair)): SUM(cp) OVER (source, c1) and SUM(cp)
    # OVER (source) are the SAME bigint sums the grouped CTEs produced
    # (integer sums are order-free), so every h_fp term sees identical
    # cp/n/c1n and the 1e12-quantized result is unchanged.  After: 1
    # MapInPandas, 4 exchanges — all downstream traffic is the cells grid.
    return spark.sql(
        """
        WITH w AS (
          SELECT source, cp,
                 CAST(SUM(cp) OVER (PARTITION BY source, pair_code DIV 1114112)
                      AS BIGINT) AS c1n,
                 CAST(SUM(cp) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM {cells}
        ),
        terms AS (
          SELECT source,
                 CAST(FLOOR(-(CAST(cp AS DOUBLE) / n)
                            * LN(CAST(cp AS DOUBLE) / c1n) * 1e12)
                      AS BIGINT) AS h_fp
          FROM w
        )
        SELECT source,
               ROUND(CAST(SUM(h_fp) AS DOUBLE) / 1e12, 6)
                 AS bigram_cond_entropy_nats
        FROM terms GROUP BY source ORDER BY source
        """,
        cells=cells,
    )

# -- x472: closed-form 2-D PCA -------------------------------------------------------------

_X472 = """
    WITH feats AS (
      SELECT source,
             CAST(n_chars AS BIGINT) AS x,
             CAST({ntok} AS BIGINT) AS y
      FROM documents
    ),
    moms AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM feats GROUP BY source
    ),
    cov AS (
      SELECT source, n,
             CAST(n * sxx - sx * sx AS DOUBLE) / n / n AS cxx,
             CAST(n * syy - sy * sy AS DOUBLE) / n / n AS cyy,
             CAST(n * sxy - sx * sy AS DOUBLE) / n / n AS cxy
      FROM moms WHERE n > 2
    )
    SELECT source, n,
           ROUND((cxx + cyy) / 2
                 + SQRT(POWER((cxx - cyy) / 2, 2) + cxy * cxy), 6)
             AS lambda1,
           ROUND((cxx + cyy) / 2
                 - SQRT(POWER((cxx - cyy) / 2, 2) + cxy * cxy), 6)
             AS lambda2,
           CASE WHEN cxx + cyy > 0 THEN
             ROUND(((cxx + cyy) / 2
                    + SQRT(POWER((cxx - cyy) / 2, 2) + cxy * cxy))
                   / (cxx + cyy), 6) END AS pc1_var_share,
           CAST(FLOOR(ATAN2(
             (cxx + cyy) / 2
             + SQRT(POWER((cxx - cyy) / 2, 2) + cxy * cxy) - cxx,
             cxy) * 1e6) AS BIGINT) AS pc1_angle_microrad
    FROM cov ORDER BY source
"""

register_sql(
    "x472_pca2d_closed_form",
    spark_sql=_X472.format(ntok="size(split(text, ' '))"),
    duckdb_sql=_X472.format(ntok="len(string_split(text, ' '))"),
    tags=("stats", "profiling"),
)

# -- x473: error-budget burn-rate alerting -------------------------------------------------

_X473 = """
    WITH hourly AS (
      SELECT {epoch} {intdiv} 3600 AS hkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value IS NULL OR ABS(value) > 9.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad
      FROM events GROUP BY {epoch} {intdiv} 3600
    ),
    burns AS (
      SELECT hkey, n, bad,
             CAST(SUM(bad) OVER w6 AS BIGINT) AS bad6,
             CAST(SUM(n) OVER w6 AS BIGINT) AS n6,
             CAST(SUM(bad) OVER w72 AS BIGINT) AS bad72,
             CAST(SUM(n) OVER w72 AS BIGINT) AS n72
      FROM hourly
      WINDOW w6 AS (ORDER BY hkey ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
             w72 AS (ORDER BY hkey ROWS BETWEEN 71 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(hkey AS BIGINT) AS hour_key, n AS n_events, bad AS n_bad,
           ROUND(CAST(bad AS DOUBLE) / n / 0.01, 4) AS burn_1h,
           ROUND(CAST(bad6 AS DOUBLE) / n6 / 0.01, 4) AS burn_6h,
           ROUND(CAST(bad72 AS DOUBLE) / n72 / 0.01, 4) AS burn_3d,
           CASE WHEN CAST(bad AS DOUBLE) / n / 0.01 > 14.4
                 AND CAST(bad6 AS DOUBLE) / n6 / 0.01 > 6
                THEN 1 ELSE 0 END AS page_alert,
           CASE WHEN CAST(bad6 AS DOUBLE) / n6 / 0.01 > 3
                 AND CAST(bad72 AS DOUBLE) / n72 / 0.01 > 1
                THEN 1 ELSE 0 END AS ticket_alert
    FROM burns ORDER BY hour_key
"""

register_sql(
    "x473_error_budget_burn",
    spark_sql=_X473.format(intdiv="DIV", epoch="unix_seconds(ts)"),
    duckdb_sql=_X473.format(
        intdiv="//", epoch="CAST(FLOOR(epoch(ts)) AS BIGINT)"
    ),
    tags=("validation", "streaming"),
)
