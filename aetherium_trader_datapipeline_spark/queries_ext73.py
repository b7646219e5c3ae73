"""Wave 73 (x309): Poisson-bootstrap confidence intervals in one pass.

The scalable bootstrap: classic resampling draws B samples WITH
replacement — impossible distributed without B shuffles — but for large n
each row's multiplicity in one replicate is ≈ Poisson(1), so B replicate
estimates come from ONE pass by giving every (row, b) a Poisson weight
(Chamandy et al., "Estimating uncertainty for massive data streams",
Google 2012).  Here the weights are DETERMINISTIC: u = md5(key, b) as a
48-bit integer, inverted through the Poisson(1) CDF at fixed integer
thresholds — so both engines draw the identical replicates and the whole
CI hash-verifies (no RNG in either engine).

Per replicate b in 0..31: mean_b = Σ w·x / Σ w over orders' o_totalprice
(DECIMAL accumulation, order-independent); the report is the point
estimate plus the percentile CI [2nd smallest, 2nd largest] of the 32
replicate means (a ~94% interval) and their spread — the error bar a
100 TB aggregation job attaches to any metric for one extra weighted agg,
no second pass over the data.
"""

from __future__ import annotations

from aetherium_trader_datapipeline_spark.queries import register
from aetherium_trader_datapipeline_spark.tables import load_tables

# Poisson(1) CDF * 2^48, rounded — fixed integer thresholds.
_P = [
    103561541887779,   # P(X<=0) = e^-1
    207123083775558,   # P(X<=1)
    258903854719448,   # P(X<=2)
    276164111700744,   # P(X<=3)
    280479175946068,   # P(X<=4)
    281342188795133,   # P(X<=5); beyond -> 6
]
_W_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN {i}" for i, t in enumerate(_P))
    + " ELSE 6 END"
)


def _x309_sql(md5i, gen_b: str) -> str:
    u = md5i("CAST(o.o_orderkey AS STRING) || '-' || CAST(b.b AS STRING)", 1, 12)
    return f"""
    WITH reps AS ({gen_b}),
    weighted AS (
      SELECT b.b, {_W_CASE.replace("u <", f"{u} <")} AS w,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders o CROSS JOIN reps b
    ),
    means AS (
      -- exact DECIMAL sum, then one IEEE double division: identical in
      -- both engines (decimal/decimal division scales differ per engine)
      SELECT b,
             CAST(CAST(SUM(w * x) AS DECIMAL(28,2)) AS DOUBLE) / SUM(w) AS m
      FROM weighted WHERE w > 0 GROUP BY b
    ),
    ranked AS (
      SELECT m,
             ROW_NUMBER() OVER (ORDER BY m, b) AS rk,
             COUNT(*) OVER () AS nb
      FROM means
    ),
    point AS (
      SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 4) AS mean_full
      FROM orders
    )
    SELECT p.mean_full,
           ROUND(CAST(MIN(CASE WHEN r.rk = 2 THEN r.m END) AS DOUBLE), 4) AS ci_lo,
           ROUND(CAST(MIN(CASE WHEN r.rk = r.nb - 1 THEN r.m END) AS DOUBLE), 4)
             AS ci_hi,
           CAST(MAX(r.nb) AS BIGINT) AS n_replicates,
           ROUND(CAST(MAX(r.m) - MIN(r.m) AS DOUBLE), 4) AS replicate_spread
    FROM ranked r CROSS JOIN point p
    GROUP BY p.mean_full
"""


def _md5i_spark(expr: str, a: int, n: int) -> str:
    return f"CAST(conv(substring(md5({expr}), {a}, {n}), 16, 10) AS BIGINT)"


def _md5i_duck(expr: str, a: int, n: int) -> str:
    return f"(('0x' || substring(md5({expr}), {a}, {n}))::BIGINT)"


_X309_SPARK = _x309_sql(_md5i_spark, "SELECT explode(sequence(0, 31)) AS b").replace(
    # r14: the orders×32-replicate expansion evaluates ~4.8M md5s at
    # sf0.1, but the orders scan is one parquet row group, so the whole
    # weighted projection ran as ONE task (the exploding-operator AQE
    # blind spot — input bytes tiny, generated work large).  Feeding the
    # cross join from a cores-derived round-robin repartition of orders
    # spreads the hash work: measured 10.4–12.6 s → 1.2–2.7 s on
    # local[32] at sf0.1.  Spark side only; the DuckDB oracle text is
    # unchanged.
    "FROM orders o CROSS JOIN reps b",
    "FROM {orders_rep} o CROSS JOIN reps b",
)


@register("x309_poisson_bootstrap", oracle=_x309_sql(
    _md5i_duck, "SELECT unnest(range(0, 32)) AS b"
).replace("AS STRING", "AS VARCHAR"), tags=("stats", "sampling"))
def x309_poisson_bootstrap(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p = spark.sparkContext.defaultParallelism * 2
    return spark.sql(_X309_SPARK, orders_rep=t["orders"].repartition(p))
