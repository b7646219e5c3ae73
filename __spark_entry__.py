"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship OHLCV query (the reference's signature
  workload) on /root/testdata/sf0.001.
- ``queries()``: every implemented operator/query from SURVEY.md §2,
  keyed; each callable (spark, sf_dir) -> DataFrame.
- ``oracle_sql()``: DuckDB-dialect equivalents for every key in
  ``queries()``; both emit keys in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from aetherium_trader_datapipeline_spark import queries as q

    return q.REGISTRY["q32_ohlcv"].run(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from aetherium_trader_datapipeline_spark import queries as q

    return q.queries()


def oracle_sql() -> dict[str, str]:
    from aetherium_trader_datapipeline_spark import queries as q

    return q.oracle_sql()
