"""Parquet inspection/verification (op F1).

Reference binary: print footer metadata — version, num_rows, row groups,
schema (bin/src/bin/verify_parquet.rs:6-32). Spark-side: schema and
row counts come from the catalog/footers; per-file stats via
``input_file_name`` grouping (footer-only count pruning is what the
reference's gap scan relied on, detectors/gap.rs:70-83).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def inspect_parquet(spark: SparkSession, path: str) -> dict:
    df = spark.read.parquet(path)
    per_file = (
        df.groupBy(F.input_file_name().alias("file"))
        .count()
        .orderBy("file")
        .collect()
    )
    return {
        "path": path,
        "num_rows": sum(r["count"] for r in per_file),
        "num_files": len(per_file),
        "schema": df.schema.simpleString(),
        "files": {r["file"]: r["count"] for r in per_file},
    }
