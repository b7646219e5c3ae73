#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Median of N_RUNS (default 3) per query, timed by ``metrics.measure``,
after one warm-up pass of the full suite — the protocol recorded in
BASELINE.md ("per-query wall-clock (median of 3)", "sum of medians");
keep statistic and run count in sync with BASELINE.md if either ever
changes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from aetherium_trader_datapipeline_spark.metrics import measure
    from aetherium_trader_datapipeline_spark.queries import headline_keys
    from aetherium_trader_datapipeline_spark.session import get_spark
    from aetherium_trader_datapipeline_spark.tables import load_tables

    spark = get_spark(master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)

    keys = headline_keys()

    # Warm-up: full pass (JIT, codegen, file-footer caches).
    for k in keys:
        measure(spark, k, sf_dir)

    per_query = {k: measure(spark, k, sf_dir, runs=N_RUNS)["wall_s"] for k in keys}

    total = round(sum(per_query.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
