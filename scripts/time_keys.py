#!/usr/bin/env python
"""Time registry keys against a table directory (fixtures or scale replicas).

Usage:
  python scripts/time_keys.py <dir> [--runs N] [key1 key2 ...]

With no keys, every registry key is measured (a job-count sweep:
``--runs 1``). Each key is run once untimed (codegen, footer caches), then
timed by ``metrics.measure`` (median of N runs of ``run()`` plus a
noop-sink write, default 3), after one warm scan of every table.
``q01_scan_agg`` is always measured first as the host calibrator, so every
figure carries a same-session denominator. Prints one JSON line per key:
{"key", "sf", "cpus", "wall_s", "samples", "rows", "jobs"}, or
{"key", "error"} for a key that raised; the sweep goes on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CALIBRATOR = "q01_scan_agg"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("dir")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_intermixed_args()

    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.metrics import measure
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions
    from aetherium_trader_datapipeline_spark.session import get_spark
    from aetherium_trader_datapipeline_spark.tables import load_tables

    _load_extensions()
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="tk-wh-")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for df in load_tables(spark, args.dir).values():
        df.agg(F.count(F.lit(1))).collect()  # warm the scans

    keys = [CALIBRATOR] + [k for k in args.keys or REGISTRY if k != CALIBRATOR]
    for k in keys:
        try:
            measure(spark, k, args.dir)  # warm-up run, untimed
            rec = measure(spark, k, args.dir, runs=args.runs)
        except Exception as e:  # noqa: BLE001 - record the key, keep sweeping
            rec = {"key": k, "error": str(e)[:200]}
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
