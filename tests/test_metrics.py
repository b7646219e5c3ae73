"""``metrics.measure``: the one per-key timer behind bench.py and
scripts/time_keys.py."""

from __future__ import annotations

import time

from aetherium_trader_datapipeline_spark.metrics import measure
from aetherium_trader_datapipeline_spark.queries import REGISTRY, register

KEY = "test_metrics_eager_key"


def test_measure_times_run_and_counts_jobs(spark, sf_dir):
    @register(KEY, oracle="SELECT 1")
    def eager(spark, sf_dir):
        # eager work inside run(): a timer started after run() misses it
        time.sleep(0.3)
        return spark.range(3).localCheckpoint(eager=True)

    try:
        rec = measure(spark, KEY, sf_dir, runs=2)
    finally:
        del REGISTRY[KEY]

    assert set(rec) == {"key", "sf", "cpus", "wall_s", "samples", "rows", "jobs"}
    assert rec["key"] == KEY and rec["sf"] == sf_dir
    assert rec["cpus"] == spark.sparkContext.defaultParallelism
    assert rec["wall_s"] >= 0.3
    assert len(rec["samples"]) == 2 and min(rec["samples"]) >= 0.3
    assert rec["jobs"] >= 2  # the checkpoint's job plus the collect's
    assert rec["rows"] == 3
