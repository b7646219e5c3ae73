"""One per-key measurement: how a registry key is timed.

``bench.py`` and ``scripts/time_keys.py`` both time keys through
``measure`` so their numbers cannot drift apart by protocol.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import SparkSession

from aetherium_trader_datapipeline_spark.queries import REGISTRY


def measure(spark: SparkSession, key: str, sf_dir: str, runs: int = 1) -> dict:
    """Run registry ``key`` against ``sf_dir`` ``runs`` times, timing each.

    Each run first drops DataFrame caches: a key that persists an
    intermediate would otherwise let run 2 read run 1's cache. The timer
    then wraps ``run()`` and a noop-sink write as one unit, because
    function keys do eager work (``localCheckpoint``) inside ``run()``.
    The noop sink materializes every output column without moving rows to
    the driver (a key's output reaches 500 k+ rows on the 100x replicas),
    and unlike ``count()`` it lets Catalyst prune no column. The DAG
    scheduler's job counter is read around each run and the rows are
    counted after the last one, both outside the timed window.

    Returns ``{key, sf, cpus, wall_s, samples, rows, jobs}``: ``wall_s`` is
    the median of the ``samples`` (seconds), ``rows`` the output row
    count, ``cpus`` the session's default parallelism and ``jobs`` the
    Spark jobs one run starts (the largest count, should runs differ).
    """
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    samples, jobs = [], []
    for _ in range(runs):
        spark.catalog.clearCache()
        first_job = dag.nextJobId()
        t0 = time.perf_counter()
        df = REGISTRY[key].run(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
        jobs.append(dag.nextJobId() - first_job)
    return {
        "key": key,
        "sf": sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "wall_s": round(statistics.median(samples), 4),
        "samples": [round(s, 4) for s in samples],
        "rows": df.count(),
        "jobs": max(jobs),
    }
