"""Product-path benchmark: live ingest, gap backfill and K-bar queries.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 15 --trace 0

The engine is imported from the checkout itself. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Lines before it give the host record and each workload's
own figures by name and unit. A full record (host, all metrics, errors)
goes to ``.perfbench/<workload>-seed<seed>-trace<t>.json``; a traced run
also writes its spans there.

Exits non-zero, with no result line, if the engine cannot be imported or
a workload raises.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aetherium_trader_datapipeline_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP, YOUNG_GEN = "1g", "256m"


def _engine_importable() -> bool:
    """The engine must come from this checkout, never from elsewhere on
    the path."""
    spec = importlib.util.find_spec(PACKAGE)
    return spec is not None and spec.origin is not None and \
        os.path.abspath(spec.origin).startswith(os.path.join(ROOT, PACKAGE) + os.sep)


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_root: str, cores: int):
    """The engine's own session factory, with every scratch path inside
    the run directory."""
    from aetherium_trader_datapipeline_spark.session import get_spark

    jvm_opts = f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that assembles the driver's command
    extra = {
        "spark.local.dir": os.path.join(run_root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        # A fixed heap and young generation: G1 then neither resizes the
        # heap nor the eden with its pause-time heuristics, which put peak
        # RSS 25% apart across runs. Pages are touched only as used, so
        # peak RSS is the young generation, the old generation's peak
        # (retained state, large results) and everything off the heap.
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN}",
        "spark.ui.showConsoleProgress": "false",
        # every progress record of a drain, every job and stage of a run
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    t = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
            raise
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not _engine_importable():
        print(f"{PACKAGE} is not in {ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.trace import Tracer, percentile

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {group: {m["name"]: m["unit"] for m in spec[group]}
             for group in ("end_to_end", "per_layer")}

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"  # Spark collects timestamps as naive local datetimes
    time.tzset()
    os.makedirs(OUT_DIR, exist_ok=True)
    run_root = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    cores = _cores()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    phases = {}
    t = time.perf_counter()
    try:
        spark, get_spark_s = start_session(run_root, cores)
        import pyarrow
        import pyspark

        host = {
            "nproc": cores, "master": f"local[{cores}]", "spark": pyspark.__version__,
            "python": platform.python_version(), "pyarrow": pyarrow.__version__,
            "commit": _git_commit(), "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
        }
        ctx = workloads.Ctx(spark, args.seed, args.seconds, run_root, tracer)
        phases["session_s"] = time.perf_counter() - t
        r = workloads.WORKLOADS[args.workload](ctx)
        phases["workload_s"] = time.perf_counter() - t - phases["session_s"]
        phases["timed_s"] = r.timed_s
        host.update(workloads.calibrate(ctx))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_root, ignore_errors=True)
    phases["total_s"] = time.perf_counter() - t

    op_ms_p50, ops_per_s = percentile(r.op_ms, 50), len(r.op_ms) / r.busy_s
    end_to_end = {
        "setup_s": get_spark_s + statistics.median(r.setup_s),
        "peak_rss_mb": r.peak_rss_mb,
        "cpu_ms_per_op": r.cpu_s * 1000 / len(r.op_ms),
        "store_bytes_per_tick": r.store_bytes / r.store_ticks,
    }
    layers = dict.fromkeys(units["per_layer"], 0.0)
    layers.update(r.layers)
    layers.update(tracer.counters)
    layers["session.get_spark_s"] = get_spark_s
    layers["tables.load_tables_s"] = host["tables.load_tables_s"]
    layers["queries.q01_scan_agg_ms"] = host["queries.q01_scan_agg_ms"]
    layers["trace.spans"] = len(tracer.spans)
    layers["trace.overhead_ms"] = tracer.cost_s * 1000
    for group, values in (("end_to_end", end_to_end), ("per_layer", layers)):
        if set(values) != set(units[group]):
            raise RuntimeError(f"{group} metrics differ from BENCHMARK.json: "
                               f"{sorted(set(values) ^ set(units[group]))}")

    error_rate = r.failed / r.attempted
    summary = r.summary + [("setup_s", end_to_end["setup_s"], "s"),
                           ("peak_rss_mb", r.peak_rss_mb, "MB"),
                           ("cpu_ms_per_op", end_to_end["cpu_ms_per_op"], "ms"),
                           ("op_ms_p50", op_ms_p50, "ms"),
                           ("ops_per_s", ops_per_s, "1/s"),
                           ("cpu_busy", r.cpu_s / r.timed_s, "cores"),
                           ("host_steal", r.steal_share, "ratio"),
                           ("error_rate", error_rate, "ratio"),
                           ("samples", len(r.op_ms), "count")]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, tag + ".json"), "w") as f:
        json.dump({"host": host, "end_to_end": end_to_end, "per_layer": layers,
                   "summary": {n: v for n, v, _ in summary}, "phases": phases,
                   "attempted": r.attempted, "op_ms": r.op_ms, "cpu_s": r.cpu_s,
                   "steal_share": r.steal_share,
                   "failed": r.failed, "errors": r.errors}, f, indent=1)
    if tracer.enabled:
        tracer.dump(os.path.join(OUT_DIR, tag + ".spans.jsonl"))

    print("host " + json.dumps(host))
    print("phases " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    for name, value, unit in summary:
        print(f"{args.workload} {name} {value:.6g} {unit}")
    for e in r.errors[:20]:
        print(f"{args.workload} mismatch: {e}")
    group, values = ("per_layer", layers) if args.trace else ("end_to_end", end_to_end)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units[group].items()}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
