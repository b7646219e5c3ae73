#!/usr/bin/env python
"""Run the pytest gate as N parallel shards (VERDICT r10 ask #5).

pytest-xdist is not in this environment, so parallelism comes from N
independent pytest PROCESSES, each with its own Spark session (the
conftest session fixture builds one per process; warehouse dirs are
per-process tempdirs, the UI is disabled, and all test artifacts live in
mkdtemp paths, so processes do not collide).

Shards are packed GREEDILY by measured file duration (the static
_DURATIONS map below, seconds, from the r11 full-suite junit timing);
files not in the map fall back to a size-based estimate.  Re-measure
with `pytest --junitxml` and refresh the map when the balance drifts —
the packing only affects wall-clock, never correctness: every test file
runs exactly once regardless.

Usage:
  python scripts/run_tests_sharded.py [-n 4] [--pytest-args "-q"]

Exit code: 0 iff every shard passed.  Per-shard tails are printed on
failure; full logs land in /tmp/pytest-shard-*.log.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# seconds per test FILE, measured from the r11 full-suite run
# (junitxml sums); test_plan_audit.py re-measured with --durations=0 on
# 4 cores after its four registry passes became one; test_metrics.py
# measured the same way (call time, session setup excluded);
# test_streaming.py, test_e2e_platform.py and test_merge_compact.py from
# the junitxml sums of a serial full-suite run on 4 cores. Refresh
# occasionally; missing files are estimated.
_DURATIONS: dict[str, float] = {}  # populated below by _load_measured()

_MEASURED = """
test_queries_oracle.py 372
test_plan_audit.py 136
test_streaming.py 122
test_properties.py 79
test_operators.py 79
test_sessionizer_tws.py 68
test_merge_compact.py 45
test_microprice_tws.py 30
test_asof_tws.py 29
test_control_table.py 23
test_multimodal.py 22
test_e2e_curation.py 20
test_cli.py 17
test_curation.py 14
test_tickflow_tws.py 12
test_tws_state_types.py 11
test_heavy_hitters.py 11
test_dedup_tws.py 11
test_plans.py 10
test_layout.py 10
test_e2e_platform.py 9
test_bootstrap.py 9
test_rollup_sketches.py 9
test_properties_sql.py 8
test_pydatasource.py 7
test_skew_bucketing.py 5
test_io_formats.py 4
test_metrics.py 4
test_protoshim.py 1
"""


def _load_measured() -> None:
    for line in _MEASURED.strip().splitlines():
        if not line.strip():
            continue
        name, secs = line.split()
        _DURATIONS[name] = float(secs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=4)
    ap.add_argument("--pytest-args", default="-q")
    args = ap.parse_args()
    if args.n < 1:
        ap.error("-n must be >= 1")
    _load_measured()

    files = sorted(glob.glob(os.path.join(ROOT, "tests", "test_*.py")))
    est = {
        f: _DURATIONS.get(os.path.basename(f), os.path.getsize(f) / 2000.0)
        for f in files
    }
    # greedy longest-first bin packing
    shards: list[list[str]] = [[] for _ in range(args.n)]
    loads = [0.0] * args.n
    for f in sorted(files, key=lambda f: -est[f]):
        i = loads.index(min(loads))
        shards[i].append(f)
        loads[i] += est[f]

    procs = []
    t0 = time.time()
    for i, shard in enumerate(shards):
        if not shard:
            continue
        log = f"/tmp/pytest-shard-{i}.log"
        cmd = [sys.executable, "-m", "pytest", *args.pytest_args.split(),
               *shard]
        env = dict(os.environ)
        # keep N concurrent JVMs from oversubscribing the host
        env.setdefault(
            "SPARK_GRAFT_CPUS", str(max(2, (os.cpu_count() or 8) // args.n))
        )
        procs.append((i, log, subprocess.Popen(
            cmd, cwd=ROOT, stdout=open(log, "w"), stderr=subprocess.STDOUT,
            env=env,
        )))
        print(f"shard {i}: {len(shard)} files, est {loads[i]:.0f}s -> {log}")

    rc = 0
    for i, log, p in procs:
        p.wait()
        tail = open(log).read().strip().splitlines()
        summary = tail[-1] if tail else "(no output)"
        print(f"shard {i} exit={p.returncode}: {summary}")
        if p.returncode != 0:
            rc = 1
            print("\n".join(tail[-25:]))
    print(f"total wall: {time.time() - t0:.0f}s")
    return rc


if __name__ == "__main__":
    sys.exit(main())
