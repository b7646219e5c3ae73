#!/usr/bin/env python
"""Mechanical full-registry oracle sweep with per-key timeout + resume.

The r7 sf0.1 sweep stalled inside the heavy pure-Python codec keys
(x500+) and stopped at registry key 500 (SCALE.md round-7 note); this
script makes the sweep completable unattended (VERDICT r7 ask #8):

- per-key wall-clock budget: the key runs in a worker thread under a
  Spark job group; on timeout the group is cancelled (kills the Python
  workers too) and the key is recorded as "timeout" instead of wedging
  the whole sweep;
- resume: results append to a JSONL state file; keys already recorded
  ok in the state file are skipped on re-run, so an interrupted sweep
  continues where it stopped;
- Arrow batch size pinned (spark.sql.execution.arrow.maxRecordsPerBatch)
  so the pure-Python codec keys stream bounded batches instead of one
  giant per-partition batch.

Usage:
  python scripts/sweep_oracle.py [sf_dir] [--start N] [--end M]
         [--timeout SECS] [--state FILE] [--fresh]
Defaults: sf_dir=/root/testdata/sf0.1, start/end = whole registry
(REGISTRATION order, 1-based inclusive slice — matches SCALE.md's
"registry keys 1-500" wording), timeout=300 s/key,
state=.data/sweep_<sfname>_state.jsonl.

Each state line: {"key":..., "idx":..., "status":"ok|fail|timeout|error",
"wall_s":..., "problems":[...]}.  Exit code 0 iff every swept key is ok.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutTimeout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--start", type=int, default=1, help="1-based registry index")
    ap.add_argument("--end", type=int, default=None, help="inclusive")
    ap.add_argument("--timeout", type=float, default=300.0)
    ap.add_argument("--state", default=None)
    ap.add_argument("--fresh", action="store_true", help="ignore existing state")
    ap.add_argument(
        "--skip",
        default="",
        help="comma-separated keys to record as 'skipped' without running "
        "(documented exclusions, e.g. definitionally-quadratic exact "
        "baselines at large SF)",
    )
    ap.add_argument(
        "--duckdb-mem",
        default="16GB",
        help="memory_limit for the forked oracle (spill instead of RAM)",
    )
    args = ap.parse_args()

    sfname = os.path.basename(os.path.normpath(args.sf_dir)) or "sf"
    state_path = args.state or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".data",
        f"sweep_{sfname}_state.jsonl",
    )
    os.makedirs(os.path.dirname(state_path), exist_ok=True)

    done: set[str] = set()
    if not args.fresh and os.path.exists(state_path):
        with open(state_path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("status") == "ok":
                    done.add(rec["key"])

    # tws streaming modules self-activate the protoshim at import; keep the
    # import order contract (shim before SparkSession) by loading the FULL
    # registry (extensions included) before building the session.
    from aetherium_trader_datapipeline_spark.queries import (
        REGISTRY,
        _load_extensions,
    )

    _load_extensions()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate())

    from tests.oracle import compare  # noqa: E402

    import glob
    import multiprocessing as mp
    import shutil

    os.environ["SPARK_GRAFT_DUCKDB_MEMLIMIT"] = args.duckdb_mem
    skip_keys = {k.strip() for k in args.skip.split(",") if k.strip()}
    import threading

    mp_ctx = mp.get_context("fork")
    live_child: list = []  # current oracle subprocess, for timeout kill
    # append/remove happen on the worker thread while the main thread
    # iterates-and-kills on FutTimeout — without a lock a just-spawned
    # oracle process can be missed by the kill loop (ADVICE r9)
    live_lock = threading.Lock()

    def oracle_subprocess(sql: str, budget: float):
        """Run duckdb_run_typed in a fork so a wedged or spilling oracle
        can be SIGKILLed (in-process DuckDB is not interruptible — the r9
        sf1 sweep died to a 43 GB-spilling x46 oracle).  Returns the
        (cols, rows, types) triple or raises."""
        q = mp_ctx.Queue()

        def child(out_q):
            try:
                from tests.oracle import duckdb_run_typed

                out_q.put(("ok", duckdb_run_typed(sql, args.sf_dir)))
            except Exception as ex:  # noqa: BLE001
                out_q.put(("err", repr(ex)[:500]))

        p = mp_ctx.Process(target=child, args=(q,), daemon=True)
        with live_lock:
            # start INSIDE the lock (the kill loop holds it, so it can
            # never observe a started-but-untracked process), and append
            # only after start succeeds — a failed fork (ENOMEM under
            # DuckDB spill pressure) must not leave an unstarted Process
            # in the list for a later kill loop to crash on
            p.start()
            live_child.append(p)
        try:
            import queue as _queue

            try:
                status, payload = q.get(timeout=budget)
            except _queue.Empty:
                raise TimeoutError(f"oracle exceeded {budget}s")
            if status == "err":
                raise RuntimeError(payload)
            return payload
        finally:
            if p.is_alive():
                p.kill()
            p.join(5)
            with live_lock:
                if p in live_child:
                    live_child.remove(p)
            # a killed DuckDB leaves multi-GB spill files behind
            for f in glob.glob(".tmp/duckdb_temp_storage*"):
                shutil.rmtree(f, ignore_errors=True)
                if os.path.exists(f):
                    try:
                        os.remove(f)
                    except OSError:
                        pass

    keys = list(REGISTRY)
    end = args.end if args.end is not None else len(keys)
    todo = [
        (i + 1, k)
        for i, k in enumerate(keys)
        if args.start <= i + 1 <= end and k not in done
    ]
    print(
        f"sweep {args.sf_dir}: {len(todo)} keys "
        f"(registry {args.start}..{end}, {len(done)} already ok in state)",
        flush=True,
    )

    pool = ThreadPoolExecutor(max_workers=1)
    n_bad = 0
    # Futures abandoned on timeout: job-group cancel kills the Spark side,
    # but a worker wedged inside a DuckDB query is not interruptible and
    # keeps burning CPU on this process while the sweep moves on — so any
    # key measured while one is still live gets "tainted": true (its
    # wall_s and a timeout verdict may be contamination, not the key's own
    # cost; re-run tainted non-ok keys before believing them).  ADVICE r8.
    abandoned: list = []
    with open(state_path, "a") as out:
        for idx, key in enumerate_keys(todo):
            spec = REGISTRY[key]
            abandoned = [f for f in abandoned if f.running()]
            t0 = time.time()

            def run() -> list[str]:
                spark.sparkContext.setJobGroup(key, f"sweep {key}", True)
                started = time.time()
                df = spec.run(spark, args.sf_dir)
                remaining = max(10.0, args.timeout - (time.time() - started))
                oracle_res = oracle_subprocess(spec.oracle, remaining)
                return compare(df, spec.oracle, args.sf_dir, key=key,
                               oracle_result=oracle_res)

            rec: dict = {"key": key, "idx": idx}
            if key in skip_keys:
                rec.update(status="skipped", problems=["--skip"], wall_s=0.0)
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"[{idx}] {key}: skipped (--skip)", flush=True)
                continue
            if abandoned:
                rec["tainted"] = True
            fut = pool.submit(run)
            try:
                problems = fut.result(timeout=args.timeout)
                rec["status"] = "ok" if not problems else "fail"
                rec["problems"] = problems[:5]
            except FutTimeout:
                spark.sparkContext.cancelJobGroup(key)
                with live_lock:  # kill any in-flight oracle too
                    for p in live_child:
                        p.kill()
                rec["status"] = "timeout"
                rec["problems"] = [f"exceeded {args.timeout}s"]
                # the worker thread unblocks once the job group dies; give
                # it a moment, then replace the pool if it is still wedged
                abandoned.append(fut)
                pool.shutdown(wait=False)
                pool = ThreadPoolExecutor(max_workers=1)
            except Exception as ex:  # noqa: BLE001
                spark.sparkContext.cancelJobGroup(key)
                rec["status"] = "error"
                rec["problems"] = [repr(ex)[:300]]
            rec["wall_s"] = round(time.time() - t0, 2)
            # drop any DataFrame caches the key created (x294/x304
            # persist DISK_ONLY intermediates) so a 575-key sweep does
            # not retain one cache per such key for the whole session
            # (r12 review)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
            out.write(json.dumps(rec) + "\n")
            out.flush()
            if rec["status"] != "ok":
                n_bad += 1
            print(f"[{idx}] {key}: {rec['status']} ({rec['wall_s']}s)", flush=True)
            for p in rec["problems"][:3] if rec["status"] not in ("ok",) else []:
                print("    ", p, flush=True)
    print(f"sweep done: {len(todo) - n_bad}/{len(todo)} ok, state={state_path}")
    # A timed-out key's worker thread may still be stuck inside DuckDB
    # (job-group cancel kills Spark jobs, but a running DuckDB query is
    # not interruptible from outside).  concurrent.futures joins its
    # non-daemon threads at interpreter exit, which left the r8 tail
    # sweep's process alive for an hour after "sweep done" — hard-exit
    # instead; all results are already flushed to the state file.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(1 if n_bad else 0)


def enumerate_keys(todo):
    for idx, key in todo:
        yield idx, key


if __name__ == "__main__":
    raise SystemExit(main())
