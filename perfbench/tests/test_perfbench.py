"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The generator and oracle tests need no Spark; the end-to-end tests start
the benchmark (and so a JVM) once per workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(seed: int, out: str) -> None:
    gen.landing_backlog(seed, os.path.join(out, "landing"), 4, 64)
    plan = gen.backfill_plan(seed, 2, 10, 5)
    gen.backfill_seed_ticks(seed, plan, os.path.join(out, "seed", "ticks.parquet"))
    gen.trades_file(seed, os.path.join(out, "trades.parquet"), 20, gen.MARKET_START_US,
                    gen.MARKET_START_US + gen.HOUR_US)
    gen.calibration_fixture(seed, os.path.join(out, "calibration"), 1000)
    with open(os.path.join(out, "mix.json"), "w") as f:
        json.dump([q.__dict__ for q in gen.query_mix(seed, 50, gen.HOUR_US)]
                  + [plan.__dict__], f)


def test_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _generate(seed, str(tmp_path / name))
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_generated_backlog_shape(tmp_path):
    backlog = gen.landing_backlog(3, str(tmp_path), 40, 200)
    table = pq.read_table(backlog.files)
    ts = table.column("timestamp").cast("int64").to_numpy()
    assert len(set(ts)) == len(ts), "timestamps must be unique"
    assert 0.005 < backlog.invalid_rows / backlog.rows < 0.02
    assert len(set(table.column("symbol").to_pylist()) - {" "}) == gen.N_SYMBOLS


def _write_store(landing: list[str], store: str) -> None:
    """What a correct ingest writes: the valid ticks, hive-partitioned."""
    con = oracle.connect()
    oracle.landing_view(con, landing)
    con.execute("CREATE TABLE out AS SELECT * EXCLUDE (ts), CAST(ts AS DATE) AS date, "
                "hour(ts) AS hour FROM ticks")
    con.execute(f"COPY out TO '{store}' (FORMAT PARQUET, PARTITION_BY (symbol, date, hour))")


def test_ingest_check_flags_a_corrupted_store(tmp_path):
    backlog = gen.landing_backlog(5, str(tmp_path / "landing"), 6, 64)
    store = str(tmp_path / "store")
    _write_store(backlog.files, store)
    assert oracle.check_ingest(store, backlog.files) == []
    victim = oracle.store_files(store)[0]
    t = pq.read_table(victim)
    pq.write_table(t.slice(1), victim)  # lose one stored tick
    assert oracle.check_ingest(store, backlog.files)


def test_query_check_flags_a_corrupted_answer(tmp_path):
    backlog = gen.landing_backlog(5, str(tmp_path / "landing"), 6, 64)
    con = oracle.connect()
    oracle.landing_view(con, backlog.files)
    q = gen.Query("symbol_day", "S00", gen.MARKET_START_US)
    want = oracle.expected(con, q)
    assert want
    bar = list(want[0])
    bar[3] += 0.0001  # the day's high, off by one tick
    assert oracle.normalize([bar]) != want


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "ingest_query", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)])
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_result_counts_as_failed(monkeypatch, tmp_path):
    """A query answer altered after the engine produced it must show up
    in ``failed``, so ``error_rate`` rises above 0."""
    from perfbench import run, workloads
    from perfbench.trace import Tracer

    real = workloads._query

    def corrupted(spark, store, trades, q):
        df = real(spark, store, trades, q)
        return df.limit(0) if q.kind == "symbol_day" else df

    monkeypatch.setattr(workloads, "_query", corrupted)
    monkeypatch.setattr(workloads, "KBAR_QUERIES", 20)
    os.makedirs(tmp_path / "tmp")
    spark, _ = run.start_session(str(tmp_path), 2)
    try:
        r = workloads.ingest_query(workloads.Ctx(spark, 1, 6.0, str(tmp_path), Tracer(False)))
    finally:
        run.stop_session(spark)
    kinds = [e for e in r.errors if "symbol_day" in e]
    assert r.failed == len(kinds) > 0
    assert r.failed / r.attempted > 0
