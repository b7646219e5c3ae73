"""The benchmark's workloads. Each drives the engine's public entry points
as one closed-loop client: set up (several times, the median is
``setup_s``), warm up, run units of work until ``seconds`` have passed,
then check every output against DuckDB outside the timed phase.

A unit is the smallest piece of work whose outputs can be checked on
their own: one drain of the landing backlog into a fresh store followed
by one block of the query mix against that store (``ingest_query``), one
symbol's gap detection and backfill (``backfill_gaps``). Latencies are
still taken per micro-batch, query and backfilled day.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen, oracle
from perfbench.trace import (
    SparkCounters,
    Timed,
    Tracer,
    batch_spans,
    cpu_ticks,
    jvm_peak_rss_mb,
    percentile,
    process_tree_cpu_s,
)

SETUP_REPS = 3
# ingest_query: one drain = 8 one-minute files of 3,000 ticks (50 a second),
# one file per trigger, so each symbol-hour partition of the store holds one
# file per trigger (about 480 files; the late ticks add a second hour). The
# first 2 files warm the sink up. Then one block of the query mix. A unit
# took 8-13 s on 4 cores, so a 15 s run always gets two: with 6 files a
# fast host fit a third, cheaper unit in, which moved cpu_ms_per_op by
# about 10%. Per-block CPU kept falling over a run's first four blocks
# while the JIT caught up, so three blocks warm up, on the warm-up store.
INGEST_FILES, INGEST_TICKS_PER_FILE, INGEST_WARMUP_FILES = 8, 3000, 2
KBAR_QUERIES, KBAR_TRADES_PER_SYMBOL, KBAR_WARMUP_BLOCKS = 40 * gen.BLOCK_SIZE, 200, 3
# backfill_gaps: each set-up repetition seeds its own store with one symbol's
# 9-day range holding 6 holes, and the timed phase backfills one symbol a
# unit, 4-8 s each on 4 cores; a 3-day range a month earlier warms up
BACKFILL_DAYS, BACKFILL_HOLES = 9, 6
BACKFILL_WARMUP_DAYS, BACKFILL_WARMUP_HOLES, BACKFILL_WARMUP_START = 3, 1, "2023-12-01"
BACKFILL_TODAY = dt.date(2024, 6, 1)  # keeps every day inside the source's history depth
CALIBRATION_LINEITEM_ROWS = 20_000


@dataclass
class Result:
    """What one workload run measured."""

    setup_s: list[float] = field(default_factory=list)  # workload preparation, per repetition
    op_ms: list[float] = field(default_factory=list)  # one latency per operation
    ticks: int = 0  # ticks moved by the timed phase
    busy_s: float = 0.0  # wall of the calls that moved them
    store_bytes: int = 0
    store_ticks: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    summary: list[tuple[str, float, str]] = field(default_factory=list)  # the workload's own names
    peak_rss_mb: float = 0.0
    timed_s: float = 0.0  # wall of the timed phase
    cpu_s: float = 0.0  # CPU time of the engine's processes in it
    steal_share: float = 0.0  # share of the machine's CPU time the host took in it


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    root: str
    tracer: Tracer


def run_for(seconds: float, units):
    """Run units until ``seconds`` have passed; the last one may end past
    it, and at least one runs. Yields each unit's index and its result."""
    t0 = time.perf_counter()
    for i, unit in enumerate(units):
        if i and time.perf_counter() - t0 >= seconds:
            return
        yield i, unit()


@contextlib.contextmanager
def timed_phase(ctx: Ctx, r: Result):
    """Bracket the timed phase: the tracer forgets the warm-up, and the
    engine's CPU time, the JVM's peak RSS and, when tracing, Spark's
    counters cover the phase."""
    ctx.tracer.reset()
    counters = SparkCounters(ctx.spark)
    if ctx.tracer.enabled:  # reading them back takes py4j calls per job and stage
        counters.start()
    cpu, (steal, total) = process_tree_cpu_s(os.getpid()), cpu_ticks()
    t = time.perf_counter()
    yield
    r.timed_s = time.perf_counter() - t
    r.cpu_s = process_tree_cpu_s(os.getpid()) - cpu
    steal_end, total_end = cpu_ticks()
    r.steal_share = (steal_end - steal) / max(1, total_end - total)
    r.peak_rss_mb = jvm_peak_rss_mb(ctx.spark)
    if ctx.tracer.enabled:
        r.layers.update(counters.stop())


def _fresh(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.root, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _store_layers(store_dirs: list[str]) -> dict[str, float]:
    files = [f for d in store_dirs for f in oracle.store_files(d)]
    return {
        "streaming.ingest.files_written": len(files),
        "streaming.ingest.bytes_written": sum(os.path.getsize(f) for f in files),
        "streaming.ingest.partitions_touched": len({os.path.dirname(f) for f in files}),
    }


# -- backfill_gaps -------------------------------------------------------


def backfill_gaps(ctx: Ctx) -> Result:
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps
    from aetherium_trader_datapipeline_spark.operators.validate import TICK_SCHEMA_DDL
    from aetherium_trader_datapipeline_spark.plans.backfill_service import (
        backfill_range,
        existing_dates,
    )
    from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable, job_key
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_batch

    spark, tr = ctx.spark, ctx.tracer
    r = Result()
    plan = gen.backfill_plan(ctx.seed, SETUP_REPS, BACKFILL_DAYS, BACKFILL_HOLES)
    warm = gen.backfill_plan(ctx.seed, 1, BACKFILL_WARMUP_DAYS, BACKFILL_WARMUP_HOLES,
                             start=BACKFILL_WARMUP_START)
    seed_ms = []
    stores = {}
    for k, symbol in enumerate(plan.symbols):
        t = time.perf_counter()
        seed_dir = _fresh(ctx, f"seed{k}")
        gen.backfill_seed_ticks(ctx.seed, plan.only(symbol), os.path.join(seed_dir, "ticks.parquet"))
        gen.backfill_seed_ticks(ctx.seed, warm, os.path.join(seed_dir, "warm.parquet"))
        store = stores[symbol] = _fresh(ctx, f"store{k}")
        t_seed = time.perf_counter()
        ingest_batch(spark.read.schema(TICK_SCHEMA_DDL).parquet(seed_dir), store)
        seed_ms.append((time.perf_counter() - t_seed) * 1000)
        r.setup_s.append(time.perf_counter() - t)
    control = ControlTable(_fresh(ctx, "control"))
    timed_control = Timed(control, tr, "plans.control_table")
    fetch_starts: list[float] = []

    def fetch(spark_, symbol, day):
        fetch_starts.append(time.perf_counter())
        return tr.call("sources.ticks.fetch", historical_ticks, spark_, symbol, day,
                       today=BACKFILL_TODAY)

    def unit(symbol: str, p: gen.BackfillPlan, store: str):
        """Detect the symbol's gaps in ``store``, then backfill its range in
        ``p``. Returns the gaps found, the per-day intervals and the report."""
        tr.new_op()
        with tr.span("backfill_gaps.symbol"):
            t = time.perf_counter()
            present = tr.call("plans.backfill_service.existing_dates", existing_dates, spark,
                              store, symbol)
            gaps = tr.call("operators.gaps.detect_gaps",
                           lambda: detect_gaps(present, p.start, p.end).collect())
            gap_ms = (time.perf_counter() - t) * 1000
            fetch_starts.clear()
            t = time.perf_counter()
            report = tr.call("plans.backfill_service.backfill_range", backfill_range, spark,
                             timed_control, fetch, store, symbol, p.start, p.end)
            t_end = time.perf_counter()
        marks = fetch_starts + [t_end]
        day_ms = [(b - a) * 1000 for a, b in zip(marks, marks[1:])]
        return gaps, gap_ms, day_ms, report, t_end - t

    unit(warm.symbols[0], warm, store)

    done = []
    units = (lambda s=s: unit(s, plan, stores[s]) for s in plan.symbols)
    with timed_phase(ctx, r):
        for i, out in run_for(ctx.seconds, units):
            done.append((plan.symbols[i], out))

    gap_ms_all = []
    for symbol, (gaps, gap_ms, day_ms, report, wall) in done:
        r.op_ms += day_ms
        r.ticks += report.total_ticks
        r.busy_s += wall
        r.attempted += report.days_processed
        gap_ms_all.append(gap_ms)
        want = oracle.normalize(oracle.islands(
            {dt.date.fromisoformat(d) for d in plan.days} - {dt.date.fromisoformat(d)
                                                             for d in plan.holes[symbol]},
            plan.start, plan.end))
        if oracle.normalize(gaps) != want:
            r.errors.append(f"{symbol}: detect_gaps found {len(gaps)} gaps, expected {len(want)}")
            r.failed += 1
        if report.failed_days:
            r.errors.append(f"{symbol}: failed days {report.failed_days}")
            r.failed += len(report.failed_days)
    for symbol, _ in done:
        status = control.get(job_key(symbol, plan.start)).status
        bad = oracle.check_backfill(stores[symbol], plan, [symbol], {symbol: status})
        if bad:
            r.errors += bad
            r.failed += len(bad)
        r.store_bytes += oracle.store_bytes(stores[symbol])
        r.store_ticks += oracle.count_rows(stores[symbol])

    r.layers["streaming.ingest.ingest_batch_ms"] = statistics.median(seed_ms)
    if tr.enabled:
        self_ms = tr.self_ms()
        r.layers.update({
            "plans.backfill_service.backfill_range_ms": tr.ms["plans.backfill_service.backfill_range"],
            "plans.backfill_service.days_processed": r.attempted,
            "plans.backfill_service.self_ms": self_ms.get("plans.backfill_service.backfill_range", 0.0),
            "plans.backfill_service.existing_dates_ms": tr.ms["plans.backfill_service.existing_dates"],
            "plans.control_table.calls": tr.calls["plans.control_table"],
            "plans.control_table.ms": tr.ms["plans.control_table"],
            "sources.ticks.fetch_calls": tr.calls["sources.ticks.fetch"],
            "sources.ticks.fetch_ms": tr.ms["sources.ticks.fetch"],
            "operators.gaps.detect_gaps_ms": tr.ms["operators.gaps.detect_gaps"],
        })
    r.summary = [
        ("backfill_ticks_per_s", r.ticks / r.busy_s, "1/s"),
        ("gap_detect_ms_p50", statistics.median(gap_ms_all), "ms"),
        ("backfill_day_ms_p50", percentile(r.op_ms, 50), "ms"),
        ("backfill_day_ms_p90", percentile(r.op_ms, 90), "ms"),
        ("store_bytes_per_tick", r.store_bytes / r.store_ticks, "B"),
    ]
    return r


# -- ingest_query --------------------------------------------------------


def _drain(ctx: Ctx, landing: str, store: str, ckpt: str):
    """Drain every landing file through ``ingest_stream``, one file per
    trigger. Returns (wall seconds, progress records)."""
    from aetherium_trader_datapipeline_spark.operators.validate import TICK_SCHEMA_DDL
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_stream

    spark = ctx.spark
    t = time.perf_counter()
    src = spark.readStream.schema(TICK_SCHEMA_DDL).option("maxFilesPerTrigger", 1).parquet(landing)
    q = ctx.tracer.call("streaming.ingest.ingest_stream", ingest_stream, src, store, ckpt,
                        available_now=True)
    try:
        ctx.tracer.call("streaming.ingest.awaitTermination", q.awaitTermination)
    finally:
        q.stop()
    wall = time.perf_counter() - t
    return wall, [json.loads(p.json) for p in q.recentProgress]


def _query(spark, store: str, trades: str, q: gen.Query):
    """Plan one client query against the store (lazy; nothing runs)."""
    from pyspark.sql import functions as F

    from aetherium_trader_datapipeline_spark.operators.asof import asof_join
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps
    from aetherium_trader_datapipeline_spark.operators.ohlcv import ohlcv, ohlcv_window

    ticks = spark.read.parquet(store)
    start = dt.datetime.fromtimestamp(q.start_us / 1e6, dt.timezone.utc)
    sym = F.col("symbol") == q.symbol
    if q.kind == "symbol_minute":
        hour = ticks.where(sym & (F.col("date") == F.lit(start.date()))
                           & (F.col("hour") == start.hour))
        return ohlcv(hour, "timestamp", ["symbol"], "last_price", "last_size", bucket="minute")
    if q.kind == "market_5min":
        return ohlcv_window(ticks, "timestamp", ["symbol"], "last_price", "last_size",
                            duration="5 minutes")
    if q.kind == "symbol_day":
        return ohlcv(ticks.where(sym), "timestamp", ["symbol"], "last_price", "last_size",
                     bucket="day")
    if q.kind == "trades_quotes":
        quotes = ticks.where(sym & (F.col("date") == F.lit(start.date()))).select(
            "timestamp", "symbol", "bid_price", "ask_price")
        left = spark.read.parquet(trades).where(sym)
        return asof_join(left, quotes, "timestamp", ["symbol"], ["bid_price", "ask_price"])
    if q.kind == "store_scan":
        lo, hi = oracle.store_scan_range(q)
        return detect_gaps(ticks.select(F.col("date").alias("d")), lo, hi)
    raise ValueError(q.kind)


def ingest_query(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    r = Result()
    span_us = INGEST_FILES * gen.MINUTE_US
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        backlog = gen.landing_backlog(ctx.seed, _fresh(ctx, f"landing{k}"), INGEST_FILES,
                                      INGEST_TICKS_PER_FILE)
        trades = os.path.join(_fresh(ctx, f"trades{k}"), "trades.parquet")
        gen.trades_file(ctx.seed, trades, KBAR_TRADES_PER_SYMBOL,
                        gen.MARKET_START_US - 2 * gen.HOUR_US, gen.MARKET_START_US + span_us)
        mix = gen.query_mix(ctx.seed, KBAR_QUERIES, span_us)
        r.setup_s.append(time.perf_counter() - t)
    landing = os.path.join(ctx.root, f"landing{SETUP_REPS - 1}")
    blocks = [mix[i:i + gen.BLOCK_SIZE] for i in range(0, len(mix), gen.BLOCK_SIZE)]

    def query(q: gen.Query, store: str):
        tr.new_op()
        with tr.span(f"kbar.{q.kind}"):
            t = time.perf_counter()
            df = tr.call("kbar.build", _query, spark, store, trades, q)
            t_build = time.perf_counter()
            rows = tr.call("kbar.collect", df.collect)
            t_end = time.perf_counter()
        return q, rows, (t_build - t) * 1000, (t_end - t) * 1000

    def unit(name: str, landing: str, queries: list[gen.Query]):
        """Drain ``landing`` into a fresh store and checkpoint, then run
        ``queries`` against that store."""
        tr.new_op()
        with tr.span("ingest_query.drain") as sid:
            store, ckpt = _fresh(ctx, f"store-{name}"), _fresh(ctx, f"ckpt-{name}")
            wall, progress = _drain(ctx, landing, store, ckpt)
        batch_spans(tr, progress, sid)
        return store, wall, progress, [query(q, store) for q in queries]

    # warm-up: the backlog's first files, then the mix's last blocks, which
    # the timed phase never reaches
    warm = _fresh(ctx, "landing-warm")
    os.makedirs(warm)
    for f in backlog.files[:INGEST_WARMUP_FILES]:
        shutil.copy2(f, warm)
    unit("warm", warm, [q for b in blocks[-KBAR_WARMUP_BLOCKS:] for q in b])

    units = (lambda i=i: unit(str(i), landing, blocks[i]) for i in range(len(blocks)))
    with timed_phase(ctx, r):
        done = [out for _, out in run_for(ctx.seconds, units)]

    con = oracle.connect()
    oracle.landing_view(con, backlog.files)
    con.execute(f"CREATE VIEW trades AS SELECT * FROM read_parquet('{trades}')")
    want: dict[gen.Query, list[tuple]] = {}
    by_kind: dict[str, list[float]] = {k: [] for k in gen.QUERY_KINDS}
    batch_ms, query_ms, build_ms, drain_s = [], [], [], 0.0
    for store, wall, progress, answers in done:
        batches = [p for p in progress if p["numInputRows"] > 0]
        rows = sum(p["numInputRows"] for p in progress)
        invalid = sum(p["observedMetrics"]["ingest"]["invalid_rows"] for p in batches)
        batch_ms += [p["durationMs"]["triggerExecution"] for p in batches]
        r.ticks += rows
        drain_s += wall
        r.attempted += len(batches)
        tr.count("streaming.ingest.batches", len(batches))
        tr.count("streaming.ingest.rows", rows)
        tr.count("streaming.ingest.invalid_rows", invalid)
        bad = oracle.check_ingest(store, backlog.files)
        if rows != backlog.rows:
            bad.append(f"drained {rows} rows of {backlog.rows}")
        if invalid != backlog.invalid_rows:
            bad.append(f"observed {invalid} invalid rows, generated {backlog.invalid_rows}")
        if bad:
            r.failed += len(batches)
            r.errors += bad
        for q, got, b_ms, ms in answers:
            build_ms.append(b_ms)
            if q not in want:
                want[q] = oracle.expected(con, q)
            query_ms.append(ms)
            by_kind[q.kind].append(ms)
            r.attempted += 1
            if oracle.normalize(got) != want[q]:
                r.failed += 1
                r.errors.append(f"{q}: {len(got)} rows differ from DuckDB's {len(want[q])}")
    r.op_ms = batch_ms + query_ms
    r.busy_s = drain_s + sum(query_ms) / 1000
    r.store_bytes = oracle.store_bytes(done[-1][0])
    r.store_ticks = backlog.valid_rows

    if tr.enabled:
        r.layers.update(_store_layers([d[0] for d in done]))
        prefix = {"symbol_minute": "operators.ohlcv", "market_5min": "operators.ohlcv",
                  "symbol_day": "operators.ohlcv", "trades_quotes": "operators.asof",
                  "store_scan": "operators.gaps"}
        for kind, ms in by_kind.items():
            r.layers[f"{prefix[kind]}.{kind}_ms_p50"] = statistics.median(ms) if ms else 0.0
        r.layers["kbar.build_ms"] = tr.ms["kbar.build"]
        r.layers["kbar.collect_ms"] = tr.ms["kbar.collect"]
    r.summary = [
        ("ingest_ticks_per_s", r.ticks / drain_s, "1/s"),
        ("ingest_batch_ms_p50", percentile(batch_ms, 50), "ms"),
        ("ingest_batch_ms_p90", percentile(batch_ms, 90), "ms"),
        ("query_ms_p50", percentile(query_ms, 50), "ms"),
        ("query_ms_p90", percentile(query_ms, 90), "ms"),
        ("query_build_ms_p50", statistics.median(build_ms), "ms"),
        *((f"query_{k}_ms_p50", statistics.median(ms), "ms") for k, ms in by_kind.items() if ms),
        ("store_bytes_per_tick", r.store_bytes / r.store_ticks, "B"),
    ]
    return r


WORKLOADS = {"ingest_query": ingest_query, "backfill_gaps": backfill_gaps}


def calibrate(ctx: Ctx) -> dict[str, float]:
    """Warm ``q01_scan_agg`` from the registry on a seeded ``lineitem``:
    a host-speed reading to set wall-clock figures against."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY
    from aetherium_trader_datapipeline_spark.tables import load_tables

    fixture = _fresh(ctx, "calibration")
    gen.calibration_fixture(ctx.seed, fixture, CALIBRATION_LINEITEM_ROWS)
    t = time.perf_counter()
    load_tables(ctx.spark, fixture)
    load_s = time.perf_counter() - t
    q01 = REGISTRY["q01_scan_agg"]
    q01.run(ctx.spark, fixture).collect()
    runs = []
    for _ in range(3):
        t = time.perf_counter()
        q01.run(ctx.spark, fixture).collect()
        runs.append((time.perf_counter() - t) * 1000)
    return {"tables.load_tables_s": load_s, "queries.q01_scan_agg_ms": statistics.median(runs)}
