"""Seeded input generator for the benchmark: numpy + pyarrow, no Spark.

Every input a workload feeds to the engine comes from here, and the same
seed gives byte-identical files. Tick rows follow the engine's tick
schema (``operators.validate.TICK_SCHEMA_DDL``): UTC microsecond
timestamps, DECIMAL(10,4) prices and INT32 sizes.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SYMBOLS = 32
ZIPF_S = 1.1
# 13:30 UTC, a US cash open; hour partitions roll over during the backlog.
MARKET_START_US = int(dt.datetime(2024, 3, 4, 13, 30, tzinfo=dt.timezone.utc).timestamp() * 1e6)
MINUTE_US = 60_000_000
HOUR_US = 60 * MINUTE_US
INVALID_SHARE = 0.01
LATE_SHARE = 0.02

TICK_SCHEMA = pa.schema(
    [
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("symbol", pa.string()),
        ("bid_price", pa.decimal128(10, 4)),
        ("bid_size", pa.int32()),
        ("ask_price", pa.decimal128(10, 4)),
        ("ask_size", pa.int32()),
        ("last_price", pa.decimal128(10, 4)),
        ("last_size", pa.int32()),
    ]
)


def symbols(n: int = N_SYMBOLS) -> list[str]:
    return [f"S{i:02d}" for i in range(n)]


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _decimal_array(unscaled: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """DECIMAL(10,4) array from int64 values in units of 1e-4, built from
    raw buffers (little-endian 128-bit two's complement)."""
    n = len(unscaled)
    words = np.empty((n, 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = np.where(unscaled < 0, -1, 0)
    bitmap = None
    nulls = 0
    if valid is not None and not valid.all():
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
        nulls = int((~valid).sum())
    return pa.Array.from_buffers(
        pa.decimal128(10, 4), n, [bitmap, pa.py_buffer(words.tobytes())], null_count=nulls
    )


def _write(table: pa.Table, path: str, mtime_s: float | None = None) -> None:
    pq.write_table(table, path, compression="snappy")
    if mtime_s is not None:
        # the file source drains oldest-first by modification time
        os.utime(path, (mtime_s, mtime_s))


@dataclass
class Backlog:
    """What the landing files hold, for the correctness checks."""

    files: list[str]
    rows: int
    invalid_rows: int

    @property
    def valid_rows(self) -> int:
        return self.rows - self.invalid_rows


def tick_table(rng: np.random.Generator, ts_us: np.ndarray, syms: np.ndarray,
               invalid: np.ndarray | None = None) -> pa.Table:
    """Quote ticks at ``ts_us`` for symbols ``syms``; rows flagged in
    ``invalid`` break exactly one validation rule each (blank symbol,
    zero bid, negative last or null ask)."""
    n = len(ts_us)
    sym_idx = np.array([int(s[1:]) for s in syms]) if n else np.zeros(0, dtype=np.int64)
    base = 50_0000 + sym_idx * 13_7500  # per-symbol level, 1e-4 units
    bid = base + rng.integers(-2_0000, 2_0000, n)
    ask = bid + 2500
    last = bid + rng.integers(0, 2, n) * 2500
    sym = syms.astype(object)
    ask_valid = np.ones(n, dtype=bool)
    if invalid is not None and invalid.any():
        rows = np.flatnonzero(invalid)
        kind = rng.integers(0, 4, len(rows))
        sym[rows[kind == 0]] = " "
        bid[rows[kind == 1]] = 0
        last[rows[kind == 2]] = -last[rows[kind == 2]]
        ask_valid[rows[kind == 3]] = False
    return pa.table(
        [
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            pa.array(sym, pa.string()),
            _decimal_array(bid),
            pa.array(rng.integers(1, 500, n, dtype=np.int32)),
            _decimal_array(ask, ask_valid),
            pa.array(rng.integers(1, 500, n, dtype=np.int32)),
            _decimal_array(last),
            pa.array(rng.integers(1, 100, n, dtype=np.int32)),
        ],
        schema=TICK_SCHEMA,
    )


def landing_backlog(seed: int, out_dir: str, n_files: int, ticks_per_file: int) -> Backlog:
    """Time-ordered landing files of one market minute each, over
    Zipf-weighted symbols; about 1% of ticks are invalid and about 2% are
    late into an earlier hour."""
    rng = np.random.default_rng([seed, 1])
    names = np.array(symbols())
    weights = zipf_weights(len(names))
    os.makedirs(out_dir, exist_ok=True)
    files, invalid_rows = [], 0
    span_us = MINUTE_US
    for i in range(n_files):
        # distinct millisecond slots, tagged in the microsecond digits with
        # the file index: no two ticks anywhere share a timestamp, so
        # first/last-by-time and as-of lookups have one right answer
        t0 = MARKET_START_US + i * span_us + i % 1000
        ts = t0 + np.sort(rng.choice(span_us // 1000, ticks_per_file, replace=False)) * 1000
        late = rng.random(ticks_per_file) < LATE_SHARE
        ts[late] -= HOUR_US + rng.integers(0, HOUR_US // 1000, int(late.sum())) * 1000
        invalid = rng.random(ticks_per_file) < INVALID_SHARE
        syms = rng.choice(names, ticks_per_file, p=weights)
        path = os.path.join(out_dir, f"ticks-{i:05d}.parquet")
        _write(tick_table(rng, ts, syms, invalid), path, mtime_s=1_700_000_000 + i)
        files.append(path)
        invalid_rows += int(invalid.sum())
    return Backlog(files, n_files * ticks_per_file, invalid_rows)


@dataclass
class BackfillPlan:
    """A store of ``symbols`` x ``days`` minute ticks with seeded holes."""

    symbols: list[str]
    start: str
    end: str
    holes: dict[str, list[str]] = field(default_factory=dict)

    @property
    def days(self) -> list[str]:
        d0, d1 = dt.date.fromisoformat(self.start), dt.date.fromisoformat(self.end)
        return [str(d0 + dt.timedelta(days=k)) for k in range((d1 - d0).days + 1)]

    def only(self, symbol: str) -> BackfillPlan:
        """The same range and holes, for ``symbol`` alone."""
        return BackfillPlan([symbol], self.start, self.end, {symbol: self.holes[symbol]})


def backfill_plan(seed: int, n_symbols: int, n_days: int, holes_per_symbol: int,
                  start: str = "2024-01-01") -> BackfillPlan:
    """Holes are seeded per symbol and never include the first or last
    day, so ``detect_gaps`` sees interior islands of varying length."""
    rng = np.random.default_rng([seed, 2])
    d0 = dt.date.fromisoformat(start)
    end = str(d0 + dt.timedelta(days=n_days - 1))
    plan = BackfillPlan(symbols(n_symbols), start, end)
    for s in plan.symbols:
        picks = np.sort(rng.choice(np.arange(1, n_days - 1), holes_per_symbol, replace=False))
        plan.holes[s] = [str(d0 + dt.timedelta(days=int(k))) for k in picks]
    return plan


def backfill_seed_ticks(seed: int, plan: BackfillPlan, out_path: str) -> int:
    """One minute tick per present symbol-day minute (1,440 a day), the
    store ``backfill_range`` later completes. Returns the row count."""
    rng = np.random.default_rng([seed, 3])
    minutes = np.arange(1440, dtype=np.int64) * MINUTE_US
    ts_parts, sym_parts = [], []
    for s in plan.symbols:
        holes = set(plan.holes[s])
        for day in plan.days:
            if day in holes:
                continue
            d_us = int(dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
            ts_parts.append(d_us + minutes)
            sym_parts.append(np.full(1440, s))
    ts = np.concatenate(ts_parts)
    syms = np.concatenate(sym_parts)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    _write(tick_table(rng, ts, syms), out_path)
    return len(ts)


@dataclass(frozen=True)
class Query:
    kind: str  # symbol_minute | market_5min | symbol_day | trades_quotes | store_scan
    symbol: str
    start_us: int  # window start (symbol_minute) or the trade day (trades_quotes)


QUERY_KINDS = ("symbol_minute", "market_5min", "symbol_day", "trades_quotes", "store_scan")
# One block of the mix, shuffled anew for each block: pruned single-symbol
# reads dominate, as for a charting client. Fixed counts per block keep the
# mix the same across seeds; only symbols, hours and order vary. A run
# issues whole blocks, so its latency sample always has this composition.
QUERY_BLOCK = {"symbol_minute": 4, "market_5min": 1, "symbol_day": 3, "trades_quotes": 1,
               "store_scan": 1}
BLOCK_SIZE = sum(QUERY_BLOCK.values())


def query_mix(seed: int, n: int, span_us: int) -> list[Query]:
    """``n`` queries over a store that covers [MARKET_START_US - 2 h,
    MARKET_START_US + span_us); symbols are drawn Zipf-weighted."""
    rng = np.random.default_rng([seed, 4])
    names = symbols()
    weights = zipf_weights(len(names))
    block = [k for k, c in QUERY_BLOCK.items() for _ in range(c)]
    kinds = np.concatenate([rng.permutation(block) for _ in range(-(-n // len(block)))])[:n]
    syms = rng.choice(len(names), n, p=weights)
    hours = max(1, span_us // HOUR_US)
    offs = rng.integers(0, hours, n)
    first_hour = MARKET_START_US - MARKET_START_US % HOUR_US
    return [Query(str(k), names[s], first_hour + int(o) * HOUR_US)
            for k, s, o in zip(kinds, syms, offs)]


def trades_file(seed: int, path: str, per_symbol: int, lo_us: int, hi_us: int) -> None:
    """``per_symbol`` trades of every symbol in [lo_us, hi_us), to as-of
    join against the stored quotes."""
    rng = np.random.default_rng([seed, 5])
    names = symbols()
    n = per_symbol * len(names)
    ts = np.sort(rng.integers(lo_us, hi_us, (len(names), per_symbol)), axis=1).ravel()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(pa.table(
        {
            "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "symbol": pa.array(np.repeat(names, per_symbol).astype(object), pa.string()),
            "trade_id": pa.array(np.arange(n, dtype=np.int64)),
            "qty": pa.array(rng.integers(1, 50, n, dtype=np.int32)),
        }
    ), path)


# Fixture schemas of the registry's ten tables (``tables.TABLE_NAMES``).
FIXTURE_SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                 ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                 ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
             ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
               ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                 ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                 ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                 ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def calibration_fixture(seed: int, out_dir: str, lineitem_rows: int) -> None:
    """Registry fixture for the ``q01_scan_agg`` calibrator: a seeded
    ``lineitem`` and the other nine tables empty with their real schemas."""
    rng = np.random.default_rng([seed, 6])
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in FIXTURE_SCHEMAS.items():
        schema = pa.schema(cols)
        if name != "lineitem":
            table = schema.empty_table()
        else:
            n = lineitem_rows
            orderkey = np.sort(rng.integers(1, n, n))
            table = pa.table(
                [
                    pa.array(orderkey),
                    pa.array(rng.integers(1, 20_000, n)),
                    pa.array(rng.integers(1, 1_000, n)),
                    pa.array(rng.integers(1, 8, n, dtype=np.int32)),
                    pa.array(rng.integers(1, 51, n).astype(np.float64)),
                    pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
                    pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
                    pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
                    pa.array(rng.choice(np.array(["A", "N", "R"], dtype=object), n), pa.string()),
                    pa.array(rng.choice(np.array(["F", "O"], dtype=object), n), pa.string()),
                    pa.array(rng.integers(694_224_000, 912_470_400, n) * 1_000_000,
                             pa.timestamp("us")),
                ],
                schema=schema,
            )
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
