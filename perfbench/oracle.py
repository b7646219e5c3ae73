"""Correctness checks, run outside the timed phase: DuckDB recomputes each
answer from the generated inputs and compares it with what the engine
stored or returned. Every check returns a list of mismatch descriptions;
an empty list means the output is correct."""

from __future__ import annotations

import calendar
import datetime as dt
import decimal
import glob
import os

import duckdb

from perfbench import gen

VALID = ("symbol IS NOT NULL AND trim(symbol) <> '' AND bid_price > 0 AND ask_price > 0 "
         "AND last_price > 0")
COLS = "epoch_us(timestamp) AS ts_us, symbol, bid_price, bid_size, ask_price, ask_size, " \
       "last_price, last_size"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def _list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def store_files(store_dir: str) -> list[str]:
    """Data files of a ``partitionBy(symbol, date, hour)`` store."""
    return sorted(glob.glob(os.path.join(store_dir, "symbol=*", "date=*", "hour=*", "*.parquet")))


def store_bytes(store_dir: str) -> int:
    return sum(os.path.getsize(p) for p in store_files(store_dir))


def _store_view(con, name: str, store_dir: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
                f"{_list(store_files(store_dir))}, hive_partitioning = true)")


def landing_view(con, files: list[str]) -> None:
    """``ticks``: the valid generated ticks, with ``ts`` as a UTC TIMESTAMP."""
    con.execute(f"CREATE OR REPLACE TABLE ticks AS SELECT *, make_timestamp(epoch_us(timestamp)) "
                f"AS ts FROM read_parquet({_list(files)}) WHERE {VALID}")


def check_ingest(store_dir: str, landing_files: list[str]) -> list[str]:
    """The store holds exactly the valid generated ticks, each in the
    partition its own timestamp names."""
    con = connect()
    landing_view(con, landing_files)
    _store_view(con, "store", store_dir)
    bad = []
    missing = con.execute(f"SELECT count(*) FROM (SELECT {COLS} FROM ticks EXCEPT ALL "
                          f"SELECT {COLS} FROM store)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {COLS} FROM store EXCEPT ALL "
                        f"SELECT {COLS} FROM ticks)").fetchone()[0]
    misplaced = con.execute(
        "SELECT count(*) FROM store WHERE CAST(date AS DATE) <> CAST(timestamp AS DATE) "
        "OR CAST(hour AS BIGINT) <> hour(timestamp)").fetchone()[0]
    if missing:
        bad.append(f"{missing} valid ticks missing from the store")
    if extra:
        bad.append(f"{extra} stored rows not among the valid ticks")
    if misplaced:
        bad.append(f"{misplaced} rows in a partition their timestamp does not name")
    return bad


def count_rows(store_dir: str) -> int:
    con = connect()
    _store_view(con, "store", store_dir)
    return con.execute("SELECT count(*) FROM store").fetchone()[0]


def check_backfill(store_dir: str, plan: gen.BackfillPlan, symbols: list[str],
                   statuses: dict[str, str]) -> list[str]:
    """Every day of every processed symbol holds 1,440 rows (so no gap is
    left), each backfilled day holds the historical source's prices, and
    each job ended COMPLETED."""
    con = connect()
    _store_view(con, "store", store_dir)
    bad = []
    for s in symbols:
        per_day = dict(con.execute(
            "SELECT CAST(date AS VARCHAR), count(*) FROM store WHERE symbol = ? GROUP BY 1",
            [s]).fetchall())
        short = [d for d in plan.days if per_day.get(d, 0) != 1440]
        if short:
            bad.append(f"{s}: {len(short)} days without 1,440 rows, first {short[0]}")
        holes = plan.holes[s]
        if holes:
            # sources.ticks: bid = BASE_PRICE + epoch_s % 100, ask = bid + SPREAD
            wrong = con.execute(
                "SELECT count(*) FROM store WHERE symbol = ? AND CAST(date AS VARCHAR) IN "
                f"({', '.join('?' * len(holes))}) AND (bid_price <> 16000 + epoch(timestamp) % 100"
                " OR ask_price <> bid_price + 0.25)", [s, *holes]).fetchone()[0]
            if wrong:
                bad.append(f"{s}: {wrong} backfilled rows differ from the historical source")
        if statuses.get(s) != "COMPLETED":
            bad.append(f"{s}: job status {statuses.get(s)}")
    return bad


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (int, float, decimal.Decimal)):
        return round(float(v), 4)
    raise TypeError(f"cannot compare {type(v).__name__}")


def normalize(rows) -> list[tuple]:
    """Order-free, type-normalized rows: timestamps as UTC epoch µs,
    every number as a float rounded to 4 places."""
    return sorted((tuple(_norm(v) for v in r) for r in rows),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


BAR = ("arg_min(last_price, ts) AS open, max(last_price) AS high, min(last_price) AS low, "
       "arg_max(last_price, ts) AS close, CAST(sum(last_size) AS DOUBLE) AS vol")


def _day(q: gen.Query) -> str:
    return dt.datetime.fromtimestamp(q.start_us / 1e6, dt.timezone.utc).date().isoformat()


def _ts(us: int) -> str:
    return f"make_timestamp({int(us)}::BIGINT)"


def expected(con, q: gen.Query) -> list[tuple]:
    """The normalized answer to one query, over ``ticks`` (see
    ``landing_view``) and ``trades``."""
    if q.kind == "symbol_minute":
        sql = (f"SELECT date_trunc('minute', ts), symbol, {BAR} FROM ticks "
               f"WHERE symbol = '{q.symbol}' AND ts >= {_ts(q.start_us)} "
               f"AND ts < {_ts(q.start_us + gen.HOUR_US)} GROUP BY ALL")
    elif q.kind == "market_5min":
        sql = f"SELECT time_bucket(INTERVAL 5 MINUTE, ts), symbol, {BAR} FROM ticks GROUP BY ALL"
    elif q.kind == "symbol_day":
        sql = (f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), symbol, {BAR} FROM ticks "
               f"WHERE symbol = '{q.symbol}' GROUP BY ALL")
    elif q.kind == "trades_quotes":
        sql = ("SELECT t.symbol, t.timestamp, t.trade_id, t.qty, k.bid_price, k.ask_price "
               "FROM (SELECT symbol, make_timestamp(epoch_us(timestamp)) AS timestamp, trade_id, "
               f"qty FROM trades WHERE symbol = '{q.symbol}') t ASOF LEFT JOIN "
               "(SELECT symbol, ts, bid_price, ask_price FROM ticks "
               f"WHERE symbol = '{q.symbol}' AND CAST(ts AS DATE) = DATE '{_day(q)}') k "
               "ON t.symbol = k.symbol AND t.timestamp >= k.ts")
    elif q.kind == "store_scan":
        present = {r[0] for r in con.execute("SELECT DISTINCT CAST(ts AS DATE) FROM ticks").fetchall()}
        return normalize(islands(present, *store_scan_range(q)))
    else:
        raise ValueError(q.kind)
    return normalize(con.execute(sql).fetchall())


def store_scan_range(q: gen.Query) -> tuple[str, str]:
    d = dt.date.fromisoformat(_day(q))
    return str(d - dt.timedelta(days=3)), str(d + dt.timedelta(days=3))


def islands(present: set[dt.date], lo: str, hi: str) -> list[tuple]:
    """Maximal runs of days in [lo, hi] absent from ``present``."""
    d, end = dt.date.fromisoformat(lo), dt.date.fromisoformat(hi)
    out, run = [], None
    while d <= end:
        if d in present:
            if run:
                out.append((run[0], run[1], (run[1] - run[0]).days + 1))
            run = None
        else:
            run = (run[0] if run else d, d)
        d += dt.timedelta(days=1)
    if run:
        out.append((run[0], run[1], (run[1] - run[0]).days + 1))
    return out
