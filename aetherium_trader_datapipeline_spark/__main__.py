"""CLI — the reference's four executables as subcommands.

Reference binaries (`ingestion/bin`): `ingestion` (live stream,
main.rs:12-41), `backfill` (CLI-parsed symbol + date range,
bin/backfill.rs:26-57), `ingestion-test` (bounded smoke run,
bin/ingestion_test.rs:15-42), `verify-parquet` (footer metadata,
bin/verify_parquet.rs:6-32). Usage:

    python -m aetherium_trader_datapipeline_spark ingest --symbol NQ \
        --out ./data --checkpoint ./ckpt [--duration 15]
    python -m aetherium_trader_datapipeline_spark backfill --symbol NQ \
        --start 2024-01-01 --end 2024-01-05 --data-dir ./data --control-dir ./ctl
    python -m aetherium_trader_datapipeline_spark gaps --symbol NQ \
        --start 2024-01-01 --end 2024-03-31 --data-dir ./data
    python -m aetherium_trader_datapipeline_spark verify-parquet ./data
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(cpus: str = "*"):
    from aetherium_trader_datapipeline_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_ingest(args: argparse.Namespace) -> int:
    """Live ingestion (S1+B1+K1): rate-source ticks → validation →
    hourly-partitioned parquet. --duration N bounds the run (the
    ingestion-test binary's 15 s raced sleep)."""
    from aetherium_trader_datapipeline_spark.sources.ticks import streaming_ticks
    from aetherium_trader_datapipeline_spark.streaming.ingest import ingest_stream, read_lake

    spark = _spark(args.cpus)
    ticks = streaming_ticks(spark, args.symbol, rows_per_second=args.rate)
    q = ingest_stream(
        ticks,
        args.out,
        args.checkpoint,
        trigger_seconds=args.trigger,
        quarantine_dir=args.quarantine,
    )
    def stop_all():
        q.stop()
        if q.quarantine_query is not None:
            q.quarantine_query.stop()

    if args.duration:
        time.sleep(args.duration)
        stop_all()
        n = read_lake(spark, args.out).count()
        print(json.dumps({"ingested_rows": n, "seconds": args.duration}))
    else:  # run until interrupted (reference: raced against ctrl_c)
        try:
            q.awaitTermination()
        except KeyboardInterrupt:
            stop_all()
    return 0


def cmd_backfill(args: argparse.Namespace) -> int:
    """Backfill (P1+P2+J1/J2+H1): plan missing days from the cursor and
    existing data, fetch + persist each, advance the HWM."""
    from aetherium_trader_datapipeline_spark.plans.backfill_service import backfill_range
    from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable
    from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks

    spark = _spark(args.cpus)
    control = ControlTable(args.control_dir)

    def fetch(spark, symbol, day):
        return historical_ticks(spark, symbol, day)

    report = backfill_range(
        spark, control, fetch, args.data_dir, args.symbol, args.start, args.end
    )
    print(
        json.dumps(
            {
                "days_processed": report.days_processed,
                "total_ticks": report.total_ticks,
                "failed_days": report.failed_days,
            }
        )
    )
    return 0 if not report.failed_days else 1


def cmd_gaps(args: argparse.Namespace) -> int:
    """Gap detection (G1/G2): missing-day islands of [start, end] over
    the store's existing dates for a symbol."""
    from aetherium_trader_datapipeline_spark.operators.gaps import detect_gaps
    from aetherium_trader_datapipeline_spark.plans.backfill_service import existing_dates

    spark = _spark(args.cpus)
    present = existing_dates(spark, args.data_dir, args.symbol)
    gaps = detect_gaps(present, args.start, args.end, date_col="d")
    for r in gaps.collect():
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    """Run any registry query (SURVEY.md §2.2/§2.3 key) against an SF
    directory; rows print as JSON lines. --limit caps driver output."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    if args.key not in REGISTRY:
        print(f"unknown key {args.key!r}; {len(REGISTRY)} available", file=sys.stderr)
        for k in sorted(REGISTRY):
            print(" ", k, file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    df = REGISTRY[args.key].run(spark, args.sf_dir)
    for r in df.limit(args.limit).collect():
        print(json.dumps(r.asDict(recursive=True), default=str))
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the physical plan for a registry query (the artifact the
    plan audits in tests/test_plans.py assert against)."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    if args.key not in REGISTRY:
        print(f"unknown key {args.key!r}", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    df = REGISTRY[args.key].run(spark, args.sf_dir)
    print(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), args.mode
        )
    )
    return 0


def cmd_verify_parquet(args: argparse.Namespace) -> int:
    """Footer verification (F1): rows, files, schema."""
    from aetherium_trader_datapipeline_spark.operators.inspect import inspect_parquet

    spark = _spark(args.cpus)
    info = inspect_parquet(spark, args.path)
    print(json.dumps(info, default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="aetherium_trader_datapipeline_spark")
    p.add_argument("--cpus", default="*", help="local[N] cores (default *)")
    sub = p.add_subparsers(dest="cmd", required=True)

    i = sub.add_parser("ingest", help="live/bounded streaming ingestion")
    i.add_argument("--symbol", default="NQ")
    i.add_argument("--out", required=True)
    i.add_argument("--checkpoint", required=True)
    i.add_argument("--rate", type=int, default=10, help="ticks/second (di.rs:44-47)")
    i.add_argument("--trigger", type=int, default=5, help="seconds (di.rs:41-42)")
    i.add_argument("--duration", type=int, default=0, help="bounded run seconds; 0 = forever")
    i.add_argument("--quarantine", default=None)
    i.set_defaults(fn=cmd_ingest)

    b = sub.add_parser("backfill", help="cursor-aware historical backfill")
    b.add_argument("--symbol", default="NQ")
    b.add_argument("--start", required=True)
    b.add_argument("--end", required=True)
    b.add_argument("--data-dir", required=True)
    b.add_argument("--control-dir", required=True)
    b.set_defaults(fn=cmd_backfill)

    g = sub.add_parser("gaps", help="detect missing-day islands")
    g.add_argument("--symbol", default="NQ")
    g.add_argument("--start", required=True)
    g.add_argument("--end", required=True)
    g.add_argument("--data-dir", required=True)
    g.set_defaults(fn=cmd_gaps)

    v = sub.add_parser("verify-parquet", help="print footer metadata")
    v.add_argument("path")
    v.set_defaults(fn=cmd_verify_parquet)

    q = sub.add_parser("query", help="run a registry query key")
    q.add_argument("key")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=100)
    q.set_defaults(fn=cmd_query)

    e = sub.add_parser("explain", help="print a registry query's plan")
    e.add_argument("key")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    e.add_argument("--mode", default="formatted", choices=["simple", "extended", "formatted", "cost", "codegen"])
    e.set_defaults(fn=cmd_explain)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if hasattr(args, "start"):  # gaps, backfill: a bad range fails before Spark starts
        from aetherium_trader_datapipeline_spark.operators.gaps import date_range

        try:
            date_range(args.start, args.end)
        except ValueError as e:
            print(e, file=sys.stderr)
            return 2
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
