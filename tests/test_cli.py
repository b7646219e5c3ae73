"""CLI subcommands (the reference's four binaries) driven through main()
in-process — bounded ingest, backfill, gaps, verify-parquet."""

from __future__ import annotations

import json
import tempfile

from aetherium_trader_datapipeline_spark.__main__ import main


def test_cli_backfill_gaps_verify(spark, capsys):
    base = tempfile.mkdtemp(prefix="cli-")
    data, ctl = f"{base}/data", f"{base}/ctl"

    rc = main(
        [
            "backfill",
            "--symbol", "NQ",
            "--start", "2025-12-01",
            "--end", "2025-12-03",
            "--data-dir", data,
            "--control-dir", ctl,
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["days_processed"] == 3
    assert out["total_ticks"] == 3 * 1440
    assert out["failed_days"] == []

    rc = main(
        [
            "gaps",
            "--symbol", "NQ",
            "--start", "2025-11-29",
            "--end", "2025-12-05",
            "--data-dir", data,
        ]
    )
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0
    # missing: Nov 29-30 island and Dec 4-5 island
    assert [(g["gap_start"], g["gap_end"]) for g in lines] == [
        ("2025-11-29", "2025-11-30"),
        ("2025-12-04", "2025-12-05"),
    ]

    rc = main(["verify-parquet", data])
    info = json.loads(capsys.readouterr().out.strip())
    assert rc == 0
    assert info["num_rows"] == 3 * 1440


def test_cli_rejects_reversed_range(capsys, tmp_path):
    """gaps and backfill print a reversed range's error to stderr and exit
    2 before Spark starts, instead of a JVM trace or a COMPLETED job."""
    ctl = tmp_path / "ctl"
    for cmd in (["gaps"], ["backfill", "--control-dir", str(ctl)]):
        rc = main(cmd + ["--start", "2024-01-05", "--end", "2024-01-02",
                         "--data-dir", str(tmp_path / "data")])
        captured = capsys.readouterr()
        assert rc == 2
        assert "start 2024-01-05 is after end 2024-01-02" in captured.err
        assert captured.out == ""
    assert not ctl.exists()


def test_cli_bounded_ingest(spark, capsys):
    base = tempfile.mkdtemp(prefix="cli-ingest-")
    rc = main(
        [
            "ingest",
            "--symbol", "NQ",
            "--out", f"{base}/out",
            "--checkpoint", f"{base}/ckpt",
            "--rate", "200",
            "--trigger", "1",
            "--duration", "8",
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["ingested_rows"] > 0


def test_cli_query_and_explain(spark, capsys):
    rc = main(["query", "q01_scan_agg", "--sf-dir", "/root/testdata/sf0.001", "--limit", "5"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    row = json.loads(out[-1])
    assert "n" in row and row["n"] > 0

    rc = main(["explain", "q04_join_agg", "--sf-dir", "/root/testdata/sf0.001", "--mode", "simple"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out and "HashAggregate" in out

    rc = main(["query", "no_such_key"])
    err = capsys.readouterr().err
    assert rc == 2 and "unknown key" in err
