"""The driver contract in __spark_entry__.py, checked without a Spark session.
The external driver hash-checks the first 50 keys ``queries()`` emits, so
their order (plain registration order) is part of the contract."""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

import __spark_entry__ as E
from aetherium_trader_datapipeline_spark import queries as Q

PKG = "aetherium_trader_datapipeline_spark"


def test_queries_emit_every_key_in_registration_order():
    keys = list(E.queries())
    assert len(keys) == 575
    assert keys == list(Q.REGISTRY)
    assert keys[0] == "q01_scan_agg"
    assert keys[49] == "x55_content_hash_dups"  # last key of the driver's window
    assert keys[-1] == "x575_histogram_selectivity"  # from queries_ext169, loaded last


def test_oracle_sql_covers_every_key():
    oracles = E.oracle_sql()
    assert list(oracles) == list(E.queries())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_discovery_imports_exactly_the_extension_modules():
    E.queries()
    ext = {m for m in sys.modules if re.fullmatch(rf"{PKG}\.queries_ext\d*", m)}
    assert ext == {f"{PKG}.queries_ext"} | {f"{PKG}.queries_ext{i}" for i in range(2, 170)}
    assert not [m for m in sys.modules if m.startswith(f"{PKG}.queries_staged")]


def test_registering_a_known_key_raises():
    Q.queries()
    before = Q.REGISTRY["q01_scan_agg"]
    with pytest.raises(ValueError, match="q01_scan_agg"):
        Q.register_sql("q01_scan_agg", spark_sql="SELECT 1 AS n")
    with pytest.raises(ValueError, match="q01_scan_agg"):
        Q.register("q01_scan_agg", oracle="SELECT 1 AS n")(lambda spark, sf_dir: None)
    assert Q.REGISTRY["q01_scan_agg"] is before
    assert len(Q.REGISTRY) == 575


def test_only_tables_registers_views():
    """``tables.load_tables`` registers the fixture views; every other
    module passes intermediates to ``spark.sql`` as DataFrame arguments
    (``spark.sql("... {g} ...", g=g)``), which bind through views the call
    drops again.  A fixed-name view outlives the run and races with any
    other run in the session.  Tests and scripts share sessions too, so
    they are held to the same rule."""
    repo = Path(Q.__file__).parent.parent
    call = re.compile(r"\.createOrReplaceTempView\(")
    offenders = sorted(
        str(p.relative_to(repo))
        for d in (PKG, "tests", "scripts")
        for p in (repo / d).rglob("*.py")
        if p != repo / PKG / "tables.py" and call.search(p.read_text())
    )
    assert offenders == []
