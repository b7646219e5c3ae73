"""t2-style gate: every registry query must match its DuckDB oracle
exactly (names, row count, canonicalized values) at the test SF."""

from __future__ import annotations

import pytest

from aetherium_trader_datapipeline_spark.queries import REGISTRY, _load_extensions
from tests.oracle import compare

_load_extensions()
KEYS = sorted(REGISTRY)


@pytest.mark.parametrize("key", KEYS)
def test_query_matches_oracle(spark, sf_dir, key):
    q = REGISTRY[key]
    df = q.run(spark, sf_dir)
    assert df is not None
    problems = compare(df, q.oracle, sf_dir, key=key)
    assert not problems, "\n".join(problems)
