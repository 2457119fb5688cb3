"""Differential test: every registered query vs its DuckDB oracle.

This mirrors the driver's t2 correctness gate at a smaller scale
factor so regressions are caught before the round boundary.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from .oracle_harness import compare

_QUERIES = entrymod.queries()
_ORACLE = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    if name not in _ORACLE:
        # rows-only check (non-SQL-expressible op): must run and be stable
        n1 = df.count()
        n2 = _QUERIES[name](spark, sf_dir).count()
        assert n1 == n2 and n1 >= 0
        return
    ok, msg = compare(df, _ORACLE[name], sf_dir)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "event_type",
        "facility_id",
        "processing_count",
        "processing_ms",
        "event_timestamp",
    }


def test_compare_rejects_a_hugeint_widening(spark, sf_dir):
    """An un-cast DuckDB SUM widens to HUGEINT: the values still
    canonicalize equal, but the driver's hash rejects the type."""
    df = spark.range(3).selectExpr("id AS n")
    widened = "SELECT CAST(i AS HUGEINT) AS n FROM range(3) t(i)"
    ok, msg = compare(df, widened, sf_dir)
    assert not ok and "type families differ" in msg, msg
    assert compare(df, "SELECT CAST(i AS BIGINT) AS n FROM range(3) t(i)", sf_dir)[0]
