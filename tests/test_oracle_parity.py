"""Local replica of the driver's correctness gate: every queries() entry must
match its oracle_sql() twin on DuckDB at sf0.01 (row count + column names +
order-insensitive normalized values)."""

from __future__ import annotations

from pathlib import Path

import pytest

from liatrio_otel_collector_spark.entry_queries import ORACLES, QUERIES
from liatrio_otel_collector_spark.oracle import compare, duckdb_connection

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF)
    yield c
    c.close()


def test_every_query_has_an_oracle():
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"queries without oracle (rows-only check): {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_parity(name, spark, con):
    df = QUERIES[name](spark, SF)
    ok, msg = compare(df, con, ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_entry_contract(spark):
    import importlib.util

    entry_file = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("spark_entry", entry_file)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    df = m.entry(spark)
    assert df.count() > 0
    assert set(m.queries()) == set(QUERIES)
    assert set(m.oracle_sql()) == set(ORACLES)
