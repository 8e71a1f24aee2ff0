"""Replicates the driver's correctness gate locally: every queries() entry
runs in Spark AND its oracle_sql() runs in DuckDB on the same parquet; the
results must match on row count, column names, and (order-insensitively)
values. Run at sf0.001 for speed — the driver does sf0.01."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod
from docling_api_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _rows(cols, data):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # type-tagged cells so NULLs sort against strings (error_taxonomy
    # has NULL fmt rows — plain None < str raises)
    return sorted(
        tuple((v is None, "" if v is None else v)
              for v in (_norm(row[i]) for i in idx))
        for row in data)


QUERY_NAMES = sorted(entrymod.queries().keys())
ORACLES = {q.name: q.oracle for q in REGISTRY}


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    oracle = ORACLES[name]
    if not isinstance(oracle, str):
        # replica oracle (learned-model literals): oracle_sql() builds it
        # for SWEEP_SF_DIR; rebuild it for the dir THIS test runs at
        oracle = oracle(SF_DIR)
    res = duck.sql(oracle)
    dcols = res.columns
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), (len(srows), len(drows))
    a = _rows(scols, srows)
    b = _rows(dcols, drows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["url", "fmt", "markdown", "error"]


def test_oracle_sql_is_derived_from_registry(monkeypatch):
    # every query has an oracle; replica oracles are built for SWEEP_SF_DIR
    monkeypatch.setenv("SWEEP_SF_DIR", SF_DIR)
    want = {name: o if isinstance(o, str) else o(SF_DIR)
            for name, o in ORACLES.items()}
    assert entrymod.oracle_sql() == want
    assert list(want) == list(entrymod.queries())
    # unreachable replica data omits only the replica entries
    monkeypatch.setenv("SWEEP_SF_DIR", "/nonexistent/sf")
    assert set(entrymod.oracle_sql()) == {
        name for name, o in ORACLES.items() if isinstance(o, str)}
