"""Local mirror of the driver's correctness gate: every queries() entry runs,
and every oracle_sql() twin matches on row count + schema column names +
order-insensitive value multiset (stringified)."""

import math

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _multiset(rows, cols):
    return sorted(",".join(_norm(r[c]) for c in sorted(cols)) for r in rows)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"doc_id", "fp", "tok_ws", "quality_u", "lang_pred"}


def test_registry_pairs_every_query_with_its_twin():
    """queries() and oracle_sql() come from one registry: the same names in
    the same order (the driver windows on that order), and every twin is a
    non-empty SQL string."""
    twins = E.oracle_sql()
    assert list(twins) == list(E.queries())
    assert all(isinstance(sql, str) and sql.strip() for sql in twins.values())


ORACLED = sorted(E.oracle_sql().keys())
ROWS_ONLY = sorted(set(E.queries().keys()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    q = E.queries()[name]
    df = q(spark, SF_DIR)
    spark_rows = [r.asDict() for r in df.collect()]
    ora = ddb.execute(E.oracle_sql()[name])
    cols = [d[0] for d in ora.description]
    ora_rows = [dict(zip(cols, r)) for r in ora.fetchall()]
    assert sorted(df.columns) == sorted(cols), (df.columns, cols)
    assert len(spark_rows) == len(ora_rows), f"{name}: row count"
    assert _multiset(spark_rows, df.columns) == _multiset(ora_rows, cols), name


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    q = E.queries()[name]
    df = q(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0
