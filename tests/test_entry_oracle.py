"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count + column names + (order-insensitively) values. The contract's
shape (one oracle per query, gate width, package code in every query, no
unread table) is checked without Spark."""

import inspect
import math
import os
import re

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def duck_con():
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def normalize(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if math.isnan(v):
                    v = "NaN"
            if isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_driver_contract_shape():
    assert set(QUERIES) == set(ORACLES)
    # the driver's correctness gate checks at most 50 queries
    assert len(QUERIES) <= 50, len(QUERIES)
    sql_only = sorted(
        k for k, fn in QUERIES.items()
        if "siteone_crawler_spark" not in inspect.getsource(fn)
    )
    assert not sql_only, f"queries that run no package code: {sql_only}"
    unread = [
        t for t in entry_mod.TABLES
        if not any(re.search(rf"\b{t}\b", sql) for sql in ORACLES.values())
    ]
    assert not unread, f"TABLES no oracle reads: {unread}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in df.collect()]
    spark_cols = df.columns

    con = duck_con()
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (name, len(spark_rows), len(duck_rows))

    a = normalize(spark_rows, spark_cols)
    b = normalize(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "url" in df.columns and "seq" in df.columns
