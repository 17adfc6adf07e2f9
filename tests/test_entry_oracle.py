"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count + column names + (order-insensitively) values."""

import math
import os

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


# the driver contract (queries/oracle_sql) plus the local-only rows
# (extra_*) — pytest certifies both; the driver gate sees only the former
QUERIES = {**entry_mod.queries(), **entry_mod.extra_queries()}
ORACLES = {**entry_mod.oracle_sql(), **entry_mod.extra_oracle_sql()}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, name):
    assert set(QUERIES) == set(ORACLES)
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
