"""Replicates the driver's correctness gate locally: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables; compare row count, column names, and the
order-insensitive value multiset."""

import math
import os

import duckdb
import pytest
from pyspark.sql import Row

import table_transformer_spark.driver_queries as dq

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def canon(value):
    # the driver's checker sorts rows with pandas, which fails on
    # unhashable or nested cells; refuse them here so an array, struct,
    # map or binary output column fails locally too
    if isinstance(value, (list, tuple, dict, bytes, bytearray)):
        raise TypeError(
            f"non-scalar cell of type {type(value).__name__}: {value!r}")
    if value is None:
        return "<null>"
    if isinstance(value, float):
        if math.isnan(value):
            return "<nan>"
        return f"{value:.9g}"
    if isinstance(value, bool):
        return str(int(value))
    return str(value)


def spark_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in df.collect())


def duck_rows(con, sql):
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = res.fetchall()
    return sorted(names), sorted(
        tuple(canon(row[i]) for i in order) for row in rows)


@pytest.mark.parametrize("value", [[1], (1,), Row(a=1), {"a": 1},
                                   b"\x00", bytearray(b"\x00")])
def test_canon_refuses_non_scalar_cells(value):
    with pytest.raises(TypeError, match=type(value).__name__):
        canon(value)


@pytest.mark.parametrize("name", sorted(dq.QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = dq.QUERIES[name](spark, SF_DIR)
    if name not in dq.ORACLES:
        # rows-only check for non-SQL-expressible ops
        assert sdf.count() >= 0
        return
    scols = sorted(sdf.columns)
    srows = spark_rows(sdf)
    dcols, drows = duck_rows(ddb, dq.ORACLES[name])
    assert scols == dcols, f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row counts differ"
    mismatches = [(a, b) for a, b in zip(srows, drows) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
