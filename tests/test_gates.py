"""Spark-vs-DuckDB gate corpus (``gates.py``): each gate runs on the
session's Spark and its oracle SQL on DuckDB over the same sf0.01
parquet. A gate passes when both sides have the same column names, the
same row count and the same rows, compared order-insensitively after
``norm``. Array, map and struct result columns are rejected: gates
encode such results as comma-joined strings on both sides.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from gates import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def assert_gate_matches(sdf, con, oracle: str) -> None:
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not complex_cols, f"complex-typed result columns {complex_cols}"
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.sql(oracle)
    ocols = res.columns
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), "column names differ"
    assert len(srows) == len(orows), "row counts differ"
    a = normalize_rows(scols, srows)
    b = normalize_rows(ocols, orows)
    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
    assert not diff, f"value mismatch, first diffs (spark, oracle): {diff}"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_gate(spark, duck, name):
    assert_gate_matches(QUERIES[name](spark, SF_DIR), duck, ORACLES[name])
