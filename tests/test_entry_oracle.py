"""Self-check of the driver contract: every ``queries()`` entry runs, and
every ``oracle_sql()`` entry matches the Spark result exactly under the
driver's comparison (row count + schema column names + order-insensitive
values) at sf0.01."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(v):
    """TYPE-STRICT canonical value: tag every value with its python type so
    int vs float never compare equal (2.7e10 == 27016392597 is True in
    python — that leniency hid the DuckDB HUGEINT-sum bug from round 1;
    the driver hashes typed values, so we must too)."""
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", round(v, 9))
    return (type(v).__name__, v)


def normalize(rows, cols):
    """Order-insensitive canonical form: sort columns by name, tag values
    with their type (strict), sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(row[i]) for i in order) for row in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


ORACLED = sorted(entrymod.oracle_sql())
ALL = sorted(entrymod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_runs(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0  # schema resolves, query executes


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, duck, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    s_rows = [tuple(r) for r in df.collect()]
    s_cols = list(df.columns)

    # fetch the oracle THROUGH ARROW, like the driver does: DuckDB HUGEINT
    # (the sum() result type) surfaces as float64 in arrow, so an un-cast
    # oracle sum() fails here exactly as it fails the driver's hash check
    tbl = duck.execute(entrymod.oracle_sql()[name]).arrow()
    d_cols = list(tbl.column_names)
    d_rows = list(zip(*(tbl.column(c).to_pylist() for c in d_cols))) if d_cols else []

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    sc, sv = normalize(s_rows, s_cols)
    dc, dv = normalize(d_rows, d_cols)
    mism = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={sv[mism[0]]} oracle={dv[mism[0]]} cols={sc}"
    )


def test_oracle_keys_subset():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["url", "data"]
