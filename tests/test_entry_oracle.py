"""Local mirror of the driver's correctness gate: run every
``queries()`` entry on Spark at sf0.01 and compare against
``oracle_sql()`` via DuckDB — row count, column names, and
order-insensitive values."""

import math
import os
import sys

import duckdb
import pytest
from conftest import ROOT

sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return None  # NaN != NaN would break tuple equality
        return round(v, 6)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (int,)):
        return int(v)
    return v


def _dtype_strict(name, s_pd, d_pd):
    """The driver's value hash is dtype-sensitive (round 1: DuckDB
    HUGEINT -> pandas float64 silently broke 11 queries while int(v)
    in this mirror laundered it away). Require identical pandas dtypes
    per column between the Spark and the DuckDB result."""
    for c in sorted(s_pd.columns):
        sk = s_pd[c].dtype.kind.replace("u", "i")
        dk = d_pd[c].dtype.kind.replace("u", "i")
        # int width doesn't matter (int32 vs int64 was driver-green in
        # round 1), but int-vs-float / int-vs-object does
        assert sk == dk, (name, c, s_pd[c].dtype, d_pd[c].dtype)


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


ORACLES = entrymod.oracle_sql()
ALL = entrymod.queries()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["source", "n_docs", "sum_tok", "tok_sum"]


@pytest.mark.parametrize("name", [n for n in ALL if n in ORACLES])
def test_query_matches_oracle(spark, ddb, name):
    sdf = ALL[name](spark, SF_DIR)
    s_pd = sdf.toPandas()
    s_pd.columns = [c.lower() for c in s_pd.columns]
    res = ddb.execute(ORACLES[name])
    d_pd = res.df()
    d_pd.columns = [c.lower() for c in d_pd.columns]
    assert sorted(s_pd.columns) == sorted(d_pd.columns), (
        list(s_pd.columns), list(d_pd.columns),
    )
    assert len(s_pd) == len(d_pd), (name, len(s_pd), len(d_pd))
    _dtype_strict(name, s_pd, d_pd)
    s_cols = list(s_pd.columns)
    d_cols = list(d_pd.columns)
    s_rows = list(s_pd.itertuples(index=False, name=None))
    d_rows = list(d_pd.itertuples(index=False, name=None))
    assert _rows_to_set(s_cols, s_rows) == _rows_to_set(d_cols, d_rows)


@pytest.mark.parametrize("name", [n for n in ALL if n not in ORACLES])
def test_rows_only_queries_run(spark, name):
    sdf = ALL[name](spark, SF_DIR)
    assert sdf.count() >= 0
