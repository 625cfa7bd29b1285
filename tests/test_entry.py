"""The driver-contract gate, in-suite: every queries() entry runs; every
oracle_sql() entry matches DuckDB on row count, column names, and
order-insensitive values (the CORRECTNESS_r{N}.json shape)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ORACLES = E.oracle_sql()
ALL = list(E.queries())
# exclude the full-pipeline query here: tests/test_checkpoint covers it and
# it needs minutes; everything else must run in the gate test
FAST = [n for n in ALL if n != "kg_pipeline_triples"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].astype("float64").round(9)
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", FAST)
def test_gate(name, spark, con):
    sdf = E.queries()[name](spark, SF).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only contract: runs, stable schema
        return
    odf = con.execute(ORACLES[name]).fetchdf()
    s, o = normalize(sdf), normalize(odf)
    assert list(s.columns) == list(o.columns), f"{name}: column names differ"
    assert len(s) == len(o), f"{name}: row count {len(s)} vs {len(o)}"
    pd.testing.assert_frame_equal(s, o, check_dtype=True, atol=0, rtol=0)


def test_entry_contract(spark):
    df = E.entry(spark)
    assert df.count() >= 0
    assert df.schema == E.entry(spark).schema
