"""Simulates the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet tables at the
test SF, then compare row counts, schemas (column names), and values
(order-insensitive, columns sorted by name) — mirroring
CORRECTNESS_r{N}.json semantics.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from pero_ocr_spark import queries as Q

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(Q.oracle_sql().keys()))
def test_query_matches_oracle(spark, duck, name):
    fn = Q.queries()[name]
    got = _normalize(fn(spark, SF_DIR).toPandas())
    want = _normalize(duck.execute(Q.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
