"""Order-insensitive output fingerprints, shared by engine and oracle.

A frame's fingerprint is its sorted column names, its row count and the
sum of one 40-bit hash per row (the top bits of its ``xxhash64``, so the
sum is exact in a long up to 2**23 rows). Before hashing, every
value is normalised the way ``tests/test_oracle_parity.py`` normalises
before comparing: floats rounded to 6 decimals, integers widened to
long, everything else compared as its string form. Both sides are
hashed by Spark, so the hash function is the same on each; the oracle's
rows come from DuckDB through a parquet file.

On the engine side the fingerprint rides the operation's action as a
``df.observe`` metric, so checking an operation costs no extra job.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _normalised(df: DataFrame) -> list[Column]:
    out = []
    for name in sorted(df.columns):
        dtype = df.schema[name].dataType
        col = F.col(f"`{name}`")
        if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
            out.append(F.round(col.cast("double"), 6))
        elif isinstance(dtype, T.IntegralType):
            out.append(col.cast("long"))
        else:
            out.append(col.cast("string"))
    return out


def _aggregates(df: DataFrame) -> list[Column]:
    # a long sum: a DECIMAL(38) one made the extract operation ~8% slower
    row_hash = F.shiftright(F.xxhash64(*_normalised(df)), 24)
    return [F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash")]


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its fingerprint attached; read it after the action."""
    obs = Observation()
    return df.observe(obs, *_aggregates(df)), obs


def from_observation(df: DataFrame, obs: Observation) -> tuple:
    m = obs.get
    return tuple(sorted(df.columns)), int(m["rows"]), int(m["hash"] or 0)


def of_frame(df: DataFrame) -> tuple:
    row = df.agg(*_aggregates(df)).collect()[0]
    return tuple(sorted(df.columns)), int(row["rows"]), int(row["hash"] or 0)


def oracle(spark: SparkSession, documents_path: str, sql: str, out_path: str) -> tuple:
    """Fingerprint of ``sql`` run by DuckDB over the generated documents.

    The oracle's rows reach Spark as a parquet file at ``out_path``,
    which is much faster than shipping them through the Python driver.
    """
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{documents_path}')"
        )
        con.execute(f"COPY ({sql}) TO '{out_path}' (FORMAT PARQUET)")
    finally:
        con.close()
    return of_frame(spark.read.parquet(out_path))
