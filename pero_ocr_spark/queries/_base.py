"""Driver-facing query registry.

Each entry pairs a Spark implementation (an operator from SURVEY.md §2
exercised over the driver's parquet tables) with an equivalent DuckDB
oracle SQL string. Column names/types are aligned on both sides; float
aggregates are rounded identically so the driver's value-hash matches.

Registry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from pero_ocr_spark import corpus

from pero_ocr_spark.operators import extract

QueryFn = Callable[[SparkSession, str], DataFrame]
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

def _scratch(name: str) -> str:
    """Scratch dir for sink round-trip queries — a path per (process,
    query name), emptied on each invocation, so repeated bench/driver
    runs never accumulate temp output (mkdtemp leaked one full
    extraction per run) and two CONCURRENT runs on the same box never
    delete each other's in-flight sink/lineage data (the pre-round-4
    fixed path did). Roots left by dead processes are swept
    opportunistically."""
    import os
    import shutil
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "pero_ocr_spark_scratch")
    root = os.path.join(base, f"pid{os.getpid()}")
    # sweep roots whose owning process is gone (crashed runs leak theirs)
    try:
        for entry in os.listdir(base):
            if not entry.startswith("pid") or entry == f"pid{os.getpid()}":
                continue
            try:
                os.kill(int(entry[3:]), 0)  # signal 0 = existence probe
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
            except (ValueError, PermissionError):
                pass
    except FileNotFoundError:
        pass
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path

# shared oracle CTE: the extraction pipeline's output (classification +
# boilerplate strip + reading order) — interpolated into every oracle
# that consumes extracted spans, so the rule lives in ONE place
_EXTRACTED_CTE = f"""
{corpus.SPANS_CTE}
, extracted AS (
  SELECT doc_id, kind, text, media_ref,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_offset) - 1
              AS BIGINT) AS ord
  FROM spans
  WHERE kind = 'media'
     OR (kind = 'text' AND text <> '' AND text NOT IN ('the', 'a'))
)
"""

def queries() -> dict[str, QueryFn]:
    """Registered queries, in registration order."""
    return {k: fn for k, (fn, _) in _REGISTRY.items()}

def oracle_sql() -> dict[str, str]:
    """Oracle SQL of every query that has one, in registration order."""
    return {k: sql for k, (_, sql) in _REGISTRY.items() if sql is not None}
