"""Stage telemetry (A4): the Spark-native analog of the reference's
decoding summaries and time logs (``page_parser.py:147-156``,
``decoding/decoding_itf.py:107-136``) — ``df.observe`` metrics that
ride the existing action instead of separate count jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_extraction(
    df: DataFrame, name: str = "extraction"
) -> tuple[DataFrame, Observation]:
    """Exact extraction counters (counts/sums only — ``observe``
    forbids DISTINCT aggregates, and exactness lets a SQL oracle
    reproduce every metric bit-for-bit). The one-action analog of the
    reference's per-run decoding summary (``page_parser.py:147-156``)."""
    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("kind") == "text").cast("long")).alias("n_text"),
        F.sum((F.col("kind") == "media").cast("long")).alias("n_media"),
        F.sum(F.length("text")).alias("n_chars"),
        F.max("ord").alias("max_ord"),
    )
    return out, obs


def extraction_counters(obs: Observation | None) -> dict[str, int]:
    """``observe_extraction``'s counters as ints. Over zero rows the
    count observes 0 and the sums and max null (Spark 4.1: ``obs.get``
    does not raise); those read as 0. ``None``, for an action that was
    never run because there was nothing to write, reads as all zeros."""
    got = obs.get if obs is not None else {}
    names = ("n_spans", "n_text", "n_media", "n_chars", "max_ord")
    return {k: int(got.get(k) or 0) for k in names}

