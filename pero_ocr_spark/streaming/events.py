"""Structured Streaming operators over the events table.

The reference is batch-only; its closest streaming-shaped concepts are
reproduced here both ways:

  * windowed aggregation with watermark — run as a REAL streaming
    query (readStream → memory sink, driven to completion with
    processAllAvailable) whose result is identical to the batch
    ``groupBy(window(...))`` — that equivalence is the oracle.
  * sessionization — lag/gap-cumsum in batch (SQL-oracle-able) and
    ``session_window`` in streaming.

Scale notes: watermark bounds state; the windowed agg is a streaming
shuffle on (window, event_type) with partial aggregation per
micro-batch. Sessionization shuffles on user_id once.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _stream_dir(sf_dir: str) -> str:
    """The file micro-batch source requires a directory; expose the
    single events parquet through a symlink dir (a real deployment
    streams from a directory/Kafka anyway)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    return d


def window_counts_streaming(
    spark: SparkSession, sf_dir: str, minutes: int = 5, watermark: str = "10 minutes"
) -> DataFrame:
    """Run the same windowed agg as an actual streaming query over the
    events parquet (file micro-batch source), complete-output into a
    memory sink, and return the materialized result."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(_stream_dir(sf_dir))
        # watermarks require TIMESTAMP (LTZ); session tz is pinned UTC so
        # the cast is value-preserving vs the batch NTZ read
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    agg = (
        stream.groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: a new session starts when the
    inter-event gap exceeds the threshold. lag + conditional cumsum —
    one shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    marked = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def running_user_totals_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals (event count, value sum, last ts) carried
    in explicit group state across micro-batches — the streaming
    generalization of the engine's order-stateful batch scan
    (decode_beam_lm_carry)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"tot_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # in update mode the memory sink appends per-batch updates; the
    # final state per user is the last row emitted — with a single
    # input file there is exactly one
    return spark.table(name)


def dedup_events_streaming(
    spark: SparkSession,
    sf_dir: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    delay: str = "30 days",
) -> DataFrame:
    """Streaming deduplication with watermark-bounded state
    (``dropDuplicatesWithinWatermark``): the first arrival per key
    survives; state for a key is evicted once the watermark passes its
    event time + delay, so memory is bounded by the key cardinality of
    one delay window — THE dedup shape for an unbounded 100 TB event
    stream (plain dropDuplicates would grow state forever).

    Only the key columns are returned: which physical duplicate row
    survives depends on arrival order across file-source partitions
    (nondeterministic), but the surviving KEY SET equals SELECT
    DISTINCT whenever every duplicate pair sits within the delay —
    here the delay spans the whole table, which is also what makes the
    result oracle-checkable."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", delay)
    )
    deduped = stream.dropDuplicatesWithinWatermark(list(keys)).select(*keys)
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def window_distinct_users_hll_streaming(
    spark: SparkSession,
    sf_dir: str,
    minutes: int = 60,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed distinct-user cardinality via HyperLogLog registers as
    a REAL streaming aggregation.

    Register max is ASSOCIATIVE, so the sketch composes natively with
    Structured Streaming's incremental aggregation: each micro-batch
    folds into per-(window, register) state of bounded size (≤ m rows
    per window, ever), where an exact streaming count-distinct would
    hold every user id seen per window in state. The estimate and the
    exact baseline are computed batch-side from the materialized
    register table / the events parquet.

    Output: (window_start, exact_users, hll_users, rel_err).
    """
    from pero_ocr_spark.operators import sketch

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    idx, rnk = sketch.hll_idx_rank(
        F.sha2(F.col("user_id").cast("string"), 256)
    )
    agg = stream.groupBy(
        F.window("ts", f"{minutes} minutes").alias("w"), idx.alias("idx")
    ).agg(F.max(rnk).alias("m"))
    name = f"hll_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    regs = spark.table(name).select(
        # LTZ→NTZ under the pinned-UTC session is value-preserving and
        # matches the batch NTZ read for the exact-baseline join
        F.col("w.start").cast("timestamp_ntz").alias("scope"),
        "idx",
        "m",
    )
    est = sketch.hll_estimate(regs)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = (
        events.groupBy(
            F.window("ts", f"{minutes} minutes").alias("w")
        )
        .agg(F.count_distinct("user_id").alias("exact_users"))
        .select(F.col("w.start").alias("scope"), "exact_users")
    )
    return est.join(exact, "scope").select(
        F.col("scope").alias("window_start"),
        F.col("exact_users").cast("long").alias("exact_users"),
        F.col("hll_distinct").alias("hll_users"),
        F.round(
            (F.col("hll_distinct") - F.col("exact_users"))
            / F.col("exact_users"),
            6,
        ).alias("rel_err"),
    )


def enriched_tier_totals_streaming(
    spark: SparkSession,
    sf_dir: str,
    minutes: int = 1440,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment join — THE dimension-lookup pattern: a
    static user-tier table joined onto the event stream per
    micro-batch, then windowed totals per (tier, event_type).

    The stream-static join is STATELESS (no watermark bookkeeping, no
    join state — each micro-batch hash-joins against the broadcast
    dim); only the downstream windowed agg carries state, bounded by
    the watermark. At scale the dim is the broadcast side by
    construction (users ≪ events); the stream side never shuffles for
    the join, only for the window agg.

    The tier itself is the engine's portable LCG residue over user_id
    (deterministic, reproducible in the DuckDB oracle); a real
    deployment reads the dim from its user table instead — the plan
    shape is identical.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    residue = F.pmod(F.col("user_id") * 69_069 + 12_345, F.lit(2_147_483_647)) % 100
    dim = (
        events.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(residue < 20, "vip")
            .when(residue < 60, "core")
            .otherwise("casual")
            .alias("tier"),
        )
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "tier", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "tier",
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"tier_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# The view→click stream-stream interval join: a click attributes to
# the same user's views of the preceding MAX_LAG_HOURS, each side
# carries a WATERMARK delay, and the join state is partitioned
# STATE_PARTITIONS ways (see _view_click_pairs).
MAX_LAG_HOURS = 6
WATERMARK = "12 hours"
STATE_PARTITIONS = 8


def _view_click_pairs(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Run the view→click stream-stream interval join (``how`` is
    ``"inner"`` or ``"leftOuter"``) to an append-mode memory sink and
    return the sink's table.

    Both sides are independent streams with their own watermark; the
    time-range predicate (click in [view, view + lag]) lets Spark
    BOUND the join state — a view older than watermark + lag can never
    match a future click and is evicted, so state is O(events per lag
    window), not O(stream).

    The stream's shuffle-partition count is pinned to
    ``STATE_PARTITIONS`` for the lifetime of the query and restored
    after (stream-stream join state is partitioned once, at query
    start). Each state partition carries a state-store instance whose
    per-micro-batch setup/commit is pure overhead when the partition
    holds little state — at bench scale 32 stores cost more than the
    join itself (26s → single digits at 8). On a real cluster size it
    to executors × cores like any shuffle. Join SEMANTICS are
    unaffected — the predicate, watermarks, and eviction bound do not
    depend on the partition count.
    """
    def side(event_type: str, alias_ts: str) -> DataFrame:
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(_stream_dir(sf_dir))
            .where(F.col("event_type") == event_type)
            .select(
                "user_id", F.col("ts").cast("timestamp").alias(alias_ts)
            )
            .withWatermark(alias_ts, WATERMARK)
        )

    views = side("view", "view_ts")
    clicks = side("click", "click_ts").withColumnRenamed("user_id", "c_user")
    pairs = views.join(
        clicks,
        F.expr(
            f"""user_id = c_user
                AND click_ts >= view_ts
                AND click_ts <= view_ts + INTERVAL {MAX_LAG_HOURS} HOURS"""
        ),
        how,
    )
    name = f"view_click_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            pairs.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def view_click_attribution_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval join with watermarks — the attribution
    pattern: every click joined to the same user's views from the
    preceding ``MAX_LAG_HOURS`` (:func:`_view_click_pairs`). The
    joined pairs land in an append-mode sink; the per-user rollup
    (pairs + mean lag) runs batch on the sink, keeping the streaming
    stage single-stateful.

    Output: (user_id, n_pairs, avg_lag_min).
    """
    pairs = _view_click_pairs(spark, sf_dir, "inner")
    # lag in whole seconds is an exact integer — summing it keeps the
    # mean order-independent (a double avg differs in final ulps
    # between Spark's partial-agg tree and a sequential oracle)
    lag_sec = F.col("click_ts").cast("long") - F.col("view_ts").cast("long")
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(lag_sec).alias("lag_s"),
        )
        .select(
            "user_id",
            "n_pairs",
            F.round(F.col("lag_s") / (60.0 * F.col("n_pairs")), 6).alias(
                "avg_lag_min"
            ),
        )
    )


def view_click_left_outer_streaming(
    spark: SparkSession, sf_dir: str, safety_margin: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermarks — the
    semantics :func:`view_click_attribution_streaming` cannot show:
    a view with NO click inside the lag window must still be emitted
    (with nulls), and Structured Streaming can only do that when the
    global watermark proves no future click can ever match — i.e. the
    null row is produced BY state eviction, not by the join predicate.
    This is the funnel-drop / abandonment query (views that never
    converted) as a stream.

    Determinism at stream end: a view still inside the eviction
    horizon when the input is exhausted never gets its null row (its
    fate is genuinely unknown — a matching click could still arrive).
    So the query reports only views with
    ``view_ts <= global_watermark - lag - safety_margin``, where the
    global watermark is min(max ts per side) - watermark delay — a
    value computable from the batch data, which is what makes the
    result oracle-able: the DuckDB oracle is the batch LEFT JOIN under
    the identical cutoff. The margin keeps the cutoff strictly inside
    the evicted region so engine-boundary (<= vs <) behavior at the
    exact eviction tick can never flip a row.

    Scale: state is bounded exactly as the inner join (a view older
    than watermark + lag is evicted; the eviction EMITS here instead
    of discarding); the no-data micro-batch after the last file is
    what flushes the final evictions — Spark runs it because
    ``noDataMicroBatches`` is on by default.

    Output: (user_id, n_views, n_matched, n_orphans) per user over
    the reportable window.
    """
    pairs = _view_click_pairs(spark, sf_dir, "leftOuter")
    # the deterministic reporting cutoff, from the BATCH data (same
    # arithmetic the oracle runs): global watermark = min of the two
    # sides' (max ts - delay); subtract lag + margin
    events = spark.read.schema(EVENTS_SCHEMA).parquet(
        f"{sf_dir}/events.parquet"
    )
    wm = (
        events.where(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(F.max(F.col("ts").cast("timestamp")).alias("mx"))
        .agg(
            F.min(
                F.col("mx")
                - F.expr(f"INTERVAL {WATERMARK}")
            ).alias("gwm")
        )
        .select(
            (
                F.col("gwm")
                - F.expr(f"INTERVAL {MAX_LAG_HOURS} HOURS")
                - F.expr(f"INTERVAL {safety_margin}")
            ).alias("cutoff")
        )
    )
    return (
        pairs.crossJoin(F.broadcast(wm))
        .where(F.col("view_ts") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum(
                F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
            ).alias("n_matched"),
            F.sum(
                F.when(F.col("click_ts").isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        )
    )
