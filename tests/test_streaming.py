"""Streaming semantics: the actual streaming windowed agg equals the
batch windowed agg; LM-carry decode equals per-line decode on clean
logits while actually threading state."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pero_ocr_spark.operators import ctc
from pero_ocr_spark.streaming import events as ev


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True).astype(str)


def _window_counts_batch(events, minutes: int):
    """The batch form of ``ev.window_counts_streaming``."""
    return (
        events.groupBy(
            F.window("ts", f"{minutes} minutes").alias("w"), "event_type"
        )
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


def test_streaming_equals_batch_window_agg(spark, sf_dir):
    batch = _window_counts_batch(
        spark.read.parquet(f"{sf_dir}/events.parquet"), minutes=5
    ).toPandas()
    stream = ev.window_counts_streaming(spark, sf_dir, minutes=5).toPandas()
    pd.testing.assert_frame_equal(_norm(batch), _norm(stream))


def test_lm_carry_decode(spark, sf_dir):
    logits = ctc.logits_table(spark, sf_dir, max_lines=60)
    plain = {
        (r["doc_id"], r["line_id"]): r["transcription"]
        for r in ctc.decode_greedy(logits).collect()
    }
    carried = ctc.decode_beam_lm_carry(logits, beam_size=4, lm_scale=0.2).collect()
    assert len(carried) == 60
    for r in carried:
        assert plain[(r["doc_id"], r["line_id"])] == r["transcription"]
    # lm carry contributes a (negative) lm score — total < pure visual score
    assert all(r["score"] < 1.0 for r in carried)


def test_stream_dedup_matches_distinct(spark, sf_dir):
    from pero_ocr_spark.streaming import events as ev

    got = {
        (r["user_id"], r["event_type"])
        for r in ev.dedup_events_streaming(spark, sf_dir).collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_window_distinct_users_hll_streaming(spark, sf_dir):
    from pero_ocr_spark.streaming import events as ev

    out = ev.window_distinct_users_hll_streaming(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        # sub-register cardinalities: linear counting is near-exact
        assert abs(r["rel_err"]) < 0.05, r
        assert r["exact_users"] > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    stream = ev.enriched_tier_totals_streaming(spark, sf_dir).toPandas()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    residue = (
        F.pmod(F.col("user_id") * 69_069 + 12_345, F.lit(2_147_483_647)) % 100
    )
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
    batch = (
        events.join(dim, "user_id")
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "1440 minutes").alias("w"),
            "tier",
            "event_type",
        )
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
        .toPandas()
    )
    pd.testing.assert_frame_equal(_norm(batch), _norm(stream))
    assert set(stream["tier"]) <= {"vip", "core", "casual"}


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    stream = ev.view_click_attribution_streaming(spark, sf_dir).toPandas()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").cast("timestamp").alias("view_ts")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
    )
    lag_sec = F.col("click_ts").cast("long") - F.col("view_ts").cast("long")
    batch = (
        views.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 6 HOURS")),
        )
        .groupBy("user_id")
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
        .toPandas()
    )
    pd.testing.assert_frame_equal(_norm(batch), _norm(stream))
    assert len(stream) > 0
