"""Spark-side CTC stage tests: sparse logits table round-trip, batched
greedy decode == source text, confidence-gated beam path."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from pero_ocr_spark.functions import kernels
from pero_ocr_spark.operators import ctc


def test_synth_logits_decode_identity():
    for text in ["spark", "aa", "batch", "dup", "x9z", ""]:
        dense = ctc.synth_line_logits(text)
        got, _ = kernels.greedy_decode(dense, ctc.CHARSET)
        assert got == text
        hyps, _ = kernels.ctc_beam_search(dense, ctc.CHARSET, beam_size=2)
        assert hyps[0][0] == text


def test_logits_table_and_greedy_decode(spark, sf_dir):
    logits = ctc.logits_table(spark, sf_dir, max_lines=200)
    decoded = ctc.decode_greedy(ctc.pack_by_length(logits))
    rows = decoded.collect()
    assert len(rows) == 200
    for r in rows:
        assert r["confidence"] > 0.99
        assert r["transcription"] != ""

    # transcription equals the source span text
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract

    spans = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    src = {
        (r["doc_id"], f"l{r['ord']}"): r["text"]
        for r in spans.filter(F.col("kind") == "text").collect()
    }
    for r in rows:
        assert src[(r["doc_id"], r["line_id"])] == r["transcription"]


def test_beam_decode_matches_greedy_on_clean_logits(spark, sf_dir):
    logits = ctc.logits_table(spark, sf_dir, max_lines=50)
    greedy = {
        (r["doc_id"], r["line_id"]): r["transcription"]
        for r in ctc.decode_greedy(logits).collect()
    }
    beam = ctc.decode_beam(logits, beam_size=4, confidence_gate=None).collect()
    assert len(beam) == 50
    for r in beam:
        assert greedy[(r["doc_id"], r["line_id"])] == r["transcription"]


def test_sparse_table_round_trip(spark, sf_dir):
    row = ctc.logits_table(spark, sf_dir, max_lines=1).collect()[0]
    dense = kernels.sparse_to_dense(
        row["data"], row["indices"], row["indptr"], row["t"], row["c"]
    )
    assert dense.shape == (row["t"], row["c"])
    # one-hot structure survives: every frame has exactly one 0-logit
    assert np.all(np.sum(dense > -1.0, axis=1) == 1)
