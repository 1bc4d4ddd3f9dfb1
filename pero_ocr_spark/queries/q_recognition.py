"""Recognition / decode / error / merge / sink / pipeline queries (SURVEY §2.6, §2.3-2.5 rows).

Split out of the monolithic queries.py (round 5); the package
__init__ imports tier modules in dependency order, so registration
order is deterministic and the registry machinery lives in _base.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract
from pero_ocr_spark.queries._base import (  # noqa: F401
    QueryFn, _EXTRACTED_CTE, _REGISTRY, _scratch, _t, register,
)
from pero_ocr_spark.queries._ctes import _DUCK_POLY, _EVAL_SCORED_CTE, _LINES_CTE, _eval_scored  # noqa: F401




# ---------------------------------------------------------------------------
# Flagship: full extraction pipeline (SURVEY §2: S1/S2 scan analog, J2/R13
# filters, O1/O5 reading order, R1 explode) over the interleaved corpus.
# ---------------------------------------------------------------------------

_EXTRACT_ORACLE = f"""
{corpus.SPANS_CTE}
SELECT doc_id, kind, text, media_ref,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_offset) - 1 AS BIGINT) AS ord
FROM spans
WHERE kind = 'media'
   OR (kind = 'text' AND text <> '' AND text NOT IN ('the', 'a'))
"""


@register("extract_spans", _EXTRACT_ORACLE)
def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # headline throughput query: deliberately UNCACHED full pipeline
    return extract.extract_spans(corpus.spans_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# R2/R3/R5/R7 — CTC recognition: synthetic sparse logits → batched greedy
# decode in mapInPandas. decode(synth(text)) == text, so the oracle is the
# text spans themselves (strings only; float confidence is pytest-covered).
# ---------------------------------------------------------------------------

_DECODE_ORACLE = (
    _EXTRACTED_CTE
    + """
SELECT doc_id, 'l' || CAST(ord AS VARCHAR) AS line_id, text AS transcription
FROM extracted WHERE kind = 'text'
"""
)


@register("ctc_decode_greedy", _DECODE_ORACLE)
def q_ctc_decode_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import ctc

    logits = ctc.pack_by_length(ctc.logits_table(spark, sf_dir))
    return ctc.decode_greedy(logits).select("doc_id", "line_id", "transcription")


@register("ctc_decode_beam", _DECODE_ORACLE)
def q_ctc_decode_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import ctc

    logits = ctc.pack_by_length(ctc.logits_table(spark, sf_dir))
    return ctc.decode_beam(logits, beam_size=4, confidence_gate=0.9).select(
        "doc_id", "line_id", "transcription"
    )


# ---------------------------------------------------------------------------
# R6 — stateful cross-line LM-carry decode (ordered scan per doc_id group).
# On the near-one-hot synthetic logits the LM cannot flip the argmax, so
# the decode oracle still applies (transcription equality).
# ---------------------------------------------------------------------------

_LM_CARRY_ORACLE = _DECODE_ORACLE


@register("ctc_decode_lm_carry", _LM_CARRY_ORACLE)
def q_ctc_decode_lm_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R9: the LM is a REAL corpus-trained char-bigram table (one Spark
    # aggregation, O(charset²) collected + broadcast), consumed through
    # the reference LM wrapper interface. The synthetic logits'
    # 80-logit margins dominate lm_scale·logprob, so the decode stays
    # oracle-exact; the LM reranks only genuine near-ties.
    from pero_ocr_spark.functions import lm as lmmod
    from pero_ocr_spark.operators import ctc

    counts = lmmod.train_char_bigrams(_t(spark, sf_dir, "documents"))
    logits = ctc.logits_table(spark, sf_dir)
    return ctc.decode_beam_lm_carry(logits, lm_counts=counts).select(
        "doc_id", "line_id", "transcription"
    )


# ---------------------------------------------------------------------------
# S2/S5 — REAL PcGts PAGE-XML round trip (core/layout.py:250-398): export
# the geometry-enriched lines to PcGts 2019 strings, re-import with the
# namespace-agnostic parser (heights_v2 custom attr, ReadingOrder,
# Baseline/Coords points), and check every recovered field against the
# closed-form line geometry. S3 — same for the ALTO layout dialect
# (core/layout.py:602-651): rect blocks/lines, BASELINE attr, String
# CONTENT word joins, reference height order.
# ---------------------------------------------------------------------------

_GEOM_LINES_ORACLE_BASE = (
    _LINES_CTE
    + """
SELECT l.doc_id, l.region_id,
       CAST(substr(l.region_id, 2) AS BIGINT) AS region_order,
       l.line_id, l.ord AS idx,
       l.x0 AS bx0, l.x1 AS bx1, l.y AS by,
       {heights},
       e.text AS transcription
       {conf}
FROM lines l
JOIN extracted e
  ON l.doc_id = e.doc_id AND l.ord = e.ord AND e.kind = 'text'
"""
)


@register(
    "pagexml_roundtrip",
    _GEOM_LINES_ORACLE_BASE.format(
        heights="10.0 AS height_up, 4.0 AS height_down",
        conf=", round(0.5 + (l.ord % 50) / 100.0, 3) AS confidence",
    ),
)
def q_pagexml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import layout
    from pero_ocr_spark.sources import pcgts

    src = layout.lines_with_geometry(spark, sf_dir)
    back = pcgts.import_pcgts(pcgts.export_pcgts(src))
    return back.select(
        "doc_id",
        "region_id",
        "region_order",
        "line_id",
        "idx",
        F.element_at(F.element_at("baseline", 1), 1).alias("bx0"),
        F.element_at(F.element_at("baseline", 2), 1).alias("bx1"),
        F.element_at(F.element_at("baseline", 1), 2).alias("by"),
        "height_up",
        "height_down",
        "transcription",
        F.round("confidence", 3).alias("confidence"),
    )


@register(
    "alto_roundtrip",
    _LINES_CTE
    + """
, numbered AS (
  SELECT doc_id, region_id, line_id, ord, x0, x1, y,
         row_number() OVER (
           PARTITION BY doc_id, region_id ORDER BY ord, line_id) - 1 AS li
  FROM lines)
SELECT l.doc_id, l.region_id,
       CAST(substr(l.region_id, 2) AS BIGINT) AS region_order,
       CAST(l.li AS BIGINT) AS idx,
       l.x0 AS bx0, l.x1 AS bx1, l.y AS by,
       4.0 AS height_up, 10.0 AS height_down,
       e.text AS transcription
FROM numbered l
JOIN extracted e
  ON l.doc_id = e.doc_id AND l.ord = e.ord AND e.kind = 'text'
""",
)
def q_alto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NB: the reference's ALTO import stores heights as
    # [HEIGHT + VPOS - BASELINE, BASELINE - VPOS] — descender first
    # (core/layout.py:630-632); reproduced faithfully, hence the
    # swapped 4.0/10.0 expectation.
    from pero_ocr_spark.operators import layout
    from pero_ocr_spark.sources import pcgts

    src = layout.lines_with_geometry(spark, sf_dir)
    back = pcgts.import_alto(pcgts.export_alto_layout(src))
    return back.select(
        "doc_id",
        "region_id",
        "region_order",
        "idx",
        F.element_at(F.element_at("baseline", 1), 1).alias("bx0"),
        F.element_at(F.element_at("baseline", 2), 1).alias("bx1"),
        F.element_at(F.element_at("baseline", 1), 2).alias("by"),
        "height_up",
        "height_down",
        "transcription",
    )


@register(
    "cn_best_path",
    _DECODE_ORACLE.replace(
        "SELECT doc_id, 'l' || CAST(ord AS VARCHAR) AS line_id, "
        "text AS transcription\nFROM extracted WHERE kind = 'text'",
        "",
    )
    + """
SELECT doc_id, ord, text AS best_path,
       CAST(len(text) + 1 AS BIGINT) AS n_positions,
       CAST(len(text) + (len(text) - len(replace(text, 'a', ''))) + 2
            AS BIGINT) AS n_arcs
FROM extracted WHERE kind = 'text'
""",
)
def q_cn_best_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R14: three deterministic hypotheses per line — the transcript
    # (weight e^0), its a→x corruption (e^-1), and the transcript plus
    # a trailing 'z' (e^-2). Closed form: substitutions keep the pivot,
    # so positions with an 'a' carry two arcs; the appended 'z' makes
    # one epsilon-dominated extra position (mass ratio 1.37 : e^-2);
    # best path = the transcript, sizes as in the oracle.
    from pero_ocr_spark.operators import merge

    spans = corpus.extracted_spans(spark, sf_dir)
    t = spans.filter(F.col("kind") == "text")
    hyp = lambda txt, sc: F.struct(  # noqa: E731
        txt.alias("text"), F.lit(sc).alias("vis"), F.lit(0.0).alias("lm")
    )
    hyps = t.select(
        "doc_id",
        "ord",
        F.array(
            hyp(F.col("text"), 0.0),
            hyp(F.translate("text", "a", "x"), -1.0),
            hyp(F.concat(F.col("text"), F.lit("z")), -2.0),
        ).alias("hyps"),
    )
    return merge.confusion_network_stage(hyps)


@register(
    "alto_word_roundtrip",
    _LINES_CTE
    + """
, numbered AS (
  SELECT l.doc_id, l.region_id, l.line_id, l.ord, l.x0, l.y,
         e.text || ' ' || e.text AS txt,
         row_number() OVER (
           PARTITION BY l.doc_id, l.region_id ORDER BY l.ord, l.line_id) - 1
           AS li
  FROM lines l
  JOIN extracted e
    ON l.doc_id = e.doc_id AND l.ord = e.ord AND e.kind = 'text')
, chars AS (
  SELECT doc_id, region_id, li, x0, y, txt,
         unnest(generate_series(1, len(txt))) AS i
  FROM numbered)
, kept AS (
  SELECT doc_id, region_id, li, x0, y, i,
         substr(txt, i, 1) AS ch,
         len(substr(txt, 1, i - 1))
           - len(replace(substr(txt, 1, i - 1), ' ', '')) AS w
  FROM chars WHERE substr(txt, i, 1) <> ' ')
, seq AS (
  -- synth logits frame layout: one frame per kept char, +1 continued
  -- frame for odd 0-based text positions (i%2=0 1-based), +1 blank
  -- separator when the previous KEPT char repeats (spaces skipped)
  SELECT *,
         row_number() OVER (
           PARTITION BY doc_id, region_id, li ORDER BY i) - 1 AS k,
         CASE WHEN ch = lag(ch) OVER (
                PARTITION BY doc_id, region_id, li ORDER BY i)
              THEN 1 ELSE 0 END AS blk,
         CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS dbl
  FROM kept)
, frames AS (
  SELECT *,
         k + sum(blk) OVER (PARTITION BY doc_id, region_id, li ORDER BY i)
           + sum(dbl) OVER (PARTITION BY doc_id, region_id, li ORDER BY i)
           - dbl AS ff
  FROM seq)
SELECT doc_id, region_id,
       CAST(substr(region_id, 2) AS BIGINT) AS region_order,
       CAST(li AS BIGINT) AS idx,
       CAST(w AS BIGINT) AS word_idx,
       string_agg(ch, '' ORDER BY i) AS content,
       CAST(x0 + 8 * min(ff) AS BIGINT) AS hpos,
       CAST(y - 10 AS BIGINT) AS vpos,
       CAST(8 * (max(ff) - min(ff) + 1) AS BIGINT) AS width,
       CAST(14 AS BIGINT) AS height,
       1.0 AS wc
FROM frames
GROUP BY doc_id, region_id, li, x0, y, w
""",
)
def q_alto_word_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S6+R10+R11 through the full XML round trip: two-word
    # transcriptions force-align to the synthetic logits (Viterbi,
    # kernels.force_align), word boxes derive from the aligned frame
    # spans (8 px/frame anchored at the line HPOS), WC is the mean
    # aligned letter confidence (exactly 1.0 on one-hot logits), the
    # XML re-imports word-losslessly via import_alto_words. The oracle
    # recomputes the synth-logits frame layout in SQL (one frame per
    # char, continued frames at odd text positions, blank separators
    # between repeated chars — crossing spaces, like the synthesizer).
    from pero_ocr_spark.operators import layout
    from pero_ocr_spark.sources import pcgts

    src = layout.lines_with_geometry(spark, sf_dir).withColumn(
        "transcription",
        F.concat_ws(" ", "transcription", "transcription"),
    )
    words = pcgts.import_alto_words(pcgts.export_alto_layout(src))
    return words.select(
        "doc_id",
        "region_id",
        "region_order",
        "idx",
        "word_idx",
        "content",
        "hpos",
        "vpos",
        "width",
        "height",
        F.round("wc", 6).alias("wc"),
    )


# ---------------------------------------------------------------------------
# A1/A2/A3/J5 — error summary two-phase aggregation, confusion matrix,
# power-mean quality, hyp↔ref compare. Hypotheses are a deterministic
# corruption (a→x) of the reference spans so errors are non-trivial and
# SQL-reproducible.
# ---------------------------------------------------------------------------

_TEXT_LINES_SQL = f"""
{corpus.SPANS_CTE}
, extracted AS (
  SELECT doc_id, kind, text, media_ref,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_offset) - 1
              AS BIGINT) AS ord
  FROM spans
  WHERE kind = 'media'
     OR (kind = 'text' AND text <> '' AND text NOT IN ('the', 'a'))
)
, tlines AS (
  SELECT doc_id, 'l' || CAST(ord AS VARCHAR) AS line_id, ord,
         text AS ref, replace(text, 'a', 'x') AS hyp
  FROM extracted WHERE kind = 'text')
"""


def _pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import extract

    spans = corpus.extracted_spans(spark, sf_dir)
    return spans.filter(F.col("kind") == "text").select(
        "doc_id",
        F.concat(F.lit("l"), F.col("ord").cast("string")).alias("line_id"),
        "ord",
        F.col("text").alias("ref"),
        F.translate(F.col("text"), "a", "x").alias("hyp"),
    )


@register(
    "error_cer_summary",
    _TEXT_LINES_SQL
    + """
SELECT doc_id,
       CAST(sum(levenshtein(ref, hyp)) AS BIGINT) AS sum_dist,
       CAST(sum(levenshtein(ref, hyp)) AS BIGINT) AS sum_subs,
       CAST(0 AS BIGINT) AS sum_ins,
       CAST(0 AS BIGINT) AS sum_dels,
       CAST(sum(length(ref)) AS BIGINT) AS sum_ref_len,
       round(sum(levenshtein(ref, hyp)) * 1.0 / sum(length(ref)), 6) AS cer
FROM tlines GROUP BY doc_id
""",
)
def q_error_cer_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import errors

    stats = errors.line_edit_stats(_pairs_df(spark, sf_dir))
    return errors.cer_summary(stats, by="doc_id")


@register(
    "error_confusion_matrix",
    _TEXT_LINES_SQL
    + """
, chars AS (
  SELECT unnest(string_split(ref, '')) AS ref_char FROM tlines)
SELECT ref_char,
       CASE WHEN ref_char = 'a' THEN 'x' ELSE ref_char END AS hyp_char,
       CAST(count(*) AS BIGINT) AS n
FROM chars GROUP BY 1, 2
""",
)
def q_error_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import errors

    return errors.confusion_matrix(_pairs_df(spark, sf_dir))


@register(
    "quality_power_mean",
    """
    SELECT event_type,
           round(pow(avg(value * value), 0.5), 4) AS power_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q_quality_power_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import errors

    out = errors.power_mean_quality(
        _t(spark, sf_dir, "events"), "value", "event_type", p=2.0
    )
    return out.withColumn("power_mean", F.round("power_mean", 4))


@register(
    "hyp_ref_compare",
    _TEXT_LINES_SQL
    + """
SELECT coalesce(h.doc_id, r.doc_id) AS doc_id,
       coalesce(h.line_id, r.line_id) AS line_id,
       h.hyp IS NOT NULL AS in_hyp,
       r.ref IS NOT NULL AS in_ref,
       CASE WHEN h.hyp IS NOT NULL AND r.ref IS NOT NULL
            THEN levenshtein(h.hyp, r.ref) END AS dist
FROM (SELECT doc_id, line_id, hyp FROM tlines WHERE ord % 7 <> 2) h
FULL OUTER JOIN (SELECT doc_id, line_id, ref FROM tlines WHERE ord % 11 <> 3) r
  ON h.doc_id = r.doc_id AND h.line_id = r.line_id
""",
)
def q_hyp_ref_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import errors

    pairs = _pairs_df(spark, sf_dir)
    hyp = pairs.filter(F.col("ord") % 7 != 2).select(
        "doc_id", "line_id", F.col("hyp").alias("transcription")
    )
    ref = pairs.filter(F.col("ord") % 11 != 3).select(
        "doc_id", "line_id", F.col("ref").alias("transcription")
    )
    return errors.hyp_ref_compare(hyp, ref)


@register(
    "error_bleu_corpus",
    _TEXT_LINES_SQL
    + """
, btoks AS (
  SELECT doc_id,
         coalesce(list(CASE WHEN ord % 5 = 2 THEN replace(text, 'a', 'x')
                            ELSE text END ORDER BY ord)
                  FILTER (WHERE ord % 13 <> 6), []) AS hyp_toks,
         list(text ORDER BY ord) AS ref_toks
  FROM extracted WHERE kind = 'text' GROUP BY doc_id
)
, grams AS (
  SELECT doc_id, side, nv.n AS n,
         unnest([array_to_string(list_slice(toks, i, i + nv.n - 1), ' ')
                 for i in generate_series(1, len(toks) - nv.n + 1)]) AS gram
  FROM (SELECT doc_id, 'h' AS side, hyp_toks AS toks FROM btoks
        UNION ALL SELECT doc_id, 'r', ref_toks FROM btoks)
  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS n) nv
)
, gcounts AS (
  SELECT doc_id, n, gram,
         sum(CASE WHEN side = 'h' THEN 1 ELSE 0 END) AS hc,
         sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS rc
  FROM grams GROUP BY 1, 2, 3
)
, bclips AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n = 1 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip1,
         CAST(sum(CASE WHEN n = 2 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip2,
         CAST(sum(CASE WHEN n = 3 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip3,
         CAST(sum(CASE WHEN n = 4 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip4
  FROM gcounts WHERE hc > 0 GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(hyp_toks) AS BIGINT) AS hyp_len,
       CAST(len(ref_toks) AS BIGINT) AS ref_len,
       coalesce(clip1, 0) AS clip1, coalesce(clip2, 0) AS clip2,
       coalesce(clip3, 0) AS clip3, coalesce(clip4, 0) AS clip4,
       CASE WHEN len(hyp_toks) >= 4 AND coalesce(clip1, 0) > 0
              AND coalesce(clip2, 0) > 0 AND coalesce(clip3, 0) > 0
              AND coalesce(clip4, 0) > 0
            THEN round(exp(
                   least(0.0, 1.0 - CAST(len(ref_toks) AS DOUBLE) / len(hyp_toks))
                   + 0.25 * (((round(ln(clip1 * 1.0 / len(hyp_toks)), 9)
                               + round(ln(clip2 * 1.0 / (len(hyp_toks) - 1)), 9))
                              + round(ln(clip3 * 1.0 / (len(hyp_toks) - 2)), 9))
                             + round(ln(clip4 * 1.0 / (len(hyp_toks) - 3)), 9))), 6)
            ELSE 0.0 END AS bleu
FROM btoks b LEFT JOIN bclips USING (doc_id)
""",
)
def q_error_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus BLEU per document: hypothesis = the reading-ordered text
    # spans through a deterministic channel (every 13th span dropped —
    # exercising the brevity penalty — and every 5th a→x-corrupted —
    # breaking n-grams without flattening them; 43% of corpus words
    # contain 'a', so corrupting every word would zero all 4-gram
    # precisions and make the metric degenerate). The oracle replays
    # the channel, the clipped n-gram counts, and the 9-dp-rounded
    # fixed-order log sum in SQL.
    from pero_ocr_spark.operators import errors

    spans = corpus.extracted_spans(spark, sf_dir).filter(F.col("kind") == "text")
    docs = spans.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("ord") % 13 != 6,
                        F.struct(
                            F.col("ord"),
                            F.when(
                                F.col("ord") % 5 == 2,
                                F.translate("text", "a", "x"),
                            )
                            .otherwise(F.col("text"))
                            .alias("w"),
                        ),
                    )
                )
            ),
            lambda s: s["w"],
        ).alias("hyp_toks"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("ord"), F.col("text").alias("w")))
            ),
            lambda s: s["w"],
        ).alias("ref_toks"),
    )
    return errors.corpus_bleu(docs)


# ---------------------------------------------------------------------------
# J4 — merge_ocr_results over two engine outputs (union + argmax by
# confidence with deterministic tiebreak, merge_ocr_results.py:50-75).
# Engine A = clean reference (conf 1.0), engine B = corrupted (conf 0.5).
# ---------------------------------------------------------------------------


@register(
    "merge_ocr_engines",
    _TEXT_LINES_SQL
    + """
, unioned AS (
  SELECT doc_id, line_id, ref AS transcription, 1.0 AS confidence, 'engA' AS engine
  FROM tlines
  UNION ALL
  SELECT doc_id, line_id, hyp, 0.5, 'engB' FROM tlines)
SELECT doc_id, line_id, transcription, engine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id, line_id
    ORDER BY confidence DESC, engine) AS rn
  FROM unioned)
WHERE rn = 1
""",
)
def q_merge_ocr_engines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import merge

    pairs = _pairs_df(spark, sf_dir)
    eng_a = pairs.select(
        "doc_id",
        "line_id",
        F.col("ref").alias("transcription"),
        F.lit(1.0).alias("confidence"),
        F.lit("engA").alias("engine"),
    )
    eng_b = pairs.select(
        "doc_id",
        "line_id",
        F.col("hyp").alias("transcription"),
        F.lit(0.5).alias("confidence"),
        F.lit("engB").alias("engine"),
    )
    return merge.merge_ocr_results([eng_a, eng_b])


# ---------------------------------------------------------------------------
# R4 — transformer-style chunked decoding: long lines split into
# overlapping windows, each decoded independently, stitched back by
# largest-minimal-CER overlap. Exactness verified against the de-spaced
# source text; chunk counts are closed-form.
# ---------------------------------------------------------------------------


@register(
    "ctc_decode_chunked",
    """
    SELECT doc_id,
           replace(text, ' ', '') AS transcription,
           CAST(CASE WHEN length(replace(text, ' ', '')) <= 40 THEN 1
                ELSE (length(replace(text, ' ', '')) - 41) // 30 + 2
                END AS INTEGER) AS n_chunks
    FROM documents
    """,
)
def q_ctc_decode_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import ctc

    lines = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lit("l0").alias("line_id"),
        F.regexp_replace("text", " ", "").alias("text"),
    )
    return ctc.decode_chunked(lines, max_chars=40, overlap=10).select(
        "doc_id", "transcription", "n_chunks"
    )


# ---------------------------------------------------------------------------
# O1/O2 — deterministic reading-order window (layout_helpers.py:261-272,
# with the random tiebreak replaced by a stable key).
# ---------------------------------------------------------------------------


@register(
    "reading_order_window",
    """
    SELECT l_orderkey,
           l_linenumber,
           CAST(row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_shipdate, l_linenumber) - 1 AS BIGINT) AS ord
    FROM lineitem
    """,
)
def q_reading_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_shipdate", "l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.row_number().over(w) - 1).cast("long").alias("ord"),
    )


# ---------------------------------------------------------------------------
# J4 — multi-engine merge: best hypothesis per line by confidence with
# deterministic tiebreak (merge_ocr_results.py:50-75).
# ---------------------------------------------------------------------------


@register(
    "merge_best_hypothesis",
    """
    SELECT l_orderkey, l_linenumber AS best_line, l_extendedprice AS best_price
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem)
    WHERE rn = 1
    """,
)
def q_merge_best_hypothesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("best_line"),
            F.col("l_extendedprice").alias("best_price"),
        )
    )


# ---------------------------------------------------------------------------
# R13 — confidence filter as a Catalyst predicate (page_parser.py:510-513),
# plus an aggregation proving pushdown-friendly shape.
# ---------------------------------------------------------------------------


@register(
    "confidence_filter_agg",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars > 100 AND lang IN ('en', 'de')
    GROUP BY source
    """,
)
def q_confidence_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("n_chars") > 100) & F.col("lang").isin("en", "de"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# A1 — CER aggregation via built-in levenshtein (compare_page_xml_texts.py:
# 39-83): hyp/ref pairs joined by id, per-group error sums.
# ---------------------------------------------------------------------------


@register(
    "cer_aggregate",
    """
    SELECT a.lang,
           CAST(sum(levenshtein(a.text, b.text)) AS BIGINT) AS sum_dist,
           CAST(sum(length(b.text)) AS BIGINT) AS sum_ref_len,
           round(CAST(sum(levenshtein(a.text, b.text)) AS DOUBLE)
                 / sum(length(b.text)), 6) AS cer
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    GROUP BY a.lang
    """,
)
def q_cer_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id"), F.col("lang"), F.col("text").alias("hyp")
    )
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("ref"))
    return (
        a.join(b, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum(F.levenshtein("hyp", "ref")).cast("long").alias("sum_dist"),
            F.sum(F.length("ref")).cast("long").alias("sum_ref_len"),
            F.round(
                F.sum(F.levenshtein("hyp", "ref"))
                / F.sum(F.length("ref")).cast("double"),
                6,
            ).alias("cer"),
        )
    )


# ---------------------------------------------------------------------------
# O6/O8 — top-k per group with deterministic tiebreak (multisort.py:4-15 /
# bag_of_hypotheses.py:64-65 beam top-k analog).
# ---------------------------------------------------------------------------


@register(
    "topk_per_group",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem)
    WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rank")
    )


# ---------------------------------------------------------------------------
# A5/A6 — exact median (percentile) per group: line confidence = median of
# char confidences (core/layout.py:517-519).
# ---------------------------------------------------------------------------


@register(
    "median_per_group",
    """
    SELECT l_returnflag,
           round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS median_qty,
           round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4)
               AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)").cast("double"), 4).alias(
            "median_qty"
        ),
        F.round(F.expr("percentile(l_extendedprice, 0.5)").cast("double"), 4).alias(
            "median_price"
        ),
    )


# ---------------------------------------------------------------------------
# §2.8 resume — skip-processed anti-join (parse_folder.py:73-102,314-323):
# pending work = all docs minus completed lineage.
# ---------------------------------------------------------------------------


@register(
    "resume_anti_join",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS pending
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM orders c
      WHERE c.o_orderkey = o.o_orderkey AND c.o_orderkey % 10 < 7)
    GROUP BY o_orderstatus
    """,
)
def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    completed = orders.filter(F.col("o_orderkey") % 10 < 7).select("o_orderkey")
    return (
        orders.join(completed, "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("pending"))
    )


# ---------------------------------------------------------------------------
# A4 — decoding telemetry as df.observe metrics riding the extraction
# action (page_parser.py:147-156, decoding_itf.py:107-136): no separate
# count jobs; the observed values themselves are the query result.
# ---------------------------------------------------------------------------


@register(
    "telemetry_observe",
    _EXTRACTED_CTE
    + """
SELECT CAST(count(*) AS BIGINT) AS n_spans,
       CAST(coalesce(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_text,
       CAST(coalesce(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_media,
       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
       CAST(coalesce(max(ord), 0) AS BIGINT) AS max_ord
FROM extracted
""",
)
def q_telemetry_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import telemetry

    extracted = corpus.extracted_spans(spark, sf_dir)
    observed, obs = telemetry.observe_extraction(extracted)
    # the noop sink materializes every row (the real pipeline's write);
    # the metrics ride that action — zero extra jobs
    observed.write.format("noop").mode("overwrite").save()
    return spark.createDataFrame(
        [tuple(telemetry.extraction_counters(obs).values())],
        "n_spans long, n_text long, n_media long, n_chars long, max_ord long",
    )


# ---------------------------------------------------------------------------
# S9 — transcription sink round trip (transcription_io.py:1-10): write the
# '{doc_id}-l{ord} {text}' file, read it back, recover every field.
# ---------------------------------------------------------------------------


@register(
    "transcriptions_roundtrip",
    _EXTRACTED_CTE
    + """
SELECT doc_id, ord, text
FROM extracted WHERE kind = 'text'
""",
)
def q_transcriptions_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.sources import transcriptions

    extracted = corpus.extracted_spans(spark, sf_dir)
    path = _scratch("transcriptions") + "/txt"
    transcriptions.write_transcriptions(extracted, path)
    back = transcriptions.read_transcriptions(spark, path)
    key = r"^(\d+)-l(\d+)$"
    return back.select(
        F.regexp_extract("line_key", key, 1).cast("long").alias("doc_id"),
        F.regexp_extract("line_key", key, 2).cast("long").alias("ord"),
        "text",
    )


# ---------------------------------------------------------------------------
# S8 — line-crop sink round trip (parse_folder.py:189-199 JPEG-per-line /
# :118-137 LMDB → bucket-partitioned parquet): warp the crops (geometry
# only — pixel content is pytest-verified), sink, read back.
# ---------------------------------------------------------------------------


@register(
    "line_crop_sink",
    _LINES_CTE
    + """
SELECT doc_id, line_id,
       CAST(doc_id % 16 AS BIGINT) AS bucket,
       CAST(32 AS BIGINT) AS crop_h,
       CAST(floor((x1 - x0 - 1) * (32.0 / 14.0)) AS BIGINT) AS crop_w
FROM lines WHERE ord < 60
""",
)
def q_line_crop_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import layout, linedet
    from pero_ocr_spark.sources import images

    lines = layout.lines_table(spark, sf_dir).filter(F.col("ord") < 60)
    crops = linedet.render_crop_lines(lines, with_pixels=False).select(
        "doc_id", "line_id", "crop_h", "crop_w"
    )
    out = _scratch("line_crops")
    images.write_line_crops(crops, out, n_buckets=16)
    return images.read_line_crops(spark, out).select(
        "doc_id",
        "line_id",
        F.col("bucket").cast("long").alias("bucket"),
        "crop_h",
        "crop_w",
    )


# ---------------------------------------------------------------------------
# §2.8 — checkpointed lineage + resume as a driver query: write the
# extracted spans shard by shard, simulate a resumed run that crashed
# after its data commit but before its manifest append (shards 0 and 1
# written but unrecorded, shard 0's files lost), write again, and check
# the table holds every span exactly once.
# ---------------------------------------------------------------------------


@register(
    "lineage_resume",
    _EXTRACTED_CTE
    + """
SELECT CAST(16 AS BIGINT) AS n_buckets,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM extracted
""",
)
def q_lineage_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pero_ocr_spark.operators import lineage

    # fresh-emptied fixed path: the first write starts from no manifest
    out = _scratch("lineage")
    done = f"{out}/_shards_done"
    spans = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    lineage.write_shards(spans, out, n_shards=16)
    # the second write skips the 14 recorded shards, restores shard 0
    # and overwrites shard 1 in place
    kept = spark.read.parquet(done).filter(F.col("shard") >= 2)
    rows, schema = kept.collect(), kept.schema
    shutil.rmtree(done)
    spark.createDataFrame(rows, schema).write.parquet(done)
    shutil.rmtree(f"{out}/shard=0")
    lineage.write_shards(spans, out, n_shards=16)
    manifest = spark.read.parquet(done).agg(
        F.count("*").cast("long").alias("n_buckets")
    )
    return manifest.crossJoin(
        spark.read.parquet(out).agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# R18 — Arabic shaping + visual reorder at driver level. Registered
# here without SQL; a GENERATED DuckDB oracle is attached further down
# (see _rtl_oracle_sql — the joining decisions are positionally local
# and the reorder degenerates to reversal on all-Arabic lines). The
# kernel also matches the executed reference on all 13 of its fixtures
# (tests/test_arabic_lm.py).
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Flagship end-to-end PageParser chain (page_parser.py:468-516 whole-page
# flow): ONE query running layout detection over rendered page rasters
# (fused render+detect), geometry→line attachment, batched CTC recognition
# (synth logits + greedy decode in one Arrow stage — the net-inference
# gate), and band reading order into an ordered span sequence.
# ---------------------------------------------------------------------------


@register(
    "ocr_pipeline_e2e",
    _LINES_CTE
    + """
, page AS (
  -- detection sees one baseline per (region, y): split halves merge
  SELECT DISTINCT doc_id, ord, ord % 2 AS col, y FROM lines WHERE ord < 60)
SELECT p.doc_id,
       'text' AS kind,
       e.text,
       CAST(row_number() OVER (
         PARTITION BY p.doc_id ORDER BY p.col, p.y) - 1 AS BIGINT) AS ord
FROM page p
JOIN extracted e
  ON p.doc_id = e.doc_id AND p.ord = e.ord AND e.kind = 'text'
""",
)
def q_ocr_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import ctc, layout, linedet

    lines = layout.lines_table(spark, sf_dir).filter(F.col("ord") < 60)
    # 1. layout: fused render+detect — projection-profile baselines off
    #    the page raster, one Arrow stage, no bitmap shuffle
    detected = linedet.render_detect_lines(lines, downsample=2)
    # 2. detected geometry → source line: the page grid is deterministic
    #    (y = row*30+20, col = region index), so each detected baseline
    #    addresses exactly one span ord. A real deployment recognizes
    #    the crop pixels here; with nets gated, the ground-truth text at
    #    that geometry feeds the logit synthesis inside the recognizer.
    keyed = detected.select(
        "doc_id",
        (
            F.round((F.col("y") - 20) / 30.0, 0).cast("long") * 2
            + F.substring("region_id", 2, 10).cast("long")
        ).alias("ord"),
        "y",
    )
    texts = (
        corpus.extracted_spans(spark, sf_dir)
        .filter(F.col("kind") == "text")
        .select("doc_id", "ord", "text")
    )
    attached = keyed.join(texts, ["doc_id", "ord"])
    # 3. recognition: length-packed batched synth+greedy-decode, one
    #    mapInPandas stage (R2/R3); transcription == ground truth
    rec = ctc.recognize_lines(
        attached.select(
            "doc_id",
            F.concat(F.lit("l"), F.col("ord")).alias("line_id"),
            "text",
        )
    )
    # 4. reading order: band order (column-major — all of r0 top-down,
    #    then r1), recovered from the line id's grid position
    o = F.substring("line_id", 2, 10).cast("long")
    w = Window.partitionBy("doc_id").orderBy(o % 2, F.floor(o / 2))
    return rec.select(
        "doc_id",
        F.lit("text").alias("kind"),
        F.col("transcription").alias("text"),
        (F.row_number().over(w) - 1).cast("long").alias("ord"),
    )


@register("rtl_visual_form", None)
def q_rtl_visual_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import rtl

    latin = "abcdefghijklmnopqrstuvwxyz"
    arabic = "ابتثجحخدذر" \
        "زسشصضطظعغف" \
        "قكلمنه"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.translate(F.lower("text"), latin, arabic).alias("text")
    )
    return rtl.arabic_visual_form(docs, "text")


@register(
    "merge_engine_agreement",
    _EVAL_SCORED_CTE
    + """
, v AS (SELECT prob >= 0.5 AS a, label AS b FROM scored)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
         AS n00,
       round((sum(CASE WHEN a = b THEN 1 ELSE 0 END)) * 1.0 / count(*), 6)
         AS p_observed,
       round((sum(CASE WHEN a THEN 1 ELSE 0 END) * 1.0 / count(*))
             * (sum(CASE WHEN b THEN 1 ELSE 0 END) * 1.0 / count(*))
             + (1 - sum(CASE WHEN a THEN 1 ELSE 0 END) * 1.0 / count(*))
             * (1 - sum(CASE WHEN b THEN 1 ELSE 0 END) * 1.0 / count(*)), 6)
         AS p_expected,
       round(((sum(CASE WHEN a = b THEN 1 ELSE 0 END)) * 1.0 / count(*)
              - ((sum(CASE WHEN a THEN 1 ELSE 0 END) * 1.0 / count(*))
                 * (sum(CASE WHEN b THEN 1 ELSE 0 END) * 1.0 / count(*))
                 + (1 - sum(CASE WHEN a THEN 1 ELSE 0 END) * 1.0 / count(*))
                 * (1 - sum(CASE WHEN b THEN 1 ELSE 0 END) * 1.0
                    / count(*))))
             / (1 - ((sum(CASE WHEN a THEN 1 ELSE 0 END) * 1.0 / count(*))
                 * (sum(CASE WHEN b THEN 1 ELSE 0 END) * 1.0 / count(*))
                 + (1 - sum(CASE WHEN a THEN 1 ELSE 0 END) * 1.0 / count(*))
                 * (1 - sum(CASE WHEN b THEN 1 ELSE 0 END) * 1.0
                    / count(*)))), 6) AS kappa
FROM v
""",
)
def q_merge_engine_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohen's kappa between the model gate and the heuristic gate —
    # chance-corrected agreement between two document filters. Both
    # verdicts are computed in the same row; one global aggregate,
    # zero joins beyond the shared scored frame.
    from pero_ocr_spark.operators import evaluate

    scored = _eval_scored(spark, sf_dir).select(
        (F.col("prob") >= 0.5).alias("model_keep"), "label"
    )
    return evaluate.rater_kappa(scored, "model_keep", "label")


@register(
    "curation_pipeline_e2e",
    f"""
WITH cs AS (
  SELECT doc_id, string_split(text, '') AS c FROM documents
  WHERE len(text) >= 2),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(c) - 1),
                i -> c[i] || c[i+1])) AS bigram
  FROM cs),
c2 AS (SELECT bigram, count(*) AS n2 FROM g GROUP BY 1),
c1 AS (SELECT substr(bigram, 1, 1) AS ctx, sum(n2) AS n1 FROM c2 GROUP BY 1),
v AS (SELECT count(DISTINCT ch) AS vsize
      FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)),
lp AS (
  SELECT g.doc_id,
         round(avg(ln((c2.n2 + 1.0) / (c1.n1 + v.vsize))), 6) AS avg_logprob
  FROM g JOIN c2 USING (bigram)
  JOIN c1 ON substr(g.bigram, 1, 1) = c1.ctx
  CROSS JOIN v GROUP BY g.doc_id),
clf AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-4.0 *
           list_sum(list_transform(string_split(text, ' '),
             w -> ({_DUCK_POLY.format(col="w")} % 4096 * 2654435761) % 9973
                  / 9973.0 - 0.5))
           / len(string_split(text, ' ')))), 6) AS quality_prob
  FROM documents),
firsts AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1 AS is_first
  FROM documents),
kept AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS ws
  FROM documents d
  JOIN lp USING (doc_id) JOIN clf USING (doc_id) JOIN firsts USING (doc_id)
  WHERE lp.avg_logprob >= -1.72 AND clf.quality_prob >= 0.5 AND firsts.is_first),
chunks AS (
  SELECT doc_id, ws,
         CAST(unnest(generate_series(0,
              greatest(0, CAST(ceil((len(ws) - 64)*1.0/56) AS BIGINT))))
           AS BIGINT) AS chunk_id
  FROM kept)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(ws, chunk_id*56+1, chunk_id*56+64)) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(ws, chunk_id*56+1, chunk_id*56+64), ' ')
         AS chunk_text
FROM chunks
""",
)
def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full curation chain in ONE Catalyst plan: model-quality gate
    # (zero-shuffle classifier) AND LM-perplexity gate AND exact-dedup
    # first-occurrence gate, then context-window chunking of survivors
    # — composing operators composes plans; the optimizer sees it all
    from pero_ocr_spark.operators import dedup, textstats

    docs = _t(spark, sf_dir, "documents")
    clf = textstats.quality_classifier_scores(docs, threshold=0.5)
    lp = textstats.lm_perplexity_scores(docs, keep_threshold=-1.72)
    w = Window.partitionBy("text").orderBy("doc_id")
    firsts = docs.select(
        "doc_id", (F.row_number().over(w) == 1).alias("is_first")
    )
    kept = (
        docs.join(clf.filter("keep").select("doc_id"), "doc_id")
        .join(lp.filter("keep").select("doc_id"), "doc_id")
        .join(firsts.filter("is_first").select("doc_id"), "doc_id")
        .select("doc_id", "text")
    )
    return textstats.chunk_documents(kept, max_tokens=64, overlap=8)


# ---------------------------------------------------------------------------
# RTL shaping oracle: the contextual-joining decisions are POSITIONALLY
# LOCAL (prev_joins(i) == joins_forward(c[i-1]) AND joins_backward(c[i]);
# ligature membership depends only on the adjacent char, and an alef never
# joins forward so post-ligature state collapses to the same local rule),
# and on an all-Arabic+spaces line the reference reorder degenerates to
# full string reversal — so R18 is SQL-expressible after all. The form
# tables are public Unicode data interpolated from functions/arabic.py.
# ---------------------------------------------------------------------------

def _rtl_oracle_sql() -> str:
    from pero_ocr_spark.functions import arabic as _ar

    def b(x: bool) -> str:
        return "TRUE" if x else "FALSE"

    rows = ",\n    ".join(
        f"('{base}','{iso}','{fin}','{ini}','{med}',"
        f"{b(bool(ini or med))},{b(bool(fin or med))})"
        for base, (iso, fin, ini, med) in _ar.FORMS.items()
    )
    ligs = ",".join(
        f"('{alef}','{iso}','{fin}')"
        for alef, (iso, fin) in _ar.LIGATURES.items()
    )
    alefs = ",".join(f"'{a}'" for a in _ar.LIGATURES)
    latin = "abcdefghijklmnopqrstuvwxyz"
    ar = "ابتثجحخدذرزسشصضطظعغفقكلمنه"
    return f"""
WITH f(base, iso, fin, ini, med, jf, jb) AS (VALUES
    {rows}),
lig(alef, liso, lfin) AS (VALUES {ligs}),
t AS (
  SELECT doc_id,
         string_split(translate(lower(text), '{latin}', '{ar}'), '') AS cs
  FROM documents),
pos AS (
  SELECT doc_id, cs,
         CAST(unnest(generate_series(1, len(cs))) AS INT) AS i
  FROM t),
ch AS (
  SELECT doc_id, i, cs[i] AS cur,
         CASE WHEN i > 1 THEN cs[i-1] ELSE '' END AS prv,
         CASE WHEN i < len(cs) THEN cs[i+1] ELSE '' END AS nxt
  FROM pos),
sel AS (
  SELECT ch.doc_id, ch.i,
    CASE
      WHEN ch.cur IN ({alefs}) AND ch.prv = '{_ar.LAM}' THEN NULL
      WHEN ch.cur = '{_ar.LAM}' AND ch.nxt IN ({alefs}) THEN
        CASE WHEN coalesce(fp.jf, FALSE) THEN lg.lfin ELSE lg.liso END
      WHEN fc.base IS NULL THEN ch.cur
      ELSE CASE
        WHEN coalesce(fp.jf, FALSE) AND fc.jb
             AND fc.jf AND coalesce(fn.jb, FALSE)
          THEN coalesce(nullif(fc.med, ''), fc.iso)
        WHEN coalesce(fp.jf, FALSE) AND fc.jb
          THEN coalesce(nullif(fc.fin, ''), fc.iso)
        WHEN fc.jf AND coalesce(fn.jb, FALSE)
          THEN coalesce(nullif(fc.ini, ''), fc.iso)
        ELSE fc.iso END
    END AS glyph
  FROM ch
  LEFT JOIN f fc ON ch.cur = fc.base
  LEFT JOIN f fp ON ch.prv = fp.base
  LEFT JOIN f fn ON ch.nxt = fn.base
  LEFT JOIN lig lg ON ch.nxt = lg.alef)
SELECT doc_id, string_agg(glyph, '' ORDER BY i DESC) AS text
FROM sel WHERE glyph IS NOT NULL
GROUP BY doc_id
"""


_REGISTRY["rtl_visual_form"] = (_REGISTRY["rtl_visual_form"][0], _rtl_oracle_sql())


@register(
    "pdf_roundtrip",
    _EXTRACTED_CTE
    + """
SELECT doc_id, ord, kind, text, media_ref FROM extracted
""",
)
def q_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S11: extracted spans -> one searchable PDF per document (stdlib
    # byte-accurate writer: invisible Courier text layer in render mode
    # 3 with the reference's fit/stretch math in closed form, media as
    # embedded image XObjects tagged /Figure ActualText; emission order
    # scrambled within each page) -> content-stream parser that
    # reconstructs the span sequence from glyph GEOMETRY. The oracle is
    # the extraction CTE itself: span-sequence equality
    # (kind, text, media_ref, order) straight through PDF bytes.
    # Ref semantics: document_ocr/pdf_production.py:99-145 (PDFWriter),
    # with the read path the reference lacks.
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract
    from pero_ocr_spark.sources import pdf

    spans = corpus.extracted_spans(spark, sf_dir)
    return pdf.parse_pdf_spans(pdf.render_pdfs(spans))




# ---------------------------------------------------------------------------
# Writer-adaptation embedding selection (ref user_scripts/
# select_embed_id.py:44-130): k-means representatives over the
# embedding table, per-representative variant recognition of a
# transcribed sample, adopt the id with minimal CER. The variant
# channel is the deterministic per-(id, doc, position) character-drop
# rule documented on evaluate.select_embed_id; decode(synth(s)) == s
# is pinned by the CTC suite, so the oracle models the channel + CER
# arithmetic directly.
# ---------------------------------------------------------------------------

def _embed_select_oracle() -> str:
    from pero_ocr_spark.queries._ctes import _kmeans_cte

    kmeans_body = _kmeans_cte().strip()[len("WITH"):]
    return f"""
{_EXTRACTED_CTE}
, {kmeans_body}
, reps AS (SELECT min(vec_id) AS embed_id FROM a2 GROUP BY cell)
, sample AS (
  SELECT doc_id, ord, text FROM extracted
  WHERE kind = 'text' AND (doc_id*69069 + 12345) % 2147483647 % 4 = 1)
, pos AS (
  SELECT r.embed_id, s.doc_id, s.ord, s.text,
         CAST(unnest(generate_series(1, length(s.text))) AS BIGINT) AS i
  FROM sample s CROSS JOIN reps r)
-- the drop-filter rides INSIDE the aggregate as a CASE (dropped
-- chars contribute ''): DuckDB 1.0's binder raises an internal
-- error when a second unnest alias (spans CTE already unnests) is
-- referenced in a downstream WHERE, but aggregate expressions bind
-- fine
, flagged AS (
  SELECT embed_id, doc_id, ord, i,
         substr(text, CAST(i AS INT), 1) AS ch,
         ((i + embed_id*69069 + doc_id*31) % 2147483647)
           % (5 + ((embed_id*40503 + 7) % 2147483647) % 11) AS drop_key
  FROM pos)
, corr AS (
  SELECT embed_id, doc_id, ord,
         string_agg(CASE WHEN drop_key <> 0 THEN ch ELSE '' END,
                    '' ORDER BY i) AS corrupted
  FROM flagged GROUP BY embed_id, doc_id, ord)
, scored AS (
  SELECT p.embed_id,
         levenshtein(p.text, coalesce(c.corrupted, '')) AS lev,
         length(p.text) AS n
  FROM (SELECT DISTINCT embed_id, doc_id, ord, text FROM pos) p
  LEFT JOIN corr c
    ON p.embed_id = c.embed_id AND p.doc_id = c.doc_id AND p.ord = c.ord)
, agg AS (
  SELECT embed_id, CAST(sum(lev) AS BIGINT) AS char_errors,
         CAST(sum(n) AS BIGINT) AS char_total
  FROM scored GROUP BY embed_id)
SELECT embed_id, char_errors, char_total,
       round(char_errors * 1.0 / char_total, 6) AS cer,
       row_number() OVER (ORDER BY char_errors, embed_id) = 1 AS selected
FROM agg
"""


@register("ocr_select_embed_id", None)
def q_ocr_select_embed_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import evaluate, sampling

    spans = corpus.extracted_spans(spark, sf_dir)
    sample = spans.filter(
        (F.col("kind") == "text") & (sampling._residue(4) == 1)
    ).select("doc_id", "ord", "text")
    return evaluate.select_embed_id(
        sample, _t(spark, sf_dir, "embeddings"), k=8, iters=3
    )


_REGISTRY["ocr_select_embed_id"] = (
    _REGISTRY["ocr_select_embed_id"][0], _embed_select_oracle()
)


_CHRF_ORACLE = (
    _EXTRACTED_CTE
    + """
, cstr AS (
  SELECT doc_id,
         coalesce(array_to_string(
           list(CASE WHEN ord % 5 = 2 THEN replace(text, 'a', 'x')
                     ELSE text END ORDER BY ord)
           FILTER (WHERE ord % 13 <> 6), ''), '') AS hyp_str,
         array_to_string(list(text ORDER BY ord), '') AS ref_str
  FROM extracted WHERE kind = 'text' GROUP BY doc_id)
, grams AS (
  SELECT doc_id, side, nv.n AS n,
         unnest([substr(s, i, nv.n)
                 for i in generate_series(1, len(s) - nv.n + 1)]) AS gram
  FROM (SELECT doc_id, 'h' AS side, hyp_str AS s FROM cstr
        UNION ALL SELECT doc_id, 'r', ref_str FROM cstr)
  CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) nv)
, gcounts AS (
  SELECT doc_id, n, gram,
         sum(CASE WHEN side = 'h' THEN 1 ELSE 0 END) AS hc,
         sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS rc
  FROM grams GROUP BY 1, 2, 3)
, cclips AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n = 1 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip1,
         CAST(sum(CASE WHEN n = 2 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip2,
         CAST(sum(CASE WHEN n = 3 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip3,
         CAST(sum(CASE WHEN n = 4 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip4,
         CAST(sum(CASE WHEN n = 5 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip5,
         CAST(sum(CASE WHEN n = 6 THEN least(hc, rc) ELSE 0 END) AS BIGINT) AS clip6
  FROM gcounts WHERE hc > 0 AND rc > 0 GROUP BY doc_id)
, pr AS (
  SELECT c.doc_id,
         CAST(len(hyp_str) AS BIGINT) AS hyp_len,
         CAST(len(ref_str) AS BIGINT) AS ref_len,
         (CASE WHEN len(hyp_str) >= 1 THEN round(CAST(coalesce(clip1, 0) AS DOUBLE) / len(hyp_str), 9) ELSE 0.0 END
        + CASE WHEN len(hyp_str) >= 2 THEN round(CAST(coalesce(clip2, 0) AS DOUBLE) / (len(hyp_str) - 1), 9) ELSE 0.0 END
        + CASE WHEN len(hyp_str) >= 3 THEN round(CAST(coalesce(clip3, 0) AS DOUBLE) / (len(hyp_str) - 2), 9) ELSE 0.0 END
        + CASE WHEN len(hyp_str) >= 4 THEN round(CAST(coalesce(clip4, 0) AS DOUBLE) / (len(hyp_str) - 3), 9) ELSE 0.0 END
        + CASE WHEN len(hyp_str) >= 5 THEN round(CAST(coalesce(clip5, 0) AS DOUBLE) / (len(hyp_str) - 4), 9) ELSE 0.0 END
        + CASE WHEN len(hyp_str) >= 6 THEN round(CAST(coalesce(clip6, 0) AS DOUBLE) / (len(hyp_str) - 5), 9) ELSE 0.0 END
         ) / 6.0 AS p,
         (CASE WHEN len(ref_str) >= 1 THEN round(CAST(coalesce(clip1, 0) AS DOUBLE) / len(ref_str), 9) ELSE 0.0 END
        + CASE WHEN len(ref_str) >= 2 THEN round(CAST(coalesce(clip2, 0) AS DOUBLE) / (len(ref_str) - 1), 9) ELSE 0.0 END
        + CASE WHEN len(ref_str) >= 3 THEN round(CAST(coalesce(clip3, 0) AS DOUBLE) / (len(ref_str) - 2), 9) ELSE 0.0 END
        + CASE WHEN len(ref_str) >= 4 THEN round(CAST(coalesce(clip4, 0) AS DOUBLE) / (len(ref_str) - 3), 9) ELSE 0.0 END
        + CASE WHEN len(ref_str) >= 5 THEN round(CAST(coalesce(clip5, 0) AS DOUBLE) / (len(ref_str) - 4), 9) ELSE 0.0 END
        + CASE WHEN len(ref_str) >= 6 THEN round(CAST(coalesce(clip6, 0) AS DOUBLE) / (len(ref_str) - 5), 9) ELSE 0.0 END
         ) / 6.0 AS r
  FROM cstr c LEFT JOIN cclips USING (doc_id))
SELECT doc_id, hyp_len, ref_len,
       round(p, 6) AS chrp, round(r, 6) AS chrr,
       CASE WHEN CAST(4.0 AS DOUBLE) * p + r > 0
            THEN round((CAST(5.0 AS DOUBLE) * p * r)
                       / (CAST(4.0 AS DOUBLE) * p + r), 6)
            ELSE 0.0 END AS chrf
FROM pr
"""
)


@register("error_chrf_corpus", _CHRF_ORACLE)
def q_error_chrf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chrF (Popović 2015) per document over the SAME corruption channel
    # as error_bleu_corpus, but on whitespace-free character sequences:
    # the tokenization-free sequence metric, the right grain for OCR
    # (a one-char slip costs one gram family, not a whole word).
    from pero_ocr_spark.operators import errors

    spans = corpus.extracted_spans(spark, sf_dir).filter(F.col("kind") == "text")
    docs = spans.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("ord") % 13 != 6,
                            F.struct(
                                F.col("ord"),
                                F.when(
                                    F.col("ord") % 5 == 2,
                                    F.translate("text", "a", "x"),
                                )
                                .otherwise(F.col("text"))
                                .alias("w"),
                            ),
                        )
                    )
                ),
                lambda s: s["w"],
            ),
            "",
        ).alias("hyp_str"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("ord"), F.col("text").alias("w")))
                ),
                lambda s: s["w"],
            ),
            "",
        ).alias("ref_str"),
    )
    return errors.corpus_chrf(docs)
