"""Main-content extraction pipeline over interleaved span documents.

The Spark-native analog of pero-ocr's page-processing chain
(``document_ocr/page_parser.py:515-531``): classify → strip
boilerplate → restore reading order → emit ordered spans. Every stage
is a pure ``DataFrame -> DataFrame`` function built ONLY from Catalyst
expressions (filters, CASE, window row_number) — no Python UDFs — so
predicate pushdown, column pruning, and whole-stage codegen all apply.

Scale notes (100 TB / 1000 executors):
  * ``explode`` multiplies rows ~90-5800x per doc (the page→lines
    explode, R1 in SURVEY §2.6); it is pipelined inside the scan stage
    — no shuffle.
  * The only shuffle is the window's hash partition on ``doc_id``.
    Doc skew (64x span-count outliers) stays bounded because a single
    doc is at most ~6k spans; AQE skew-join/coalesce handles partition
    imbalance. For pathological multi-GB docs one would pre-salt by
    ``(doc_id, offset_bucket)`` and re-merge — see
    operators/lineage.py for the weight-aware repartitioner.
  * ``row_number`` over (doc_id, offset) is deterministic: offset is a
    unique source position per doc (the reference's random tiebreak at
    ``layout_engines/layout_helpers.py:267`` is replaced by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Content-level boilerplate heuristics (the DOM-heuristics analog of
# north_rule): structural kinds that never carry main content, and
# stop-tokens treated as furniture.
BOILERPLATE_KINDS = ("boilerplate", "nav", "header", "footer", "cookie")
BOILERPLATE_WORDS = ("the", "a")


def explode_spans(doc_spans: DataFrame) -> DataFrame:
    """Nested (doc_id, spans) → one row per span.

    The UDTF-analog explode (1 page → N lines, reference
    ``document_ocr/page_parser.py:376-403``), done with the built-in
    generator so it stays inside codegen.

    ``explode_outer`` (not ``explode``) on purpose: plain explode adds
    an implicit ``size(spans) > 0 AND isnotnull(spans)`` filter that
    Catalyst pushes below the repartition exchange, re-evaluating the
    span-synthesis expression twice in the (narrow) scan stage. Outer
    explode has no implicit filter; empty/null docs yield one null
    span row that the downstream kind filter drops.
    """
    return doc_spans.select(
        "doc_id",
        F.explode_outer("spans").alias("span"),
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def classify_spans(flat: DataFrame) -> DataFrame:
    """Normalize raw span kinds with content heuristics.

    Raw feeds may tag furniture as nav/header/cookie, or leave it as
    'text'; both collapse to 'boilerplate'. Pure CASE expression.
    """
    is_boiler_kind = F.col("kind").isin(*BOILERPLATE_KINDS)
    is_stop_text = (F.col("kind") == "text") & F.col("text").isin(*BOILERPLATE_WORDS)
    return flat.withColumn(
        "kind",
        F.when(is_boiler_kind | is_stop_text, F.lit("boilerplate")).otherwise(
            F.col("kind")
        ),
    )


def strip_boilerplate(flat: DataFrame) -> DataFrame:
    """Drop boilerplate and empty text spans.

    The confidence/empty-line filter analog
    (``page_parser.py:510-513`` + empty-region drop ``:333``), as a
    Catalyst-visible predicate so it pushes into the scan when the
    classify CASE allows.
    """
    return flat.filter(
        (F.col("kind") == "media")
        | ((F.col("kind") == "text") & (F.col("text") != ""))
    )


def assign_reading_order(flat: DataFrame) -> DataFrame:
    """Dense 0-based reading order per document.

    Analog of reading-order materialization on export
    (``core/layout.py:653-663`` region order × ``TextLine.index``).
    One hash-shuffle on doc_id; deterministic (offset unique per doc).
    """
    w = Window.partitionBy("doc_id").orderBy("offset")
    return flat.withColumn("ord", (F.row_number().over(w) - 1).cast("long"))


def extract_spans(doc_spans: DataFrame) -> DataFrame:
    """Full extraction: nested docs → ordered clean span sequences.

    Output columns: doc_id, kind, text, media_ref, ord. The
    per-document sequence (kind, text, media_ref, ord) is the
    oracle-equality unit.
    """
    flat = explode_spans(doc_spans)
    flat = classify_spans(flat)
    flat = strip_boilerplate(flat)
    flat = assign_reading_order(flat)
    return flat.select("doc_id", "kind", "text", "media_ref", "ord")


def render_training_text(spans: DataFrame, media_token: str = "<|image|>") -> DataFrame:
    """Extracted spans → model-ready interleaved training text: text
    spans contribute their content, media spans a sentinel token, all
    in reading order — the final serialization step between the
    extraction pipeline and a tokenizer.

    Output: (doc_id, train_text, n_text_spans, n_media_spans). One
    hash aggregation on doc_id (map-side combinable: collect_list of
    small structs); if upstream already partitioned by doc_id (it did
    — the reading-order window) the exchange is reused, so this adds
    ZERO shuffles to the flagship plan.
    """
    piece = F.when(
        F.col("kind") == "media", F.lit(media_token)
    ).otherwise(F.col("text"))
    return spans.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("ord"), piece.alias("piece")))
                ),
                lambda s: s["piece"],
            ),
            " ",
        ).alias("train_text"),
        F.sum((F.col("kind") == "text").cast("long")).alias("n_text_spans"),
        F.sum((F.col("kind") == "media").cast("long")).alias("n_media_spans"),
    )
