"""Main-content extraction pipeline over interleaved span documents.

The Spark-native analog of pero-ocr's page-processing chain
(``document_ocr/page_parser.py:515-531``): classify → strip
boilerplate → restore reading order → emit ordered spans. Built ONLY
from Catalyst expressions (one array filter, one ``sort_array``,
``posexplode``) — no Python UDFs — so column pruning and whole-stage
codegen apply around the in-row array work.

Scale notes (100 TB / 1000 executors):
  * One nested row is one document, so every step runs inside the
    row: the filter and the reading-order sort touch only that
    document's spans, and the sort is bounded by its span count (at
    most ~6k, the 64x outliers). Extraction adds no shuffle and sorts
    no rows; partitioning is the caller's (``corpus.spans_table``
    hash-partitions the documents before span synthesis).
  * ``posexplode`` multiplies rows ~90-5800x per doc (the page→lines
    explode, R1 in SURVEY §2.6); it is pipelined in the same stage.
  * The order is deterministic: ``sort_array`` of (offset, span)
    structs puts null offsets first and breaks ties on the span
    itself (the reference's random tiebreak at
    ``layout_engines/layout_helpers.py:267`` is replaced by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Stop-tokens treated as furniture (the DOM-heuristics analog of
# north_rule): text spans holding only one of them are dropped.
BOILERPLATE_WORDS = ("the", "a")


def extract_spans(doc_spans: DataFrame) -> DataFrame:
    """Full extraction: nested docs → ordered clean span sequences.

    Keeps media spans and non-empty text spans that are not a stop
    word (the confidence/empty-line filter analog,
    ``page_parser.py:510-513`` + ``:333``); every other kind is
    boilerplate. ``ord`` is the dense 0-based position of the span in
    offset order within its row (reading-order materialization on
    export, ``core/layout.py:653-663``).

    Output columns: doc_id, kind, text, media_ref, ord. The
    per-document sequence (kind, text, media_ref, ord) is the
    oracle-equality unit.
    """
    kept = doc_spans.select(
        "doc_id",
        F.filter(
            "spans",
            lambda s: (s["kind"] == "media")
            | (
                (s["kind"] == "text")
                & (s["text"] != "")
                & ~s["text"].isin(*BOILERPLATE_WORDS)
            ),
        ).alias("kept"),
    )
    # posexplode's argument must stay an expression, not a column: over
    # a bare array column Catalyst infers a size(...) > 0 filter that it
    # pushes below the projection, evaluating the span chain twice
    ordered = F.sort_array(F.arrays_zip(F.col("kept.offset"), F.col("kept")))
    return kept.select(
        "doc_id", F.posexplode(ordered.getField("kept")).alias("ord", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("ord").cast("long").alias("ord"),
    )


def render_training_text(spans: DataFrame, media_token: str = "<|image|>") -> DataFrame:
    """Extracted spans → model-ready interleaved training text: text
    spans contribute their content, media spans a sentinel token, all
    in reading order — the final serialization step between the
    extraction pipeline and a tokenizer.

    Output: (doc_id, train_text, n_text_spans, n_media_spans). One
    hash aggregation on doc_id (map-side combinable: collect_list of
    small structs); if upstream is already hash-partitioned by doc_id
    (it is — ``corpus.spans_table``'s documents repartition, which
    extraction keeps, cached or not) the exchange is reused, so this
    adds ZERO shuffles to the flagship plan.
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
