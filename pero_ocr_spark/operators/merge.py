"""Multi-engine result merging (J4).

The reference zips K page layouts by line id and keeps the
max-confidence transcription per line
(``user_scripts/merge_ocr_results.py:50-75``). Relationally: UNION ALL
the K engine outputs, then argmax per (doc, line) by (confidence,
engine-name) — the engine-name tiebreak replaces nondeterministic
dict-order behavior.

Scale: one shuffle on (doc_id, line_id); K is small so the union is
cheap. Implemented as a declarative argmax (``min_by`` over the
ordering struct) rather than sort + row_number, so Catalyst does
map-side PARTIAL aggregation — each task pre-reduces its K candidate
rows per line before the shuffle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_ocr_results(engines: list[DataFrame]) -> DataFrame:
    """Each input needs columns: doc_id, line_id, transcription,
    confidence, engine. Returns the best row per line: max confidence,
    ties broken by engine name ascending (min_by over the struct
    (-confidence, engine) — lexicographic struct order gives exactly
    that, and unlike row_number it partial-aggregates map-side)."""
    unioned = reduce(DataFrame.unionByName, engines)
    # leading null flag: struct comparison would otherwise sort a NULL
    # -confidence FIRST, letting a missing confidence beat every real
    # one (row_number over confidence.desc() ranked nulls last)
    best = F.min_by(
        F.struct("transcription", "engine"),
        F.struct(
            F.col("confidence").isNull().cast("int").alias("nul"),
            (-F.col("confidence")).alias("nc"),
            F.col("engine").alias("e"),
        ),
    ).alias("best")
    return (
        unioned.groupBy("doc_id", "line_id")
        .agg(best)
        .select(
            "doc_id",
            "line_id",
            F.col("best.transcription").alias("transcription"),
            F.col("best.engine").alias("engine"),
        )
    )


def confusion_network_stage(
    hyps_df: DataFrame, visual_weight: float = 1.0, lm_weight: float = 1.0
) -> DataFrame:
    """R14: per-line confusion networks (sausages) from K hypotheses
    (``decoding/confusion_networks.py:13-129`` semantics via
    ``kernels.add_hypothesis``/``confusion_network``).

    Input: one row per line with ``hyps: array<struct<text string,
    vis double, lm double>>`` — the hypothesis list is an ARRAY COLUMN
    rather than K rows, so the whole stage is narrow (mapInPandas, no
    shuffle at all; at 10^12 lines the K-way grouping that builds the
    array is one map-side collect_list if the hypotheses arrive as
    rows). Emits the best path through each sausage plus its size
    (positions / total arcs)."""
    from pero_ocr_spark.functions import kernels
    from pero_ocr_spark.operators import flat_map_in_pandas

    def per_row(doc_id, ord_, hl):
        cn = kernels.confusion_network(
            [(h["text"], float(h["vis"]), float(h["lm"])) for h in hl],
            visual_weight=visual_weight,
            lm_weight=lm_weight,
        )
        n_arcs = sum(len(p) for p in cn)
        return [(doc_id, ord_, kernels.best_cn_path(cn), len(cn), n_arcs)]

    return flat_map_in_pandas(
        hyps_df.select("doc_id", "ord", "hyps"),
        per_row,
        "doc_id long, ord long, best_path string, "
        "n_positions long, n_arcs long",
    )
