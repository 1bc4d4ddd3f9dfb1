"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata; the
decode / feature-extract kernels run as Arrow-batched per-row stages
(``operators.flat_map_in_pandas``).

The actual image/audio codecs are NOT in this container, so the decode
step is STUBBED: it produces a deterministic fake decode
(dimensions/frames derived arithmetically from the media position) —
the Spark-side plumbing (schema, partitioning, UDF signature, Arrow
batch shape) is real and oracle-tested.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pero_ocr_spark.operators import flat_map_in_pandas

MEDIA_META_SCHEMA = (
    "doc_id long, media_ref string, fmt string, width long, height long, "
    "n_frames long, n_bytes long"
)


def media_spans(extracted: DataFrame) -> DataFrame:
    """Media rows of the extracted span table, with fake payload bytes
    (deterministic from the ref string) standing in for the binary
    column an Iceberg table would carry."""
    return (
        extracted.filter(F.col("kind") == "media")
        .select("doc_id", "media_ref", "ord")
        .withColumn("payload", F.encode(F.col("media_ref"), "utf-8"))
    )


def _fake_decode(ref: str) -> tuple[str, int, int, int]:
    """Deterministic stand-in for a real decoder: metadata derived from
    the media index parsed out of 'img://<doc>/<pos>'."""
    pos = int(ref.rsplit("/", 1)[-1])
    fmt = ("jpeg", "png", "webp")[pos % 3]
    width = 64 + (pos % 13) * 32
    height = 48 + (pos % 7) * 48
    n_frames = 1 + (pos % 5)
    return fmt, width, height, n_frames


def decode_media(media: DataFrame) -> DataFrame:
    """Decode stage: payload binary → typed metadata. Arrow-batched."""

    def per_row(doc_id, ref, payload):
        return [(doc_id, ref, *_fake_decode(ref), len(payload))]

    return flat_map_in_pandas(
        media.select("doc_id", "media_ref", "payload"), per_row,
        MEDIA_META_SCHEMA,
    )


def media_features(decoded: DataFrame, dim: int = 8) -> DataFrame:
    """Feature-extract stage: fake-but-deterministic embedding per
    media item (hash-seeded), emitted as array<float> — the schema and
    batch shape a real CLIP/audio encoder would produce."""

    def per_row(doc_id, ref):
        seed = sum(ord(c) for c in ref) % 997
        vec = np.cos(np.arange(dim, dtype=np.float64) + seed)
        return [(doc_id, ref, vec.astype(np.float32))]

    return flat_map_in_pandas(
        decoded.select("doc_id", "media_ref"), per_row,
        "doc_id long, media_ref string, feature array<float>",
    )


def frame_sample(decoded: DataFrame, every: int = 2) -> DataFrame:
    """Frame-sampling stage (video analog): one output row per sampled
    frame index — a generator expression, no Python."""
    return decoded.select(
        "doc_id",
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )


def media_context_pairs(spans: DataFrame) -> DataFrame:
    """Interleaved spans → (media, surrounding-text) training pairs —
    the pair-mining step for contrastive image-text training: each
    media span is paired with the nearest text span before and after
    it in reading order, and ``caption`` prefers the preceding one
    (web pages caption below the image more often than above, and the
    preceding span is the nearer in this span model).

    Scale shape: two window scans + the media filter all share the one
    hash exchange on doc_id the extraction pipeline already produced —
    zero additional shuffles; the filter drops text rows before
    anything is materialized downstream.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ord")
    txt = F.when(F.col("kind") == "text", F.col("text"))
    prev_text = F.last(txt, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_text = F.first(txt, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return (
        spans.withColumn("prev_text", prev_text)
        .withColumn("next_text", next_text)
        .filter(F.col("kind") == "media")
        .select(
            "doc_id",
            "ord",
            "media_ref",
            "prev_text",
            "next_text",
            F.coalesce("prev_text", "next_text").alias("caption"),
        )
    )


def media_duplicate_groups(feats: DataFrame) -> DataFrame:
    """Image-dedup tier over the FEATURE vectors (the pHash analog for
    the embedding era): media items whose encoder output is identical
    collapse into one group — (representative ref, item count, doc
    count) per group. Grouping key is a rounded-component signature of
    the vector itself, so the operator works unchanged when a real
    encoder replaces the deterministic stub (exact-duplicate tier;
    the NEAR-duplicate tier over real embeddings is
    ``similarity.near_dup_pairs``).

    Scale shape: the features stage is the cached-session Arrow map;
    grouping is ONE map-side-combinable shuffle keyed on the 8-byte
    ``xxhash64`` of the signature — per row, neither the feature
    vector NOR the vector-length signature string crosses the wire,
    only the hash and two counters (the map-side combine carries at
    most two signature strings per group per map partition for the
    exactness check). Exactness is preserved, not assumed: the
    aggregate records the group's min and max signature, and a 64-bit
    hash collision (two distinct signatures in one group) fails the
    query loudly via ``assert_true`` instead of silently merging
    distinct images."""
    sig = F.concat_ws(
        ",",
        F.transform(
            F.col("feature"),
            lambda x: F.round(x.cast("double"), 4).cast("string"),
        ),
    )
    grouped = (
        feats.select(
            F.xxhash64(sig).alias("_h"),
            sig.alias("_sig"),
            "media_ref",
            "doc_id",
        )
        .groupBy("_h")
        .agg(
            F.min("_sig").alias("_lo"),
            F.max("_sig").alias("_hi"),
            F.min("media_ref").alias("_rep"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )
    # assert_true is folded into rep_ref so column pruning can never
    # drop the check; it raises on the (astronomically unlikely)
    # collision rather than returning a merged group
    rep = F.when(
        F.assert_true(
            F.col("_lo") == F.col("_hi"),
            F.lit("xxhash64 collision in media_duplicate_groups: "
                  "distinct signatures merged"),
        ).isNull(),
        F.col("_rep"),
    )
    return grouped.select(
        rep.alias("rep_ref"), "n_items", "n_docs"
    )
