"""Structured-Streaming ingest: HTML pages arriving as files → spans.

The batch ingest (``operators/html.html_to_spans``) uses per-doc
window functions, which Structured Streaming forbids on an unbounded
stream — but every micro-batch is a BOUNDED DataFrame, and a document
never spans micro-batches (a page file arrives whole). So the
streaming form is ``foreachBatch``: each micro-batch runs the exact
batch pipeline (same code path, zero forked logic) and appends
its spans to a sink. Exactly-once comes from the checkpoint PLUS an
idempotent write: the WARC ingest partitions its parquet output by
(batch_id, shard) and writes it with dynamic partition overwrite, so
a batch replayed after a mid-write crash overwrites its own
partitions instead of appending duplicates; the snapshot-table ingest
skips a batch id the table's commit log already holds.

Scale shape: identical to the batch plan per micro-batch (narrow DOM
parse, one doc_id exchange), state bounded by micro-batch size; the
streaming engine adds only file-source bookkeeping. This is the
10^12-doc crawl-ingest front door running continuously instead of as
a backfill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "doc_id long, html string"


WARC_SCHEMA = "shard_id long, warc binary"


def stream_ingest_warc(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_shards: int = 16,
):
    """Continuous crawl-archive ingest: WARC shard blobs arriving as
    parquet files → length-framed record parse → HTTP 200 bodies →
    the batch DOM extraction → shard-partitioned spans. A WARC shard
    never spans micro-batches (a blob arrives whole in one row), so
    each bounded micro-batch runs the exact batch pipeline; the same
    (batch_id, shard) dynamic-overwrite write makes replays
    idempotent."""
    from pero_ocr_spark.operators import html, sampling
    from pero_ocr_spark.sources import warc

    shards = spark.readStream.schema(WARC_SCHEMA).parquet(warc_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        recs = warc.parse_warc_records(batch_df).filter(
            F.col("status") == 200
        )
        spans = html.html_to_spans(
            recs.select("doc_id", F.col("body").alias("html"))
        ).withColumn("shard", sampling._residue(n_shards).cast("int"))
        (
            spans.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "shard")
            .parquet(out_dir)
        )

    return (
        shards.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def commit_batch_to_icetable(
    batch_df: DataFrame,
    batch_id: int,
    table_root: str,
    n_shards: int = 16,
) -> bool:
    """foreachBatch body for the TRANSACTIONAL streaming sink: run the
    batch ingest pipeline on the micro-batch and commit the spans into
    the snapshot table, recording ``batch_id`` in the snapshot's
    properties. Returns False (and commits nothing) when the batch id
    is already in the commit log — the replay branch.

    Exactly-once without partition gymnastics: the snapshot publish is
    atomic (O_EXCL), so a crash MID-commit leaves no snapshot and the
    engine's replay re-runs the batch cleanly, while a crash AFTER the
    commit but before the checkpoint advances makes the replay find
    its batch_id in the log and skip — the same protocol Iceberg's own
    Spark streaming sink uses. Single-writer per table (a concurrent
    foreign commit raises CommitConflict and the engine retries the
    batch, which is safe: the skip-check reruns first)."""
    from pero_ocr_spark.operators import html, sampling
    from pero_ocr_spark.sources.icetable import IceTable

    table = IceTable(table_root)
    committed = {
        s["properties"].get("stream_batch_id") for s in table.history()
    }
    if batch_id in committed:
        return False
    spans = (
        html.html_to_spans(batch_df)
        .withColumn("shard", sampling._residue(n_shards).cast("int"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    table.commit(
        spans, "append", properties={"stream_batch_id": int(batch_id)}
    )
    return True


def stream_ingest_pages_icetable(
    spark: SparkSession,
    pages_dir: str,
    table_root: str,
    checkpoint_dir: str,
    n_shards: int = 16,
):
    """Streaming HTML ingest into the snapshot table: each micro-batch
    becomes one atomic APPEND commit tagged with its batch id (see
    :func:`commit_batch_to_icetable`). Downstream consumers get
    snapshot-isolated reads, time travel, and incremental (changelog)
    tailing of the live stream — the north rule's "Iceberg output
    table" as a continuously-ingesting sink."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch_to_icetable(batch_df, batch_id, table_root, n_shards)

    return (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
