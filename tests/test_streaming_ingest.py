"""Streaming HTML ingest (foreachBatch micro-batch pipeline)."""

from __future__ import annotations

from pero_ocr_spark.operators import html as H
from pero_ocr_spark.streaming import ingest


def _write_pages(spark, sf_dir, path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    H.synthesize_html_interleaved(docs).coalesce(3).write.mode(
        "overwrite"
    ).parquet(path)
    return docs


def test_stream_ingest_warc_matches_batch(spark, sf_dir, tmp_path):
    from pero_ocr_spark.sources import warc as W

    warc_dir = str(tmp_path / "warc")
    out_dir = str(tmp_path / "warc_spans")
    ckpt = str(tmp_path / "warc_ckpt")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    pages = H.synthesize_html_interleaved(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    shards = W.synthesize_warc_shards(W.capture_table(pages), n_shards=6)
    shards.coalesce(3).write.mode("overwrite").parquet(warc_dir)

    q = ingest.stream_ingest_warc(spark, warc_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    recs = W.parse_warc_records(spark.read.parquet(warc_dir)).filter(
        "status = 200"
    )
    from pyspark.sql import functions as F
    want = H.html_to_spans(recs.select("doc_id", F.col("body").alias("html")))
    key = ["doc_id", "ord", "kind", "text", "media_ref"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )
    # 404 captures contribute nothing
    assert got.filter((got.doc_id % 50) == 7).count() == 0

    # checkpoint replay: nothing new
    n = got.count()
    q2 = ingest.stream_ingest_warc(spark, warc_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n


def test_stream_ingest_icetable_commits_are_exactly_once(
    spark, sf_dir, tmp_path
):
    """Streaming → snapshot-table sink: spans match the batch
    pipeline, each micro-batch is one tagged commit, and an injected
    replay (crash after commit, before the checkpoint advanced) is
    skipped by the commit-log check — version and rows unchanged."""
    from pero_ocr_spark.sources.icetable import IceTable

    pages_dir = str(tmp_path / "pages")
    table_root = str(tmp_path / "ice")
    ckpt = str(tmp_path / "ckpt")
    _write_pages(spark, sf_dir, pages_dir)

    q = ingest.stream_ingest_pages_icetable(spark, pages_dir, table_root, ckpt)
    q.awaitTermination(120)

    table = IceTable(table_root)
    got = table.read(spark)
    want = H.html_to_spans(spark.read.parquet(pages_dir))
    key = ["doc_id", "ord", "kind", "text", "media_ref"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, want.select(*key).collect())
    )
    v = table.current_version()
    batch_ids = {
        s["properties"]["stream_batch_id"] for s in table.history()
    }
    assert len(batch_ids) == v  # one tagged commit per micro-batch

    # injected replay of an already-committed batch id: skipped
    replayed = ingest.commit_batch_to_icetable(
        spark.read.parquet(pages_dir), min(batch_ids), table_root
    )
    assert replayed is False
    assert table.current_version() == v

    # restart with the same checkpoint: no pending files, no commits
    q2 = ingest.stream_ingest_pages_icetable(
        spark, pages_dir, table_root, ckpt
    )
    q2.awaitTermination(120)
    assert table.current_version() == v
    assert table.read(spark).count() == got.count()
