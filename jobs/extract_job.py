"""spark-submit entry point for the extraction / ingest pipelines.

Usage (cluster):

    python make_submit_zip.py
    spark-submit --py-files pero_ocr_spark.zip jobs/extract_job.py \
        --pipeline extract --input /data/corpus --output /data/spans \
        --shards 512

    spark-submit --py-files pero_ocr_spark.zip jobs/extract_job.py \
        --pipeline ingest --input /data/pages --output /data/spans

Pipelines:

  * ``extract`` — nested (doc_id, spans) table → classified, stripped,
    reading-ordered span rows, written by ``lineage.write_shards`` as
    parquet partitioned by an LCG shard with shard-granularity
    crash-resume: a shard is done only when the ``_shards_done``
    manifest holds its row, appended after the data job commits;
    shards without one are rewritten with dynamic partition overwrite.
    With ``--sink icetable`` the spans commit into the from-scratch
    snapshot table (sources/icetable.py) instead: one APPEND commit
    per run whose snapshot ``properties`` carry the shard list, so
    shard completion publishes atomically with the data and resume
    reads the table's own commit log — the north rule's "Iceberg
    output table" shape end to end.
  * ``ingest``  — (doc_id, html) pages → DOM-parsed, boilerplate-
    stripped interleaved (kind, text, media_ref, ord) spans.
  * ``warc``    — (shard_id, warc) archive blobs (Common Crawl shape)
    → length-framed record parse → HTTP 200 bodies → the same DOM
    extraction as ``ingest``. Raw documents input is auto-wrapped
    into captures + WARC shards first, so the job is runnable against
    either a real archive table or the sandbox corpus.

Prints ONE JSON metrics line (rows, docs, chars, wall seconds,
rows/sec) gathered via ``df.observe`` — counters ride the write job,
no second scan. Session config comes from the environment
(``SPARK_GRAFT_CPUS`` for local runs; on a cluster spark-submit's
``--conf`` wins because an existing SparkSession is reused as-is).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark(app: str) -> SparkSession:
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    b = SparkSession.builder.appName(app)
    if cpus:  # local dev/bench; on a cluster the submitted conf rules
        b = b.master(f"local[{cpus}]").config(
            "spark.sql.shuffle.partitions", str(int(cpus) * 2)
        )
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def extracted(spark: SparkSession, path: str) -> DataFrame:
    """The ``extract`` pipeline's spans. Extraction runs inside each
    nested row and adds no exchange, so the input's partitioning is the
    job's parallelism: a nested table goes through ``spread_scan``,
    raw documents are hash-partitioned before their spans are derived."""
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract, shuffle_width, spread_scan

    nested = spark.read.parquet(path)
    if "spans" in nested.columns:
        nested = spread_scan(nested)
    else:  # raw documents: derive spans
        nested = corpus.spans_of(
            nested.repartition(shuffle_width(spark), "doc_id")
        )
    return extract.extract_spans(nested)


def _run_icetable(spark, args, spans, t0) -> int:
    """Span emission into the snapshot table (the production analog of
    the north rule's Iceberg output): one APPEND commit per run, with
    the shard list recorded in the snapshot's ``properties`` so shard
    completion publishes ATOMICALLY with the data. Resume reads done
    shards from the table's own commit log — a crash before the commit
    leaves no marker (shards fully re-run), a crash after leaves
    marker + data (shards skipped); no side manifest can ever
    disagree with the table, under ANY committer.
    """
    from pero_ocr_spark.operators import lineage, telemetry
    from pero_ocr_spark.sources.icetable import IceTable

    table = IceTable(args.output)
    done: set[int] = set()
    for snap in table.history():
        done.update(int(s) for s in snap["properties"].get("shards", []))
    todo = sorted(set(range(args.shards)) - done)
    obs = None
    if todo:
        batch = lineage.with_shard(spans, args.shards).filter(
            F.col("shard").isin(todo)
        )
        # one task (→ one data file) per pending shard; the commit
        # records per-file doc_id min/max for pruned reads
        observed, obs = telemetry.observe_extraction(
            batch.repartition(len(todo), "shard")
        )
        version = table.commit(
            observed,
            "append",
            properties={"pipeline": args.pipeline, "shards": todo},
        )
    else:
        version = table.current_version()
    m = telemetry.extraction_counters(obs)
    wall = time.perf_counter() - t0
    m.update(
        pipeline=args.pipeline,
        output=args.output,
        sink="icetable",
        table_version=version,
        shards=args.shards,
        wall_sec=round(wall, 2),
        spans_per_sec=round(m["n_spans"] / wall, 1),
        resumed_shards_skipped=len(done),
    )
    print(json.dumps(m))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--pipeline", choices=["extract", "ingest", "warc"], required=True
    )
    ap.add_argument("--input", required=True, help="input table directory")
    ap.add_argument("--output", required=True, help="output parquet directory")
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument(
        "--sink",
        choices=["parquet", "icetable"],
        default="parquet",
        help="parquet: sharded dirs + _shards_done manifest; icetable: "
        "snapshot-table commits with the shard list recorded in "
        "snapshot properties (resume is commit-atomic — no side "
        "manifest to desynchronize from the data)",
    )
    args = ap.parse_args(argv)

    from pero_ocr_spark.operators import lineage

    spark = _spark(f"pero_ocr_spark_{args.pipeline}")
    t0 = time.perf_counter()

    if args.pipeline == "extract":
        spans = extracted(spark, args.input)
    elif args.pipeline == "ingest":
        from pero_ocr_spark.operators import html

        pages = spark.read.parquet(args.input)
        if "html" not in pages.columns:  # raw documents: synthesize pages
            pages = html.synthesize_html_interleaved(pages)
        spans = html.html_to_spans(pages)
    else:  # warc
        from pero_ocr_spark.operators import html
        from pero_ocr_spark.sources import warc

        src = spark.read.parquet(args.input)
        if "warc" not in src.columns:  # raw documents: wrap into shards
            pages = html.synthesize_html_interleaved(src).join(
                src.select("doc_id", "source"), "doc_id"
            )
            src = warc.synthesize_warc_shards(warc.capture_table(pages))
        recs = warc.parse_warc_records(src).filter(F.col("status") == 200)
        spans = html.html_to_spans(
            recs.select("doc_id", F.col("body").alias("html"))
        )

    if args.sink == "icetable":
        return _run_icetable(spark, args, spans, t0)
    m = lineage.write_shards(spans, args.output, args.shards)
    skipped = m.pop("resumed_shards_skipped")
    wall = time.perf_counter() - t0
    m.update(
        pipeline=args.pipeline,
        output=args.output,
        shards=args.shards,
        wall_sec=round(wall, 2),
        spans_per_sec=round(m["n_spans"] / wall, 1),
        resumed_shards_skipped=skipped,
    )
    print(json.dumps(m))
    return 0


if __name__ == "__main__":
    sys.exit(main())
