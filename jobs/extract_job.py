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
    reading-ordered span rows, written as parquet partitioned by an
    LCG shard (decorrelated from id structure) with shard-granularity
    crash-resume. Resume is manifest-based, NOT directory-presence
    based: a shard counts as done only when a row for it exists in the
    ``_shards_done`` manifest, which is appended strictly AFTER the
    data job commits (the operators/lineage.py pattern). Shards
    without a manifest row are (re)written with dynamic partition
    OVERWRITE, so partially-populated shard dirs left by a crash —
    possible with committer algorithm v2 or S3 direct-write
    committers, whose task commits publish files immediately — are
    replaced, never silently skipped and never double-appended. The
    underscore prefix keeps the manifest invisible to plain
    ``spark.read.parquet(output)`` consumers.
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

from pyspark.errors import AnalysisException
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


_COUNTERS = ("n_spans", "n_text", "n_media", "n_chars", "max_ord")


def _counters(obs) -> dict:
    """The write's extraction counters. A write of zero rows still
    reports (Spark 4.1, probed with every pending shard empty: obs.get
    returns n_spans 0 and does not raise), but its sums and max are
    null; those read as 0."""
    return {k: v or 0 for k, v in obs.get.items()}


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


def _run_icetable(spark, args, sharded, t0) -> int:
    """Span emission into the snapshot table (the production analog of
    the north rule's Iceberg output): one APPEND commit per run, with
    the shard list recorded in the snapshot's ``properties`` so shard
    completion publishes ATOMICALLY with the data. Resume reads done
    shards from the table's own commit log — a crash before the commit
    leaves no marker (shards fully re-run), a crash after leaves
    marker + data (shards skipped); no side manifest can ever
    disagree with the table, under ANY committer.
    """
    from pero_ocr_spark.operators import telemetry
    from pero_ocr_spark.sources.icetable import IceTable

    table = IceTable(args.output)
    done: set[int] = set()
    for snap in table.history():
        done.update(int(s) for s in snap["properties"].get("shards", []))
    todo = sorted(set(range(args.shards)) - done)
    if todo:
        batch = sharded.filter(F.col("shard").isin([int(s) for s in todo]))
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
        m = _counters(obs)
    else:
        version = table.current_version()
        m = dict.fromkeys(_COUNTERS, 0)
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

    from pero_ocr_spark.operators import sampling, telemetry

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

    sharded = spans.withColumn(
        "shard", sampling._residue(args.shards).cast("int")
    )
    if args.sink == "icetable":
        return _run_icetable(spark, args, sharded, t0)
    # shard-granularity resume: done = has a manifest row (written only
    # after a data-job commit), NOT "shard dir exists" — partial dirs
    # from a crashed run are rewritten below, not skipped
    manifest = f"{args.output}/_shards_done"
    try:
        manifest_df = spark.read.parquet(manifest)
    except AnalysisException as e:
        # only a missing manifest means "first run"; an unreadable one
        # must not silently rewrite every shard
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        done = []
    else:
        done = [
            r.shard for r in manifest_df.select("shard").distinct().collect()
        ]
    if done:
        sharded = sharded.filter(~F.col("shard").isin(done))
    observed, obs = telemetry.observe_extraction(sharded)
    (
        # repartition("shard") clusters each shard into one task → one
        # file per shard dir (not tasks × shards small files); dynamic
        # overwrite replaces exactly the shards in the frame, making a
        # shard re-run idempotent under ANY committer
        observed.repartition("shard")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(args.output)
    )
    # manifest append AFTER the data commit: a crash before this line
    # leaves the shards unrecorded and the next run rewrites them. A
    # shard whose residue class is empty still gets its row (it IS
    # done) — enumerate the todo residues, don't derive from data.
    todo = sorted(set(range(args.shards)) - set(int(s) for s in done))
    if todo:
        spark.createDataFrame(
            [(int(s),) for s in todo], "shard int"
        ).coalesce(1).write.mode("append").parquet(manifest)
    wall = time.perf_counter() - t0
    if todo:
        m = _counters(obs)
    else:
        # fully resumed: every shard already carried a manifest row, so
        # the (empty) write may run ZERO tasks — e.g. when the input
        # plan was substituted with a cached InMemoryRelation whose
        # batches all prune — and an Observation with no completed task
        # never produces its metrics row (obs.get raises). Nothing was
        # written; the metrics are zeros by definition.
        m = dict.fromkeys(_COUNTERS, 0)
    m.update(
        pipeline=args.pipeline,
        output=args.output,
        shards=args.shards,
        wall_sec=round(wall, 2),
        spans_per_sec=round(m["n_spans"] / wall, 1),
        resumed_shards_skipped=len(done),
    )
    print(json.dumps(m))
    return 0


if __name__ == "__main__":
    sys.exit(main())
