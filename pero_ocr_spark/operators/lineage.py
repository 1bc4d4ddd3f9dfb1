"""Checkpointed per-partition lineage + metrics, and resume-after-failure.

The Spark-native generalization of the reference's ``--skip-processed``
resume (``user_scripts/parse_folder.py:73-102,314-323``, which rescans
output folders and skips already-done page ids):

  * output is written partitioned by a deterministic bucket
    (``doc_id % n_buckets``);
  * a ``_lineage`` manifest table records, per bucket: status, doc /
    span / char counts, wall-clock seconds and derived throughput
    (the metrics analog of ``PageDecoder.decoding_summary()``,
    ``document_ocr/page_parser.py:147-156``);
  * resume = anti-join pending buckets against the manifest — only
    unfinished buckets are recomputed, completed output is never
    rewritten (append mode + bucket partition dirs give idempotence).

At 10^12 docs the manifest is tiny (one row per bucket), the anti-join
broadcasts it, and a failed cluster run restarts with work
proportional to the unfinished remainder only.

Also here: the weight-aware repartitioner used before expensive UDF
stages — the table-level analog of width-sorted batch packing
(``ocr_engine/line_ocr_engine.py:79-91``): documents are packed into
partitions by cumulative weight (span count / byte size), so one
64x-skewed doc doesn't straggle a whole stage.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import shuffle_width

LINEAGE_SCHEMA = (
    "bucket long, status string, n_docs long, n_spans long, n_chars long, "
    "elapsed_sec double, spans_per_sec double"
)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", (F.col("doc_id") % n_buckets).cast("long"))


def completed_buckets(spark: SparkSession, out_dir: str) -> DataFrame:
    """Buckets marked done in the manifest (empty frame if no manifest).

    Existence is probed through the Hadoop FileSystem API (scheme-aware:
    file://, hdfs://, s3a://) instead of a try/except around the read —
    a failed read action logs an analyzer stack trace and trips any
    registered observation listeners; a metadata probe is silent."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/_lineage")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], "bucket long")
    try:
        m = spark.read.parquet(f"{out_dir}/_lineage")
    except AnalysisException as e:
        # dir exists but holds no committed parquet (a kill mid-append
        # leaves only _temporary/): treat as no manifest — resume
        # restarts from scratch rather than failing forever. Anything
        # else (a corrupt part file) raises: read as "no manifest" it
        # would re-append every done bucket's spans.
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return spark.createDataFrame([], "bucket long")
    return m.filter(F.col("status") == "done").select("bucket").distinct()


def run_extraction_with_lineage(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
) -> DataFrame:
    """Run the extraction pipeline bucket-partitioned with lineage;
    on re-invocation, only buckets absent from the manifest run.

    ``fail_after_buckets`` injects a crash for resume tests: only the
    first k pending buckets are processed before raising.
    """
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract

    docs = with_bucket(corpus.load_documents(spark, sf_dir), n_buckets)
    done = completed_buckets(spark, out_dir)
    pending = docs.join(done, "bucket", "left_anti")

    # ONE Spark job writes every pending bucket (partitionBy routes
    # rows into per-bucket dirs), then ONE aggregate builds the bulk
    # manifest append — k pending buckets cost 2 jobs total, not 2k
    # serial jobs (at 10^4 buckets the per-bucket loop was 10^4
    # sequential driver round trips). elapsed_sec is the shared write
    # wall-clock (job-level; per-bucket attribution would need
    # task-metrics listeners), spans_per_sec the bucket's share of it.
    pending_buckets = sorted(
        r["bucket"] for r in pending.select("bucket").distinct().collect()
    )
    truncated = (
        fail_after_buckets is not None
        and fail_after_buckets < len(pending_buckets)
    )
    todo = (
        pending_buckets[:fail_after_buckets]
        if fail_after_buckets is not None
        else pending_buckets
    )
    if todo:
        t0 = time.perf_counter()
        subset = pending if not truncated else pending.filter(
            F.col("bucket").isin([int(b) for b in todo])
        )
        # extraction adds no exchange: hash-partition the documents so
        # span synthesis and extraction spread across every core
        docs_todo = subset.drop("bucket").repartition(
            shuffle_width(spark), "doc_id"
        )
        spans = with_bucket(
            extract.extract_spans(corpus.spans_of(docs_todo)), n_buckets
        )
        # cluster rows by bucket before the partitioned write: without
        # this every shuffle partition emits a file into every bucket
        # dir (tasks × buckets small files per run — a files explosion
        # at 10^4 buckets); clustered, each bucket gets ONE file
        spans.repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(f"{out_dir}/spans")
        elapsed = time.perf_counter() - t0
        try:
            stats = (
                spark.read.parquet(f"{out_dir}/spans")
                .filter(F.col("bucket").isin([int(b) for b in todo]))
                .groupBy("bucket")
                .agg(
                    F.approx_count_distinct("doc_id").alias("n_docs"),
                    F.count("*").alias("n_spans"),
                    F.sum(F.length("text")).alias("n_chars"),
                )
                .collect()
            )
        except AnalysisException as e:
            # zero rows written overall → no parquet files to infer from
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
            stats = []
        by_bucket = {int(r["bucket"]): r for r in stats}
        # every TODO bucket gets a manifest row — a bucket whose docs
        # produce zero spans writes no partition dir and so has no
        # stats row, but it IS done (otherwise resume re-runs it forever)
        manifest_rows = [
            (
                int(b),
                "done",
                int(r["n_docs"]) if r is not None else 0,
                int(r["n_spans"]) if r is not None else 0,
                int(r["n_chars"] or 0) if r is not None else 0,
                round(elapsed, 3),
                round((r["n_spans"] if r is not None else 0) / elapsed, 1),
            )
            for b in todo
            for r in (by_bucket.get(int(b)),)
        ]
        spark.createDataFrame(manifest_rows, LINEAGE_SCHEMA).write.mode(
            "append"
        ).parquet(f"{out_dir}/_lineage")

    if truncated:
        raise RuntimeError(
            f"injected failure after {fail_after_buckets} buckets (resume test)"
        )
    return spark.read.parquet(f"{out_dir}/spans")


_SALT_CACHE: dict[int, list[int]] = {}


def _partition_salts(spark: SparkSession, n: int) -> list[int]:
    """salt[pid] = an int whose murmur3 hash routes to shuffle
    partition ``pid`` under HashPartitioning(n) (``repartition(n,
    col)`` computes ``pmod(hash(col), n)``). Probed once per ``n``
    over a CONSTANT range (64·n rows, data-independent — this is
    plan-time metadata, not a scan of the input), then cached."""
    if n not in _SALT_CACHE:
        probe = (
            spark.range(0, 64 * n)
            .select(
                F.col("id").cast("int").alias("s"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("pid"),
            )
            .groupBy("pid")
            .agg(F.min("s").alias("s"))
            .collect()
        )
        m = {r["pid"]: r["s"] for r in probe}
        if len(m) != n:  # P[a residue unhit in 64n uniform probes] ≈ n·e⁻⁶⁴
            raise RuntimeError(f"salt probe covered {len(m)}/{n} partitions")
        _SALT_CACHE[n] = [m[p] for p in range(n)]
    return _SALT_CACHE[n]


def repartition_weighted(
    df: DataFrame,
    weight_col: str,
    target_weight: float,
    key: str = "doc_id",
) -> DataFrame:
    """Pack rows into partitions of ~target_weight cumulative weight —
    fully distributed, no global sort, no driver action over the data:

      1. hash rows into ``n`` (the shuffle width) buckets on ``key``;
      2. cumsum ``weight_col`` WITHIN each bucket (window partitioned
         by bucket — parallel, never a single-task exchange);
      3. per-bucket totals get prefix-sum offsets via a window over
         the n-row aggregate (bounded by bucket COUNT, not data size),
         broadcast-joined back;
      4. global pack id = floor((offset + local cumsum) / target) —
         every pack holds ≤ target + one row of weight;
      5. packs route round-robin (pack mod n) onto physical partitions
         through a precomputed hash-inverse salt per partition id, so
         the mapping is EXACT (no hash collisions piling two heavy
         packs together) and the partition count is a plan-time
         constant — the old version collect()ed max(_pack) and
         single-task-sorted the whole table.

    Max partition weight ≤ ceil(n_packs / n) · (target + max row
    weight). Use before UDF stages whose cost ∝ weight (frames,
    pixels, spans) so one 64x-skewed doc doesn't straggle a stage.
    """
    spark = df.sparkSession
    n = shuffle_width(spark)
    salts = _partition_salts(spark, n)
    bucketed = df.withColumn("_b", F.pmod(F.xxhash64(key), F.lit(n)).cast("long"))
    w_in = Window.partitionBy("_b").orderBy(key).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = bucketed.withColumn("_cum", F.sum(weight_col).over(w_in))
    totals = bucketed.groupBy("_b").agg(F.sum(weight_col).alias("_tot"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_b", F.coalesce(F.sum("_tot").over(w_off), F.lit(0.0)).alias("_off")
    )
    pack = F.floor(
        (F.col("_off") + F.col("_cum")) / F.lit(target_weight)
    ).cast("long")
    salt = F.element_at(
        F.array(*[F.lit(s) for s in salts]),
        (F.pmod(pack, F.lit(n)) + 1).cast("int"),
    ).cast("int")
    packed = local.join(F.broadcast(offsets), "_b").withColumn("_salt", salt)
    return packed.repartition(n, "_salt").drop("_b", "_cum", "_off", "_salt")
