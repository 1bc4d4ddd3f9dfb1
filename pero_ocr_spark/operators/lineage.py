"""Resumable shard writes, and the weight-aware repartitioner.

``write_shards`` is the engine's one resumable writer: the
Spark-native generalization of the reference's ``--skip-processed``
resume (``user_scripts/parse_folder.py:73-102,314-323``, which rescans
output folders and skips already-done page ids):

  * output is parquet partitioned by an LCG shard of ``doc_id``
    (``sampling._residue``, decorrelated from id structure);
  * a shard is done only when the ``_shards_done`` manifest holds a row
    for it, appended strictly AFTER the data job commits — never
    because its directory exists;
  * pending shards are written with dynamic partition OVERWRITE, so a
    shard left partial by a crash (committer algorithm v2 and S3
    direct-write committers publish task files immediately) is
    replaced, never skipped and never appended twice.

The manifest is one row per shard, carrying the shard count it was
written for (a rerun with another count raises); the underscore prefix
hides it from plain ``spark.read.parquet(out_dir)`` consumers. Run-level counters
ride the data write through ``telemetry.observe_extraction``.

Also here: the weight-aware repartitioner used before expensive UDF
stages — the table-level analog of width-sorted batch packing
(``ocr_engine/line_ocr_engine.py:79-91``): documents are packed into
partitions by cumulative weight (span count / byte size), so one
64x-skewed doc doesn't straggle a whole stage.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import sampling, shuffle_width, telemetry


def with_shard(spans: DataFrame, n_shards: int) -> DataFrame:
    """``spans`` plus the ``shard`` column both resumable sinks (this
    writer and the extract job's icetable sink) partition and resume
    by: an LCG residue of ``doc_id`` in [0, n_shards)."""
    return spans.withColumn("shard", sampling._residue(n_shards).cast("int"))


def _done_shards(spark: SparkSession, manifest: str, n_shards: int) -> list[int]:
    """Shards the manifest records as done. A missing manifest, and a
    manifest directory holding no committed file (a kill mid-append
    leaves only ``_temporary/``), both mean none; any other failure
    (a corrupt part file) raises — read as "none done" it would
    rewrite every committed shard. So does a manifest written for
    another shard count: its residues name other doc sets, and
    resuming from them would write spans a second time."""
    try:
        rows = (
            spark.read.parquet(manifest)
            .select("shard", "n_shards")
            .distinct()
            .collect()
        )
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return []
    counts = sorted({int(r.n_shards) for r in rows} - {n_shards})
    if counts:
        raise ValueError(
            f"{manifest} records shards of {counts} shards; this write "
            f"asks for {n_shards} — write to a new directory"
        )
    return sorted(int(r.shard) for r in rows)


def write_shards(spans: DataFrame, out_dir: str, n_shards: int) -> dict:
    """Write extracted ``spans`` to ``out_dir`` as ``shard=k/`` parquet
    dirs, resuming at shard granularity: only shards without a manifest
    row are (re)written, then their rows are appended to
    ``out_dir/_shards_done``. A crash before that append leaves the
    shards unrecorded, and the next call rewrites them in place.

    Returns the write's ``telemetry.observe_extraction`` counters (zeros
    when nothing was pending) and ``resumed_shards_skipped``.
    """
    spark = spans.sparkSession
    manifest = f"{out_dir}/_shards_done"
    done = _done_shards(spark, manifest, n_shards)
    todo = sorted(set(range(n_shards)) - set(done))
    obs = None
    if todo:
        sharded = with_shard(spans, n_shards)
        if done:
            sharded = sharded.filter(~F.col("shard").isin(done))
        observed, obs = telemetry.observe_extraction(sharded)
        (
            # repartition("shard") clusters each shard into one task →
            # one file per shard dir (not tasks × shards small files);
            # dynamic overwrite replaces exactly the shards in the frame
            observed.repartition("shard")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard")
            .parquet(out_dir)
        )
        # every pending residue is done now, those with no spans too —
        # enumerate them, don't derive them from the data
        spark.createDataFrame(
            [(s, n_shards) for s in todo], "shard int, n_shards int"
        ).coalesce(1).write.mode("append").parquet(manifest)
    return {
        **telemetry.extraction_counters(obs),
        "resumed_shards_skipped": len(done),
    }


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
