"""Resume-after-failure semantics of the lineage-checkpointed extraction."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract, lineage


@pytest.fixture()
def out_dir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def _ordered(spans) -> pd.DataFrame:
    out = spans.select("doc_id", "kind", "text", "media_ref", "ord").toPandas()
    return out.sort_values(["doc_id", "ord"]).reset_index(drop=True)


def _full_reference(spark, sf_dir) -> pd.DataFrame:
    return _ordered(extract.extract_spans(corpus.spans_table(spark, sf_dir)))


def test_crash_then_resume_produces_exact_full_output(spark, sf_dir, out_dir):
    with pytest.raises(RuntimeError, match="injected failure"):
        lineage.run_extraction_with_lineage(
            spark, sf_dir, out_dir, n_buckets=8, fail_after_buckets=3
        )
    manifest = spark.read.parquet(f"{out_dir}/_lineage")
    assert manifest.count() == 3
    assert manifest.filter(F.col("status") == "done").count() == 3
    assert manifest.filter(F.col("spans_per_sec") > 0).count() == 3

    # resume: completes the remaining 5 buckets only
    result = lineage.run_extraction_with_lineage(spark, sf_dir, out_dir, n_buckets=8)
    manifest2 = spark.read.parquet(f"{out_dir}/_lineage")
    assert manifest2.count() == 8

    pd.testing.assert_frame_equal(
        _ordered(result), _full_reference(spark, sf_dir), check_dtype=False
    )


def test_rerun_after_completion_is_noop(spark, sf_dir, out_dir):
    lineage.run_extraction_with_lineage(spark, sf_dir, out_dir, n_buckets=4)
    n1 = spark.read.parquet(f"{out_dir}/spans").count()
    m1 = spark.read.parquet(f"{out_dir}/_lineage").count()
    lineage.run_extraction_with_lineage(spark, sf_dir, out_dir, n_buckets=4)
    assert spark.read.parquet(f"{out_dir}/spans").count() == n1  # no duplicates
    assert spark.read.parquet(f"{out_dir}/_lineage").count() == m1


def test_repartition_weighted_bounds_partition_weight(spark):
    docs = spark.createDataFrame(
        [(i, 1000 if i % 10 == 0 else 10) for i in range(100)],
        ["doc_id", "weight"],
    )
    packed = lineage.repartition_weighted(docs, "weight", target_weight=1500.0)
    sizes = (
        packed.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("weight").alias("w"))
        .collect()
    )
    # no partition materially exceeds target + one max row
    assert max(r["w"] for r in sizes) <= 1500 + 1000
    assert len(sizes) >= 5


def test_zero_span_bucket_is_marked_done(spark, out_dir, tmp_path):
    # doc 1's only word is 'the' (stop-listed by extract) -> bucket 1
    # produces ZERO spans; it must still get a 'done' manifest row or
    # resume re-runs it forever
    # doc_id 1: corpus MULT is 1 (ids divisible by 97/13 get 8-64x
    # word repeats, which would synthesize media spans too)
    docs = spark.createDataFrame(
        [(1, "the"), (2, "alpha beta gamma delta"), (3, "epsilon zeta"),
         (4, "eta theta iota kappa")],
        ["doc_id", "text"],
    )
    sf = str(tmp_path / "sf")
    docs.write.parquet(f"{sf}/documents.parquet")
    lineage.run_extraction_with_lineage(spark, sf, out_dir, n_buckets=4)
    manifest = spark.read.parquet(f"{out_dir}/_lineage")
    assert manifest.count() == 4
    row0 = manifest.filter(F.col("bucket") == 1).collect()[0]
    assert row0["status"] == "done" and row0["n_spans"] == 0
    # second run: nothing pending, manifest unchanged
    lineage.run_extraction_with_lineage(spark, sf, out_dir, n_buckets=4)
    assert spark.read.parquet(f"{out_dir}/_lineage").count() == 4


def test_corrupt_manifest_raises_instead_of_rerunning(spark, sf_dir, out_dir):
    """Only a manifest with nothing committed means "start over": an
    unreadable part must fail the run, not re-append every bucket."""
    from py4j.protocol import Py4JJavaError

    lineage.run_extraction_with_lineage(spark, sf_dir, out_dir, n_buckets=4)
    n = spark.read.parquet(f"{out_dir}/spans").count()
    parts = [f for f in os.listdir(f"{out_dir}/_lineage") if f.endswith(".parquet")]
    assert parts
    for f in parts:
        with open(f"{out_dir}/_lineage/{f}", "wb") as fh:
            fh.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError):  # the failed footer-read job
        lineage.run_extraction_with_lineage(spark, sf_dir, out_dir, n_buckets=4)
    assert spark.read.parquet(f"{out_dir}/spans").count() == n


def test_uncommitted_manifest_resumes_from_scratch(spark, sf_dir, out_dir):
    # a kill mid-append leaves _lineage/ holding only _temporary/
    os.makedirs(f"{out_dir}/_lineage/_temporary/0")
    result = lineage.run_extraction_with_lineage(spark, sf_dir, out_dir, n_buckets=4)
    assert spark.read.parquet(f"{out_dir}/_lineage").count() == 4
    pd.testing.assert_frame_equal(
        _ordered(result), _full_reference(spark, sf_dir), check_dtype=False
    )
