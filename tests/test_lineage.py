"""The resumable shard writer and the weight-aware repartitioner.

Full-rewrite resume, rerun, corrupt- and uncommitted-manifest behaviour
of ``lineage.write_shards`` is also exercised through its job entry
point in ``tests/test_extract_job.py``.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract, lineage


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


def test_zero_span_bucket_is_marked_done(spark, tmp_path):
    # doc 1's only word is 'the' (stop-listed by extract), and it is the
    # only doc in shard 2 of 4 (LCG residues of docs 1..4: 2, 3, 0, 1):
    # shard 2 writes ZERO spans, yet must get its manifest row or resume
    # re-runs it forever. doc_id 1: corpus MULT is 1 (ids divisible by
    # 97/13 get 8-64x word repeats, which would synthesize media spans)
    docs = spark.createDataFrame(
        [(1, "the"), (2, "alpha beta gamma delta"), (3, "epsilon zeta"),
         (4, "eta theta iota kappa")],
        ["doc_id", "text"],
    )
    spans = extract.extract_spans(corpus.spans_of(docs))
    out = tmp_path / "spans"
    first = lineage.write_shards(spans, str(out), n_shards=4)
    assert first["resumed_shards_skipped"] == 0
    assert first["n_spans"] == spans.count() > 0
    assert not (out / "shard=2").exists()
    manifest = spark.read.parquet(str(out / "_shards_done"))
    assert sorted(r.shard for r in manifest.collect()) == [0, 1, 2, 3]

    # second run: nothing pending, nothing written, zero counters
    files = sorted(p.relative_to(out) for p in out.rglob("*"))
    second = lineage.write_shards(spans, str(out), n_shards=4)
    assert second == {
        "n_spans": 0, "n_text": 0, "n_media": 0, "n_chars": 0, "max_ord": 0,
        "resumed_shards_skipped": 4,
    }
    assert sorted(p.relative_to(out) for p in out.rglob("*")) == files


def _files(shard_dir):
    return {p.name: p.stat().st_mtime_ns for p in shard_dir.glob("*.parquet")}


def test_crash_then_resume_produces_exact_full_output(spark, sf_dir, tmp_path):
    """A resumed run that dies after its data commit but before its
    manifest append: shards 0 and 1 are recorded, 2 and 3 are not (and
    their files are lost). The rerun skips the recorded shards without
    touching their files and leaves every span exactly once."""
    spans = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    out = tmp_path / "spans"
    lineage.write_shards(spans, str(out), n_shards=4)
    done = out / "_shards_done"
    shutil.rmtree(done)
    spark.createDataFrame([(0, 4), (1, 4)], "shard int, n_shards int").write.parquet(
        str(done)
    )
    shutil.rmtree(out / "shard=2")
    shutil.rmtree(out / "shard=3")
    kept = {s: _files(out / f"shard={s}") for s in (0, 1)}
    assert all(kept.values())

    second = lineage.write_shards(spans, str(out), n_shards=4)
    assert second["resumed_shards_skipped"] == 2
    # a static overwrite would have replaced the skipped shards' files
    assert {s: _files(out / f"shard={s}") for s in (0, 1)} == kept
    back = spark.read.parquet(str(out)).select(*spans.columns)
    assert back.count() == spans.count()
    assert back.exceptAll(spans).isEmpty() and spans.exceptAll(back).isEmpty()
    redone = lineage.with_shard(spans, 4).filter(F.col("shard") >= 2)
    assert second["n_spans"] == redone.count() > 0
    manifest = spark.read.parquet(str(done))
    assert sorted(r.shard for r in manifest.collect()) == [0, 1, 2, 3]


def test_rerun_with_another_shard_count_raises(spark, tmp_path):
    """Residues of one shard count name other documents under another:
    resuming a 4-shard output as 8 shards would write spans twice."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(1, 9)], ["doc_id", "text"]
    )
    spans = extract.extract_spans(corpus.spans_of(docs))
    out = tmp_path / "spans"
    lineage.write_shards(spans, str(out), n_shards=4)
    files = sorted(p.relative_to(out) for p in out.rglob("*"))
    with pytest.raises(ValueError, match="write to a new directory"):
        lineage.write_shards(spans, str(out), n_shards=8)
    assert sorted(p.relative_to(out) for p in out.rglob("*")) == files
