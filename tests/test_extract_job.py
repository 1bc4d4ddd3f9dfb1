"""spark-submit job entry point (jobs/extract_job.py)."""

from __future__ import annotations

import importlib.util
import json
import pathlib


def _job():
    p = pathlib.Path(__file__).parent.parent / "jobs" / "extract_job.py"
    spec = importlib.util.spec_from_file_location("extract_job", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_extract_job_writes_sharded_spans(spark, sf_dir, tmp_path, capsys):
    mod = _job()
    out = tmp_path / "spans"
    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_spans"] > 0 and m["n_text"] > 0 and m["n_media"] > 0
    df = spark.read.parquet(str(out))
    assert df.count() == m["n_spans"]
    assert df.select("shard").distinct().count() == 4


def test_ingest_job_emits_interleaved_spans(spark, sf_dir, tmp_path, capsys):
    mod = _job()
    out = tmp_path / "ingest"
    rc = mod.main(
        ["--pipeline", "ingest", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    df = spark.read.parquet(str(out))
    kinds = {r.kind for r in df.select("kind").distinct().collect()}
    assert kinds == {"text", "media"}
    assert df.count() == m["n_spans"]


def test_extract_job_resumes_at_shard_granularity(spark, sf_dir, tmp_path, capsys):
    mod = _job()
    out = tmp_path / "spans"
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    import json as _json

    first = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n = spark.read.parquet(str(out)).count()
    # second run: all shards committed -> nothing rewritten
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    second = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["resumed_shards_skipped"] == 4
    assert (second["n_spans"] or 0) == 0
    assert spark.read.parquet(str(out)).count() == n == first["n_spans"]


def test_resume_rewrites_unmanifested_partial_shards(spark, sf_dir, tmp_path, capsys):
    """A crash can leave a partially-populated shard dir WITHOUT its
    manifest row (committer v2 / direct committers publish task files
    immediately). Resume must rewrite such shards — dynamic overwrite,
    no silent skip, no append duplication."""
    import shutil

    mod = _job()
    out = tmp_path / "spans"
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n = spark.read.parquet(str(out)).count()
    assert n == first["n_spans"]
    # simulate the crash: manifest gone, one shard dir half-truncated
    # (its published files exist but the run never recorded completion)
    shutil.rmtree(out / "_shards_done")
    shard_dir = out / "shard=2"
    files = sorted(shard_dir.glob("*.parquet"))
    assert files
    files[0].unlink()
    assert spark.read.parquet(str(out)).count() < n
    # re-run: nothing is in the manifest, so every shard is rewritten
    mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["resumed_shards_skipped"] == 0
    # exactly-once: the partial shard was REPLACED, the rest overwritten
    # in place — total equals the clean single-run count, not more
    assert spark.read.parquet(str(out)).count() == n


def test_uncommitted_manifest_resumes_from_scratch(
    spark, sf_dir, tmp_path, capsys
):
    """A kill during the manifest append leaves ``_shards_done`` holding
    only ``_temporary/``: nothing is done, and the job runs every shard
    instead of failing on every later run."""
    mod = _job()
    args = ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
            "--shards", "4"]
    clean, out = tmp_path / "clean", tmp_path / "spans"
    assert mod.main(args + ["--output", str(clean)]) == 0
    (out / "_shards_done" / "_temporary" / "0").mkdir(parents=True)
    assert mod.main(args + ["--output", str(out)]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["resumed_shards_skipped"] == 0
    n = spark.read.parquet(str(clean)).count()
    assert spark.read.parquet(str(out)).count() == m["n_spans"] == n
    assert spark.read.parquet(str(out / "_shards_done")).count() == 4


def test_corrupt_manifest_raises_instead_of_rewriting(spark, sf_dir, tmp_path, capsys):
    """Only a missing or uncommitted manifest means "first run": an
    unreadable one must fail the job, not rewrite every committed
    shard."""
    import pytest
    from py4j.protocol import Py4JJavaError

    mod = _job()
    out = tmp_path / "spans"
    args = ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
            "--output", str(out), "--shards", "4"]
    assert mod.main(args) == 0
    capsys.readouterr()
    shard_files = {p: p.stat().st_mtime_ns for p in out.glob("shard=*/*.parquet")}
    assert shard_files
    for f in (out / "_shards_done").glob("*.parquet"):
        f.write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):  # the failed footer-read job
        mod.main(args)
    assert not capsys.readouterr().out.strip()
    assert {p: p.stat().st_mtime_ns for p in out.glob("shard=*/*.parquet")} == shard_files


def test_warc_job_parses_archive_shards_to_spans(spark, sf_dir, tmp_path, capsys):
    # web path end-to-end via spark-submit entry: raw documents are
    # wrapped into WARC shards, parsed length-framed, and the 200
    # bodies flow through the same DOM extraction as the ingest
    # pipeline; 404 captures contribute no spans
    mod = _job()
    out = tmp_path / "warc_spans"
    rc = mod.main(
        ["--pipeline", "warc", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    df = spark.read.parquet(str(out))
    assert df.count() == m["n_spans"] > 0
    kinds = {r.kind for r in df.select("kind").distinct().collect()}
    assert kinds == {"text", "media"}
    # the 404 captures (doc_id % 50 == 7) must be absent
    n404 = df.filter((df.doc_id % 50) == 7).count()
    assert n404 == 0


def test_icetable_sink_commits_spans_with_shard_properties(
    spark, sf_dir, tmp_path, capsys
):
    """--sink icetable: spans land in the snapshot table, the commit's
    properties carry the shard list, and reads see every span."""
    mod = _job()
    out = tmp_path / "ice"
    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4", "--sink", "icetable"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["sink"] == "icetable" and m["table_version"] == 1
    from pero_ocr_spark.sources.icetable import IceTable

    table = IceTable(str(out))
    assert table.read(spark).count() == m["n_spans"] > 0
    (snap,) = table.history()
    assert snap["properties"]["shards"] == [0, 1, 2, 3]
    assert snap["properties"]["pipeline"] == "extract"


def test_icetable_sink_resume_is_commit_atomic(spark, sf_dir, tmp_path, capsys):
    """Done shards come from the table's own commit log: a partial
    prior commit (simulating a crash AFTER commit N) resumes with only
    the missing shards, and a fully-committed table appends nothing —
    no side manifest exists to disagree with the data."""
    mod = _job()
    out = tmp_path / "ice"
    # simulate a prior run that committed shards {0, 1} then died
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract, sampling
    from pero_ocr_spark.sources.icetable import IceTable
    from pyspark.sql import functions as F

    spans = extract.extract_spans(
        corpus.spans_table(spark, sf_dir)
    ).withColumn("shard", sampling._residue(4).cast("int"))
    table = IceTable(str(out))
    table.commit(
        spans.filter(F.col("shard") < 2),
        properties={"pipeline": "extract", "shards": [0, 1]},
    )
    n_partial = table.read(spark).count()

    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4", "--sink", "icetable"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["resumed_shards_skipped"] == 2 and m["table_version"] == 2
    total = table.read(spark).count()
    assert n_partial < total == spans.count()
    assert m["n_spans"] == total - n_partial

    # third run: everything recorded in the log -> append nothing
    rc = mod.main(
        ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
         "--output", str(out), "--shards", "4", "--sink", "icetable"]
    )
    m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m2["resumed_shards_skipped"] == 4
    assert m2["n_spans"] == 0 and m2["table_version"] == 2
    assert table.read(spark).count() == total


def _few_docs(spark, sf_dir, tmp_path):
    """Three documents: at most three of the job's shards hold rows."""
    path = tmp_path / "few" / "documents.parquet"
    spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 3"
    ).write.parquet(str(path))
    return str(path)


def test_icetable_empty_pending_shards_report_zeros(
    spark, sf_dir, tmp_path, capsys
):
    """The shards left to run hold no rows: the run commits them and
    reports zero counters, not nulls."""
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract, sampling, shuffle_width
    from pero_ocr_spark.sources.icetable import IceTable

    inp = _few_docs(spark, sf_dir, tmp_path)
    spans = extract.extract_spans(
        corpus.spans_of(
            spark.read.parquet(inp).repartition(shuffle_width(spark), "doc_id")
        )
    ).withColumn("shard", sampling._residue(64).cast("int"))
    full = sorted(r.shard for r in spans.select("shard").distinct().collect())
    assert 0 < len(full) <= 3
    out = tmp_path / "ice"
    IceTable(str(out)).commit(
        spans, properties={"pipeline": "extract", "shards": full}
    )

    rc = _job().main(
        ["--pipeline", "extract", "--input", inp, "--output", str(out),
         "--shards", "64", "--sink", "icetable"]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["resumed_shards_skipped"] == len(full) and m["table_version"] == 2
    counters = ("n_spans", "n_text", "n_media", "n_chars", "max_ord")
    assert [m[k] for k in counters] == [0] * len(counters)
    snap = IceTable(str(out)).history()[-1]
    assert snap["properties"]["shards"] == sorted(set(range(64)) - set(full))


def test_icetable_counter_errors_propagate(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failure reading the write's counters is not mistaken for an
    empty write."""
    import pytest
    from pero_ocr_spark.operators import telemetry

    class _Broken:
        @property
        def get(self):
            raise RuntimeError("counters lost")

    monkeypatch.setattr(
        telemetry, "observe_extraction", lambda df: (df, _Broken())
    )
    with pytest.raises(RuntimeError, match="counters lost"):
        _job().main(
            ["--pipeline", "extract", "--input",
             _few_docs(spark, sf_dir, tmp_path), "--output",
             str(tmp_path / "ice"), "--shards", "4", "--sink", "icetable"]
        )


def test_nested_input_extraction_spreads_one_row_group(spark, sf_dir, tmp_path):
    """Extraction adds no exchange, so a one-row-group nested table
    must be spread before it, or the whole job runs in one task."""
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import shuffle_width

    nested = str(tmp_path / "nested")
    corpus.spans_table(spark, sf_dir).coalesce(1).write.parquet(nested)
    assert spark.read.parquet(nested).rdd.getNumPartitions() == 1
    got = _job().extracted(spark, nested)
    assert got.rdd.getNumPartitions() >= shuffle_width(spark) // 2
    assert got.count() > 0
