"""PcGts PAGE-XML export determinism, transcription sink round trip,
and the job's stage selector (``extract_job --pipeline``)."""

from __future__ import annotations

import importlib.util
import pathlib
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract, layout
from pero_ocr_spark.sources import pcgts, transcriptions


def _extracted(spark, sf_dir, n_docs=30):
    spans = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    return spans.filter(F.col("doc_id") < n_docs)


def _job():
    p = pathlib.Path(__file__).parent.parent / "jobs" / "extract_job.py"
    spec = importlib.util.spec_from_file_location("extract_job", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_page_xml_deterministic(spark, sf_dir):
    src = layout.lines_with_geometry(spark, sf_dir).filter(F.col("doc_id") < 5)
    x1 = {r["doc_id"]: r["xml"] for r in pcgts.export_pcgts(src).collect()}
    x2 = {r["doc_id"]: r["xml"] for r in pcgts.export_pcgts(src).collect()}
    assert x1 and x1 == x2
    assert all(f"<Created>{pcgts.CREATED}</Created>" in x for x in x1.values())


def test_xml_escaping(spark):
    # markup characters in element text and in attributes survive the
    # PcGts export/import round trip
    row = {
        "doc_id": 1, "page_id": 'scan "1" & <2>.jpg', "page_h": 100,
        "page_w": 100, "region_id": "r1", "region_type": "", "region_order": 0,
        "line_id": "l1", "idx": 0,
        "baseline": [[0.0, 30.0], [50.0, 30.0]],
        "polygon": [[0.0, 20.0], [50.0, 20.0], [50.0, 34.0], [0.0, 34.0]],
        "height_up": 10.0, "height_down": 4.0,
        "transcription": "a < b & c", "confidence": 0.5,
    }
    src = spark.createDataFrame([row], schema=pcgts.LINES_DDL)
    (x,) = pcgts.export_pcgts(src).collect()
    assert "a &lt; b &amp; c" in x["xml"]
    (back,) = pcgts.import_pcgts(spark.createDataFrame(
        [(1, x["xml"])], "doc_id long, xml string")).collect()
    assert back["transcription"] == "a < b & c"
    assert back["page_id"] == 'scan "1" & <2>.jpg'


def test_transcription_sink_round_trip(spark, sf_dir):
    src = _extracted(spark, sf_dir, n_docs=10)
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/transcripts"
        transcriptions.write_transcriptions(src, path)
        back = transcriptions.read_transcriptions(spark, path)
        n_text = src.filter(F.col("kind") == "text").count()
        assert back.count() == n_text
        row = back.filter(F.col("line_key") == "1-l0").collect()
        assert len(row) == 1


def test_pipeline_equals_direct_composition(spark, sf_dir, tmp_path, capsys):
    # the job's raw-documents path equals composing the stages directly
    out = tmp_path / "spans"
    args = ["--pipeline", "extract", "--input", f"{sf_dir}/documents.parquet",
            "--output", str(out), "--shards", "4"]
    assert _job().main(args) == 0
    capsys.readouterr()
    key = ["doc_id", "ord"]
    got = spark.read.parquet(str(out)).drop("shard").toPandas()
    want = extract.extract_spans(corpus.spans_table(spark, sf_dir)).toPandas()
    pd.testing.assert_frame_equal(
        got[want.columns].sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )


def test_pipeline_ingest_chain_equals_direct(spark, sf_dir, tmp_path, capsys):
    from pero_ocr_spark.operators import html as H

    out = tmp_path / "ingest"
    args = ["--pipeline", "ingest", "--input", f"{sf_dir}/documents.parquet",
            "--output", str(out), "--shards", "4"]
    assert _job().main(args) == 0
    capsys.readouterr()
    want = H.html_to_spans(
        H.synthesize_html_interleaved(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    )
    got = spark.read.parquet(str(out)).select(want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pipeline_unknown_stage_raises(capsys):
    with pytest.raises(SystemExit) as exc:
        _job().main(["--pipeline", "nope", "--input", "x", "--output", "y"])
    assert exc.value.code == 2
    assert "invalid choice: 'nope'" in capsys.readouterr().err
