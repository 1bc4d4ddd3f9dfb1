"""Span-sequence equality of the Spark extraction pipeline vs the
single-process oracle — the BASELINE.json input_hint invariant
(kind, text, media_ref, order) per document.
"""

from __future__ import annotations

import pandas as pd

from pero_ocr_spark import corpus, oracle
from pero_ocr_spark.operators import extract


def _spark_result(spark, sf_dir) -> pd.DataFrame:
    doc_spans = corpus.spans_table(spark, sf_dir)
    out = extract.extract_spans(doc_spans)
    return out.toPandas()


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["doc_id", "ord"]).reset_index(drop=True)


def test_span_sequence_equality(spark, sf_dir):
    got = _sorted(_spark_result(spark, sf_dir))
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    want = _sorted(oracle.extract_documents(docs))
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got.astype({"doc_id": "int64", "ord": "int64"}),
        want.astype({"doc_id": "int64", "ord": "int64"}),
    )


def test_order_dense_per_doc(spark, sf_dir):
    got = _spark_result(spark, sf_dir)
    for _, g in got.groupby("doc_id"):
        ords = sorted(g["ord"].tolist())
        assert ords == list(range(len(ords)))


def test_scrambled_input_is_restored(spark, sf_dir):
    # the nested array really is scrambled (offsets not ascending)
    doc_spans = corpus.spans_table(spark, sf_dir)
    row = doc_spans.limit(1).collect()[0]
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets != sorted(offsets)
    assert sorted(offsets) == list(range(len(offsets)))


def test_no_boilerplate_no_empty_text(spark, sf_dir):
    got = _spark_result(spark, sf_dir)
    assert set(got["kind"].unique()) <= {"text", "media"}
    txt = got[got["kind"] == "text"]
    assert (txt["text"] != "").all()
    assert not txt["text"].isin(extract.BOILERPLATE_WORDS).any()
    med = got[got["kind"] == "media"]
    assert med["media_ref"].str.startswith("img://").all()


def test_spans_table_matches_input_contract(spark, sf_dir):
    from pero_ocr_spark import corpus

    df = corpus.spans_table(spark, sf_dir)
    spans_t = df.schema["spans"].dataType.simpleString()
    assert spans_t == (
        "array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    ), spans_t
    assert df.count() > 0


# The scramble as it was first written: a lambda-comparator array_sort
# over the built structs. corpus.spans_of must reproduce it exactly.
_COMPARATOR_SPANS_EXPR = f"""
array_sort(
  transform(
    split(trim(repeat(concat(text, ' '), {corpus.MULT_SQL})), ' '),
    (w, i) -> named_struct(
      'kind',
      CASE WHEN i % 11 = 5 THEN 'media'
           WHEN i % 7 = 3 THEN 'boilerplate'
           ELSE 'text' END,
      'text',
      CASE WHEN i % 11 = 5 THEN ''
           WHEN i % 7 <> 3 AND i % 19 = 11 THEN ''
           ELSE w END,
      'media_ref',
      CASE WHEN i % 11 = 5
           THEN concat('img://', cast(doc_id AS string), '/', cast(i AS string))
           ELSE '' END,
      'offset', i
    )
  ),
  (a, b) -> CASE
    WHEN (a.offset * 2654435761) % 4294967296 < (b.offset * 2654435761) % 4294967296 THEN -1
    WHEN (a.offset * 2654435761) % 4294967296 > (b.offset * 2654435761) % 4294967296 THEN 1
    ELSE 0 END
)
"""


def _assert_same_spans(docs):
    from pyspark.sql import functions as F

    got = corpus.spans_of(docs)
    want = docs.select("doc_id", F.expr(_COMPARATOR_SPANS_EXPR).alias("spans"))
    assert got.schema == want.schema
    # whole arrays, order included; multiset difference both ways
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count() == docs.count()


def test_spans_of_equals_comparator_scramble(spark, sf_dir):
    _assert_same_spans(corpus.load_documents(spark, sf_dir))


def test_spans_of_equals_comparator_scramble_on_edge_documents(spark):
    from pyspark.sql import functions as F

    heavy = " ".join(f"w{k}" for k in range(99))  # doc_id % 97 == 0: 64x
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (97 * 5, heavy), (None, "a b c")],
        "doc_id long, text string",
    )
    _assert_same_spans(docs)
    sizes = dict(
        corpus.spans_of(docs).select("doc_id", F.size("spans")).collect()
    )
    assert sizes[97 * 5] == 99 * 64 == 6336
    assert sizes[2] == sizes[3] == 1 and sizes[None] == 3
    assert sizes[1] in (None, -1)  # null text: null array


def test_extract_plan_has_one_exchange_and_no_comparator_sort(spark, sf_dir):
    """SCALE.md §1: the whole extraction runs with one exchange, and
    the scramble is a primitive sort_array, not an array_sort."""
    df = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    exchanges = [ln for ln in final.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, final
    assert "array_sort(" not in plan, plan
    assert "sort_array(" in plan, plan
