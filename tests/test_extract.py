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


# The extraction as it was first written: explode every span, classify
# it with a CASE, strip boilerplate, then number each document's spans
# with a row_number window over (doc_id, offset). extract.extract_spans
# must reproduce it exactly wherever doc_id is unique per row.
_WINDOW_BOILERPLATE_KINDS = ("boilerplate", "nav", "header", "footer", "cookie")


def _window_extract(doc_spans):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    flat = doc_spans.select(
        "doc_id", F.explode_outer("spans").alias("span")
    ).select(
        "doc_id",
        *(F.col(f"span.{c}").alias(c) for c in ("kind", "text", "media_ref", "offset")),
    )
    is_stop_text = (F.col("kind") == "text") & F.col("text").isin(
        *extract.BOILERPLATE_WORDS
    )
    flat = flat.withColumn(
        "kind",
        F.when(
            F.col("kind").isin(*_WINDOW_BOILERPLATE_KINDS) | is_stop_text,
            F.lit("boilerplate"),
        ).otherwise(F.col("kind")),
    ).filter(
        (F.col("kind") == "media")
        | ((F.col("kind") == "text") & (F.col("text") != ""))
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    return flat.withColumn(
        "ord", (F.row_number().over(w) - 1).cast("long")
    ).select("doc_id", "kind", "text", "media_ref", "ord")


def _assert_same_extraction(doc_spans):
    got = extract.extract_spans(doc_spans)
    want = _window_extract(doc_spans)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    return got


def test_extract_spans_equals_window_extraction(spark, sf_dir):
    got = _assert_same_extraction(corpus.spans_table(spark, sf_dir))
    assert got.count() > 0


_SPANS_DDL = (
    "doc_id long, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _span(kind, text, ref, offset):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}


def test_extract_spans_equals_window_extraction_on_edge_documents(spark):
    heavy = " ".join(f"w{k}" for k in range(99))  # doc_id % 97 == 0: 64x
    docs = spark.createDataFrame(
        [(97 * 5, heavy)], "doc_id long, text string"
    )
    big = corpus.spans_of(docs).collect()[0]["spans"]
    assert len(big) == 99 * 64
    edge = spark.createDataFrame(
        [
            (1, None),
            (2, []),
            (3, [None, _span("text", "x", "", 1), None]),
            (
                4,
                [
                    _span(None, "k", "", 3),
                    _span("text", None, "", 2),
                    _span("text", "late", "", None),
                    _span("media", None, None, 1),
                    _span("text", "early", "", 0),
                ],
            ),
            (
                5,
                [
                    _span("text", "max", "", 2**31 - 1),
                    _span("text", "min", "", -(2**31)),
                    _span("media", "", "img://5/m", -7),
                    _span("text", "zero", "", 0),
                ],
            ),
            (
                6,
                [
                    _span(kind, "w", "", k)
                    for k, kind in enumerate(_WINDOW_BOILERPLATE_KINDS)
                ]
                + [
                    _span("text", "the", "", 10),
                    _span("text", "a", "", 11),
                    _span("text", "", "", 12),
                    _span("caption", "c", "", 13),
                    _span("text", "kept", "", 14),
                    _span("media", "", "img://6/m", 15),
                ],
            ),
            (None, [_span("text", "b", "", 1), _span("text", "a2", "", 0)]),
            (97 * 5, list(big)),
        ],
        _SPANS_DDL,
    )
    got = _assert_same_extraction(edge)
    seqs = {}
    for r in got.orderBy("doc_id", "ord").collect():
        seqs.setdefault(r["doc_id"], []).append(r["text"])
    assert 1 not in seqs and 2 not in seqs
    assert seqs[3] == ["x"]
    assert seqs[4] == ["late", "early", None]
    assert seqs[5] == ["min", "", "zero", "max"]
    assert seqs[6] == ["kept", ""]
    assert seqs[None] == ["a2", "b"]


def test_duplicate_doc_id_rows_are_ordered_each_on_their_own(spark):
    """One nested row is one document: two rows sharing a doc_id keep
    separate reading orders (the window used to merge them)."""
    rows = spark.createDataFrame(
        [
            (7, [_span("text", "x", "", 2), _span("text", "y", "", 1)]),
            (7, [_span("text", "z", "", 0)]),
        ],
        _SPANS_DDL,
    )
    got = sorted(
        (r["ord"], r["text"]) for r in extract.extract_spans(rows).collect()
    )
    assert got == [(0, "y"), (0, "z"), (1, "x")]


def test_engine_and_oracle_drop_unknown_kinds(spark):
    spans = [
        _span("caption", "c", "", 0),
        _span("text", "the", "", 1),
        _span("media", "", "img://9/2", 2),
        _span("nav", "menu", "", 3),
        _span("text", "", "", 4),
        _span("text", "body", "", 5),
    ]
    want = oracle.extract_doc(spans)
    assert [s["text"] for s in want] == ["", "body"]
    got = extract.extract_spans(
        spark.createDataFrame([(9, spans)], _SPANS_DDL)
    ).orderBy("ord")
    assert [r.asDict() for r in got.drop("doc_id").collect()] == want


def test_extract_plan_has_one_exchange_and_no_comparator_sort(spark, sf_dir):
    """SCALE.md §1: the whole extraction runs with one exchange (the
    documents repartition), sorts no rows, and the scramble is a
    primitive sort_array, not an array_sort. The span filter runs
    once: an inferred Generate filter would evaluate the span chain a
    second time."""
    df = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    nodes = [ln.lstrip(" +-:*()0123456789") for ln in final.splitlines()]
    assert [n for n in nodes if n.startswith("Exchange")] == [
        n for n in nodes if n.startswith("Exchange hashpartitioning(doc_id")
    ]
    assert sum(n.startswith("Exchange") for n in nodes) == 1, final
    assert not any(n.startswith(("Window", "Sort")) for n in nodes), final
    assert final.count("filter(") == 1, final
    assert "array_sort(" not in plan, plan
    assert "sort_array(" in plan, plan
