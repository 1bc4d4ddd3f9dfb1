"""r6 guard: operators.grouped_map_in_pandas must stay semantically
equal to the groupBy(key).applyInPandas form it replaces — including
null group keys, groups spanning Arrow batch boundaries, and
composite keys — and the group bounds grouped_batches_in_pandas hands
its per-batch function must be pandas groupby's. Also pins operators.flat_map_in_pandas: zero, one or
many output rows per input row, in input order, with empty batches
and nulls converting to every column type."""

import numpy as np
import pandas as pd
import pytest

from pero_ocr_spark.operators import (
    flat_map_in_pandas,
    grouped_batches_in_pandas,
    grouped_map_in_pandas,
)


def _make_summarize():
    # defined inside a factory so it pickles BY VALUE to the workers
    def _summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "n": [len(pdf)],
                "s": [int(pdf["v"].sum())],
            }
        )

    return _summarize


class TestGroupedMapInPandas:
    def _compare(self, spark, df, key, fn, schema):
        nk = lambda t: tuple(  # noqa: E731 — None-safe sort key
            (x is None, 0 if x is None else x) for x in t
        )
        got = sorted(
            map(tuple, grouped_map_in_pandas(df, key, fn, schema).collect()),
            key=nk,
        )
        want = sorted(
            map(
                tuple,
                df.groupBy(key if isinstance(key, list) else [key])
                .applyInPandas(fn, schema)
                .collect(),
            ),
            key=nk,
        )
        assert got == want

    def test_matches_apply_in_pandas_with_nulls(self, spark):
        import random

        random.seed(11)
        rows = [
            (random.choice([1, 2, 3, 7, None]), i) for i in range(500)
        ]
        df = spark.createDataFrame(rows, "doc_id long, v long")
        self._compare(
            spark, df, "doc_id", _make_summarize(),
            "doc_id long, n long, s long",
        )

    def test_group_spanning_many_batches(self, spark):
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
        try:
            rows = [(1, i) for i in range(400)] + [
                (j % 5 + 10, j) for j in range(200)
            ]
            df = spark.createDataFrame(rows, "doc_id long, v long")
            self._compare(
                spark, df, "doc_id", _make_summarize(),
                "doc_id long, n long, s long",
            )
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )

    def test_composite_string_key(self, spark):
        rows = [
            (i % 7, f"r{i % 3}", i) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "doc_id long, region_id string, v long")

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "doc_id": [pdf["doc_id"].iloc[0]],
                    "region_id": [pdf["region_id"].iloc[0]],
                    "n": [len(pdf)],
                    "s": [int(pdf["v"].sum())],
                }
            )

        self._compare(
            spark, df, ["doc_id", "region_id"], fn,
            "doc_id long, region_id string, n long, s long",
        )

    def test_group_frame_has_fresh_range_index(self, spark):
        # applyInPandas hands each group a 0-based RangeIndex; label
        # access must work for groups that sit mid-batch, and for the
        # carried group that spans a batch boundary
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            rows = [(i % 40, (i % 40) * 10) for i in range(200)]
            df = spark.createDataFrame(rows, "doc_id long, v long")

            def first_v(pdf: pd.DataFrame) -> pd.DataFrame:
                return pd.DataFrame(
                    {
                        "doc_id": [pdf["doc_id"].iloc[0]],
                        "n": [len(pdf)],
                        "s": [int(pdf.loc[0, "v"])],
                    }
                )

            self._compare(
                spark, df, "doc_id", first_v, "doc_id long, n long, s long"
            )
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )


class TestGroupedBatchBounds:
    @pytest.mark.parametrize("key", ["doc_id", ["doc_id", "region_id"]])
    def test_bounds_are_groupby_boundaries(self, spark, key):
        # null keys in both columns, and one group (5, "z") spread over
        # several 40-row Arrow batches
        import random

        random.seed(16)
        rows = [
            (random.choice([1, 2, 3, None]), random.choice(["a", "b", None]), i)
            for i in range(600)
        ] + [(5, "z", i) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, region_id string, v long")
        keys = key if isinstance(key, list) else [key]

        def per_batch(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
            sizes = pdf.groupby(keys, sort=False, dropna=False).size()
            ok = np.array_equal(bounds, np.r_[0, np.cumsum(sizes.to_numpy())])
            first = pdf.iloc[bounds[:-1]]
            return pd.DataFrame(
                {
                    "doc_id": first["doc_id"].to_numpy(),
                    "region_id": first["region_id"].to_numpy(),
                    "n": np.diff(bounds),
                    "ok": ok,
                }
            )

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "40")
        try:
            got = grouped_batches_in_pandas(
                df, key, per_batch,
                "doc_id long, region_id string, n long, ok boolean",
            ).collect()
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        assert got and all(r.ok for r in got)
        # each group comes once and whole: the bounds split no group
        # across two calls, the carried one included
        nk = lambda g: (  # noqa: E731 — None-safe sort key
            tuple((x is None, 0 if x is None else x) for x in g[0]), g[1]
        )
        assert sorted(
            ((tuple(r[k] for k in keys), r.n) for r in got), key=nk
        ) == sorted(
            (
                (tuple(r[k] for k in keys), r["count"])
                for r in df.groupBy(*keys).count().collect()
            ),
            key=nk,
        )


class TestFlatMapInPandas:
    def test_zero_one_many_rows_in_input_order(self, spark):
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        try:
            # row k yields k % 3 == 0 -> none, 1 -> one, 2 -> four rows
            rows = [(k, (0, 1, 4)[k % 3]) for k in range(60)]
            df = spark.createDataFrame(rows, "k long, n long").coalesce(1)

            def per_row(k, n):
                return [(k, i, f"{k}.{i}") for i in range(n)]

            got = [
                tuple(r)
                for r in flat_map_in_pandas(
                    df, per_row, "k long, i int, tag string"
                ).collect()
            ]
            assert got == [
                (k, i, f"{k}.{i}") for k, n in rows for i in range(n)
            ]
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )

    def test_batch_without_output_converts_nested_types(self, spark):
        # every row of every batch yields nothing, and a batch where
        # only some rows do: the empty output frames must still
        # convert to array<bigint> and struct columns
        schema = "k long, xs array<bigint>, st struct<a: bigint, b: string>"
        df = spark.range(40).repartition(8).selectExpr("id AS k")

        def none(k):
            return ()

        assert flat_map_in_pandas(df, none, schema).collect() == []

        def some(k):
            if k % 10 == 0:
                yield k, [k, k + 1], {"a": k, "b": str(k)}

        got = sorted(
            (r.k, list(r.xs), (r.st.a, r.st.b))
            for r in flat_map_in_pandas(df, some, schema).collect()
        )
        assert got == [(k, [k, k + 1], (k, str(k))) for k in (0, 10, 20, 30)]

    def test_nulls_pass_through(self, spark):
        df = spark.createDataFrame(
            [(1, "ab"), (2, None), (None, "c")], "k long, s string"
        ).coalesce(1)

        def per_row(k, s):
            # pandas hands a null in a long column over as NaN
            k = None if pd.isna(k) else k
            return [(k, s, None if s is None else len(s), None)]

        got = [
            tuple(r)
            for r in flat_map_in_pandas(
                df, per_row, "k long, s string, n long, x double"
            ).collect()
        ]
        assert got == [
            (1, "ab", 2, None), (2, None, None, None), (None, "c", 1, None)
        ]
