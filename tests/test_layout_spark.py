"""Spark layout stage tests on the synthetic lines table."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pero_ocr_spark.operators import layout


def _lines_table_columns(spark, sf_dir):
    """``layout.lines_table`` as it was written with the Column API,
    one py4j call per expression node: the reference its SQL-string
    form must plan and compute exactly like."""
    from pero_ocr_spark import corpus

    spans = corpus.extracted_spans(spark, sf_dir)
    t = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "ord",
        (F.col("ord") % 2).alias("col"),
        (F.col("ord") / 2).cast("long").alias("row"),
        (F.length("text") * 8).alias("w"),
    )
    base = t.select(
        "doc_id",
        F.concat(F.lit("r"), F.col("col")).alias("region_id"),
        F.concat(F.lit("l"), F.col("ord")).alias("line_id"),
        "ord",
        (F.col("col") * layout.PAGE_COL_W + 10).cast("double").alias("x0"),
        (F.col("col") * layout.PAGE_COL_W + 10 + F.col("w")).cast("double").alias("x1"),
        (F.col("row") * layout.ROW_H + 20).cast("double").alias("y"),
        F.lit(layout.ASC).alias("asc"),
        F.lit(layout.DESC).alias("desc"),
    )
    mid = (F.col("x0") + F.col("x1")) / 2
    seg = F.when(
        (F.col("ord") % 5 == 4) & (F.col("x1") - F.col("x0") > 20),
        F.array(
            F.struct(
                F.concat(F.col("line_id"), F.lit("a")).alias("line_id"),
                F.col("x0").alias("x0"),
                (mid - 5).alias("x1"),
            ),
            F.struct(
                F.concat(F.col("line_id"), F.lit("b")).alias("line_id"),
                (mid + 5).alias("x0"),
                F.col("x1").alias("x1"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("line_id").alias("line_id"),
                F.col("x0").alias("x0"),
                F.col("x1").alias("x1"),
            )
        )
    )
    return base.select(
        "doc_id", "region_id", "ord", "y", "asc", "desc", F.explode(seg).alias("seg")
    ).select(
        "doc_id",
        "region_id",
        F.col("seg.line_id").alias("line_id"),
        "ord",
        F.col("seg.x0").alias("x0"),
        F.col("seg.x1").alias("x1"),
        "y",
        "asc",
        "desc",
    )


def _optimized_plan(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_lines_table_plans_and_computes_like_the_column_api(spark, sf_dir):
    got = layout.lines_table(spark, sf_dir)
    want = _lines_table_columns(spark, sf_dir)
    assert got.schema == want.schema
    assert _optimized_plan(got) == _optimized_plan(want)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_lines_table_halves(spark, sf_dir):
    lines = layout.lines_table(spark, sf_dir)
    one = lines.filter(F.col("ord") % 5 == 4)
    assert one.count() > 0
    assert one.filter(~F.col("line_id").rlike("[ab]$")).count() == 0
    # keys unique
    assert (
        lines.groupBy("doc_id", "line_id").count().filter("count > 1").count() == 0
    )


def test_merge_restores_ord_count(spark, sf_dir):
    lines = layout.lines_table(spark, sf_dir).filter(F.col("doc_id") < 20)
    merged = layout.merge_lines_stage(lines)
    want = lines.select("doc_id", "region_id", "ord").distinct().count()
    assert merged.count() == want


def test_assign_no_duplicates_and_clipping(spark, sf_dir):
    lines = layout.lines_table(spark, sf_dir).filter(F.col("doc_id") < 20)
    regions = layout.regions_table(spark, sf_dir).filter(F.col("doc_id") < 20)
    shrunk = regions.select(
        "doc_id",
        "region_id",
        "rx0",
        (F.col("rx0") + 0.8 * (F.col("rx1") - F.col("rx0"))).alias("rx1"),
        "ry0",
        "ry1",
    )
    out = layout.assign_lines_to_regions(lines, shrunk)
    assert out.groupBy("doc_id", "line_id", "region_id").count().filter(
        "count > 1"
    ).count() == 0
    # some lines actually got clipped (cx1 < original x1)
    joined = out.join(
        lines.select("doc_id", "line_id", "x1"), ["doc_id", "line_id"]
    )
    assert joined.filter(F.col("cx1") < F.col("x1")).count() > 0


def test_assign_join_stays_broadcast(spark, sf_dir):
    """Plan-shape guard (round-3 verdict item 3): the lines↔regions
    candidate join must be a broadcast hash join — the regions side is
    per-doc-small by construction and an autoBroadcastJoinThreshold
    change or lineage refactor silently degrading it to sort-merge
    would make this the dominant shuffle at scale."""
    lines = layout.lines_table(spark, sf_dir)
    regions = layout.regions_table(spark, sf_dir)
    plan = layout.assign_lines_to_regions(lines, regions)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_xycut_reading_order_derotates_by_baseline_tilt(spark):
    """Two regions on one row of a page tilted by -20 degrees: the right
    one's bbox sits ~60px higher, so untilted ordering reads it first.
    The per-doc tilt comes from the baselines of the region with the
    most lines, and the result must equal the driver-side sorter."""
    import numpy as np

    from pero_ocr_spark.functions import geometry as G

    tilt = -20.0
    rects = {"a": (0.0, 120.0, 120.0, 150.0), "b": (220.0, 120.0, 300.0, 150.0)}

    def rotated(pts):
        return G.rotate_points(np.asarray(pts, dtype=np.float64), tilt)

    boxes, regions = [], []
    for rid, (x0, y0, x1, y1) in sorted(rects.items()):
        p = rotated([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
        box = tuple(float(v) for v in (*p.min(axis=0), *p.max(axis=0)))
        boxes.append(box)
        regions += [(doc, rid, *box) for doc in (1, 2)]
    # three baselines in region a (the dominant one), one in region b;
    # doc 2 has no lines, so it is ordered untilted
    chords = [("a", 0.0, 120.0, 130.0), ("a", 0.0, 120.0, 140.0),
              ("a", 10.0, 110.0, 150.0), ("b", 220.0, 300.0, 150.0)]
    baselines = {rid: [] for rid in rects}
    lines = []
    for rid, x0, x1, y in chords:
        bl = rotated([[x0, y], [x1, y]])
        baselines[rid].append(bl)
        lines.append((1, rid, *(float(v) for v in bl.reshape(-1))))
    regions_df = spark.createDataFrame(
        regions, "doc_id long, region_id string, rx0 double, ry0 double, "
        "rx1 double, ry1 double",
    )
    lines_df = spark.createDataFrame(
        lines, "doc_id long, region_id string, x0 double, y0 double, "
        "x1 double, y1 double",
    )
    got = {
        (r["doc_id"], r["region_id"]): r["reading_order"]
        for r in layout.region_reading_order(
            regions_df, mode="xycut", lines=lines_df
        ).collect()
    }

    def want(rotation):
        order = G.smart_sort_order(boxes, rotation=rotation)
        return {sorted(rects)[i]: k for k, i in enumerate(order)}

    tilted = want(G.smart_baseline_rotation(baselines["a"]))
    flat = want(0.0)
    assert tilted != flat  # the rotation changes the order here
    assert {rid: got[(1, rid)] for rid in rects} == tilted
    assert {rid: got[(2, rid)] for rid in rects} == flat
