"""Spark layout stage tests on the synthetic lines table."""

from __future__ import annotations

from pyspark.sql import functions as F

from pero_ocr_spark.operators import layout


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
