"""Layout-analysis stages over a lines/regions table.

The Spark re-expression of the reference's per-page layout operators
(SURVEY §2.2/2.3/2.5): textline polygon generation (L14), line merging
(L11), spatial line↔region assignment (J1), and region reading order
(O3 band sort / O4 XY-cut). Geometry kernels run vectorized over
sorted Arrow batches of whole page groups
(``grouped_batches_in_pandas`` / ``grouped_map_in_pandas``); the candidate
pruning that the reference does with an n×m bbox matrix per page
(``layout_helpers.py:50-58``) is done at TABLE level as a bbox range
join, so Catalyst/AQE own the join strategy.

The synthetic lines table is derived deterministically from extracted
text spans (two-column page geometry; every 5th line split into two
mergeable halves), giving the geometry operators SQL-checkable
ground truth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.operators import grouped_batches_in_pandas, grouped_map_in_pandas

PAGE_COL_W = 500  # two columns: x ∈ [0,490) and [500,990)
ROW_H = 30
ASC, DESC = 10.0, 4.0


def lines_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic lines: each extracted text span becomes a
    straight baseline in a two-column page; every 5th line is split
    into two horizontally adjacent halves (merge fodder, L11).

    Pure Catalyst expressions (no UDF) — columns:
    doc_id, region_id, line_id, x0, x1, y, asc, desc.

    Written as SQL expression strings: every Column-API call is one
    py4j round trip (~1,000 per build, and the ocr queries build this
    table four times), while one ``selectExpr`` parses its strings in
    the JVM. The optimized plan is the Column-API form's
    (tests/test_layout_spark.py pins it): the structs are ``struct(...
    AS name)``, which analyzes like ``F.struct`` where ``named_struct``
    would not, and the heights are ``D``-suffixed double literals (a
    bare ``10.0`` is a decimal in SQL).
    """
    from pero_ocr_spark import corpus

    base = (
        corpus.extracted_spans(spark, sf_dir)
        .filter("kind = 'text'")
        .selectExpr(
            "doc_id",
            "ord",
            "ord % 2 AS col",
            "CAST(ord / 2 AS BIGINT) AS row",
            "length(text) * 8 AS w",
        )
        .selectExpr(
            "doc_id",
            "concat('r', col) AS region_id",
            "concat('l', ord) AS line_id",
            "ord",
            f"CAST(col * {PAGE_COL_W} + 10 AS DOUBLE) AS x0",
            f"CAST(col * {PAGE_COL_W} + 10 + w AS DOUBLE) AS x1",
            f"CAST(row * {ROW_H} + 20 AS DOUBLE) AS y",
            f"{ASC}D AS asc",
            f"{DESC}D AS desc",
        )
    )
    # single explode instead of a 3-way union: one scan, and no Union
    # node claiming its children's hash partitioning (a union of
    # same-partitioned branches concatenates partitions, so a
    # downstream agg that trusts the claim would merge per-branch
    # partials incorrectly — observed on the broadcast side of the
    # assign join).
    # The width guard keeps split halves non-degenerate: a 1-2 char
    # line (w <= 20) split around mid±5 would produce x1 < x0 halves
    # that render no ink and break every image-query oracle.
    seg = """CASE WHEN ord % 5 = 4 AND x1 - x0 > 20 THEN array(
        struct(concat(line_id, 'a') AS line_id, x0 AS x0,
               (x0 + x1) / 2 - 5 AS x1),
        struct(concat(line_id, 'b') AS line_id,
               (x0 + x1) / 2 + 5 AS x0, x1 AS x1))
      ELSE array(struct(line_id AS line_id, x0 AS x0, x1 AS x1)) END"""
    return base.selectExpr(
        "doc_id", "region_id", "ord", "y", "asc", "desc", f"explode({seg}) AS seg"
    ).selectExpr(
        "doc_id",
        "region_id",
        "seg.line_id AS line_id",
        "ord",
        "seg.x0 AS x0",
        "seg.x1 AS x1",
        "y",
        "asc",
        "desc",
    )


def regions_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document column regions (rectangles) sized to the doc's rows."""
    lines = lines_table(spark, sf_dir)
    return lines.groupBy("doc_id", "region_id").agg(
        F.min("x0").alias("rx0"),
        F.max("x1").alias("rx1"),
        (F.min("y") - ROW_H / 2).alias("ry0"),
        (F.max("y") + ROW_H / 2).alias("ry1"),
    )


PAGE_H, PAGE_W = 2000, 1000


def lines_with_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lines_table enriched to the full PcGts lines schema
    (``sources/pcgts.LINES_DDL``): transcription text joined back from
    the extracted spans, 2-point baselines, rect polygons, heights,
    per-region reading order, deterministic confidences. Pure Catalyst
    (arrays built with F.array), no UDF."""
    from pero_ocr_spark import corpus

    lines = lines_table(spark, sf_dir)
    spans = corpus.extracted_spans(spark, sf_dir)
    text = spans.filter(F.col("kind") == "text").select("doc_id", "ord", "text")
    pt = lambda x, y: F.array(x, y)  # noqa: E731
    return (
        lines.join(text, ["doc_id", "ord"])
        .select(
            "doc_id",
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("page_id"),
            F.lit(PAGE_H).cast("long").alias("page_h"),
            F.lit(PAGE_W).cast("long").alias("page_w"),
            "region_id",
            F.lit("paragraph").alias("region_type"),
            F.substring("region_id", 2, 10).cast("long").alias("region_order"),
            "line_id",
            F.col("ord").alias("idx"),
            F.array(pt(F.col("x0"), F.col("y")), pt(F.col("x1"), F.col("y"))).alias(
                "baseline"
            ),
            F.array(
                pt(F.col("x0"), F.col("y") - F.col("asc")),
                pt(F.col("x1"), F.col("y") - F.col("asc")),
                pt(F.col("x1"), F.col("y") + F.col("desc")),
                pt(F.col("x0"), F.col("y") + F.col("desc")),
            ).alias("polygon"),
            F.col("asc").alias("height_up"),
            F.col("desc").alias("height_down"),
            F.col("text").alias("transcription"),
            (F.lit(0.5) + (F.col("ord") % 50) / F.lit(100.0)).alias("confidence"),
        )
    )


def textline_polygons(lines: DataFrame) -> DataFrame:
    """L14: baseline → textline polygon extent. For a straight 2-point
    baseline the polygon is exactly the rect (x0, y-asc) … (x1,
    y+desc), so this is a PURE column expression — whole-stage
    codegen, no Python."""
    return lines.select(
        "doc_id",
        "line_id",
        F.col("x0").alias("px0"),
        (F.col("y") - F.col("asc")).alias("py0"),
        F.col("x1").alias("px1"),
        (F.col("y") + F.col("desc")).alias("py1"),
    )


def merge_lines_stage(lines: DataFrame) -> DataFrame:
    """L11: merge horizontally adjacent baselines per (doc, region) —
    union-find closure per group, repeated to the fixpoint.

    Group mechanics: the kernel is sub-millisecond per group, so
    per-group Arrow batches (applyInPandas: one JVM↔python round trip
    for EACH of the ~10k tiny groups) would dominate wall time.
    ``grouped_batches_in_pandas`` hands ``process`` big sorted batches
    of whole (doc, region) groups instead — ~300x fewer Arrow round
    trips — with the group bounds of each batch."""

    def process(pdf: pd.DataFrame, bounds: np.ndarray) -> pd.DataFrame:
        # array-in/array-out per group (``G.merge_lines_straight``) over
        # flat-array slices — pandas groupby's per-group frame slicing
        # was ~0.7 ms × 20k groups (≈2/3 of the stage's wall time);
        # flat-array slices are ~µs
        dcol = pdf["doc_id"].to_numpy()
        rcol = pdf["region_id"].to_numpy()
        ax0 = pdf["x0"].to_numpy()
        ax1 = pdf["x1"].to_numpy()
        ay = pdf["y"].to_numpy()
        aasc = pdf["asc"].to_numpy()
        adesc = pdf["desc"].to_numpy()
        docs, rids, idxs = [], [], []
        outs: list[tuple[np.ndarray, ...]] = []
        for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
            m = G.merge_lines_straight(
                ax0[s:e], ax1[s:e], ay[s:e], aasc[s:e], adesc[s:e]
            )
            k = len(m[0])
            docs.append(np.full(k, dcol[s], dtype=np.int64))
            rids.extend([rcol[s]] * k)
            idxs.append(np.arange(k, dtype=np.int32))
            outs.append(m)
        return pd.DataFrame(
            {
                "doc_id": np.concatenate(docs),
                "region_id": rids,
                "line_idx": np.concatenate(idxs),
                "x0": np.concatenate([m[0] for m in outs]),
                "x1": np.concatenate([m[1] for m in outs]),
                "y": np.concatenate([m[2] for m in outs]),
                "asc": np.concatenate([m[3] for m in outs]),
                "desc": np.concatenate([m[4] for m in outs]),
            }
        )

    return grouped_batches_in_pandas(
        lines, ["doc_id", "region_id"], process,
        schema="doc_id long, region_id string, line_idx int, x0 double, "
        "x1 double, y double, asc double, desc double",
    )


def assign_lines_to_regions(lines: DataFrame, regions: DataFrame) -> DataFrame:
    """J1: spatial join lines ↔ regions. Candidate prune = table-level
    bbox range join on doc_id (regions per doc are few → broadcast);
    exact geometry = polygon clip in an Arrow-batched kernel, keeping
    lines whose clipped textline is non-empty. Emits the clipped
    extent (the reference emits the clipped line,
    layout_helpers.py:62-73)."""
    # regions may share lineage with lines (both derived from the same
    # plan) — rename the join key so Catalyst resolves two distinct
    # attributes instead of one trivially-equal self-reference
    r = regions.select(
        F.col("doc_id").alias("rdoc_id"),
        "region_id",
        "rx0",
        "rx1",
        "ry0",
        "ry1",
    )
    cand = (
        lines.drop("region_id")
        .join(
            F.broadcast(r),
            on=[
                F.col("doc_id") == F.col("rdoc_id"),
                F.col("x0") < F.col("rx1"),
                F.col("rx0") < F.col("x1"),
                F.col("y") - F.col("asc") < F.col("ry1"),
                F.col("ry0") < F.col("y") + F.col("desc"),
            ],
        )
        .select(
            "doc_id",
            "line_id",
            "region_id",
            "x0",
            "x1",
            "y",
            "asc",
            "desc",
            "rx0",
            "rx1",
            "ry0",
            "ry1",
        )
    )

    # exact geometry: for a straight baseline's rect textline against
    # a rect region, the Sutherland–Hodgman clip reduces to interval
    # intersection — a PURE column predicate + projection, so the whole
    # join stays in whole-stage codegen with no Python stage.
    cx0 = F.greatest(F.col("x0"), F.col("rx0"))
    cx1 = F.least(F.col("x1"), F.col("rx1"))
    cy0 = F.greatest(F.col("y") - F.col("asc"), F.col("ry0"))
    cy1 = F.least(F.col("y") + F.col("desc"), F.col("ry1"))
    return (
        cand.filter((cx1 > cx0) & (cy1 > cy0))
        .select(
            "doc_id",
            "line_id",
            "region_id",
            cx0.alias("cx0"),
            cx1.alias("cx1"),
            "y",
        )
    )


def region_reading_order(
    regions_with_bbox: DataFrame,
    mode: str = "band",
    eps: float = 50.0,
    lines: DataFrame | None = None,
) -> DataFrame:
    """O3/O4: reading order of regions per document — band sort
    (NaiveRegionSorter semantics) or the SmartRegionSorter coupling
    algorithm (``geometry.smart_sort_order``: transitive >10%-overlap
    clustering with alternating axes, decouple fallback, and the
    dominant-baseline-tilt pre-rotation of ref
    smart_sorter.py:279-303), in one per-doc Arrow stage
    (``grouped_map_in_pandas``).

    ``lines`` (mode="xycut"/"smart" only): optional line frame with
    (doc_id, region_id) plus baseline chord endpoints — either
    (x0, y0, x1, y1) or the flat-line (x0, x1, y) shape
    ``lines_table`` produces; when given, each document's tilt is
    estimated from the baselines of its most-lines region
    (``geometry.smart_baseline_rotation``) and the regions are
    derotated before ordering. Regions and line chords are tagged and
    unioned into ONE frame, so rotation and ordering happen in one
    per-doc Arrow stage behind one shuffle. Without it rotation is 0
    (the reference's behavior when the dominant region has no tilted
    baselines)."""

    def order_regions(pdf: pd.DataFrame, rotation: float) -> pd.DataFrame:
        # group row order is partition-dependent; fix it before ordering
        pdf = pdf.sort_values("region_id").reset_index(drop=True)
        if mode == "band":
            order = G.band_sort_order(pdf["ry0"].to_numpy(), eps)
        else:
            boxes = list(
                zip(pdf["rx0"], pdf["ry0"], pdf["rx1"], pdf["ry1"])
            )
            order = G.smart_sort_order(boxes, rotation=rotation)
        out = pdf.iloc[order].copy()
        out["reading_order"] = range(len(out))
        return out[["doc_id", "region_id", "reading_order"]]

    schema = "doc_id long, region_id string, reading_order long"
    if lines is None or mode == "band":
        return grouped_map_in_pandas(
            regions_with_bbox, "doc_id",
            lambda pdf: order_regions(pdf, 0.0), schema=schema,
        )

    chords = (
        ("x0", "y0", "x1", "y1")
        if "y0" in lines.columns
        else ("x0", "y", "x1", "y")
    )

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        is_line = pdf["_line"].to_numpy()
        lines_pdf = pdf[is_line]
        rotation = 0.0
        if len(lines_pdf):
            # the reference estimates tilt from the region with the
            # most lines (smart_sorter.py:285)
            top = lines_pdf["region_id"].value_counts().idxmax()
            sub = lines_pdf[lines_pdf["region_id"] == top]
            ends = np.stack(
                [sub[c].to_numpy(dtype=float) for c in chords], axis=1
            )  # (n, 4) = x0, y0, x1, y1 per baseline chord
            rotation = G.smart_baseline_rotation(
                [row.reshape(2, 2) for row in ends]
            )
        return order_regions(pdf[~is_line], rotation)

    region_cols = ["doc_id", "region_id", "rx0", "ry0", "rx1", "ry1"]
    tagged = regions_with_bbox.select(*region_cols, F.lit(False).alias("_line"))
    chord_rows = lines.select(
        "doc_id", "region_id", *dict.fromkeys(chords), F.lit(True).alias("_line")
    )
    return grouped_map_in_pandas(
        tagged.unionByName(chord_rows, allowMissingColumns=True),
        "doc_id", per_doc, schema=schema,
    )


def postprocess_lines(
    lines: DataFrame, max_extend: float = 20.0, num_points: int = 10
) -> DataFrame:
    """L15/L17 in one Arrow stage: stretch each baseline toward its
    region's x-bounds (capped ±max_extend,
    ``line_postprocessing_engine`` semantics), resample the stretched
    baseline to ``num_points`` (deg-1 fit for 2-point lines), and flag
    the region's dominant line (widest; ties by (y, x0)) — the three
    post-detection cleanups the reference applies before export.
    ``x_p5`` is the 5th resampled point, so num_points must be ≥ 5.

    Group mechanics mirror ``merge_lines_stage``:
    ``grouped_batches_in_pandas`` hands ``process`` big sorted batches
    of whole (doc, region) groups with their group bounds, so ~20k tiny
    groups never pay a per-group Arrow round trip or pandas groupby
    slice. Region bounds come from the group itself — no join."""
    from pero_ocr_spark.functions import geometry as G2

    np_pts = int(num_points)
    if np_pts < 5:
        raise ValueError("x_p5 is the 5th resampled point; num_points must be >= 5")

    def process(pdf: pd.DataFrame, bounds: np.ndarray) -> pd.DataFrame:
        dcol = pdf["doc_id"].to_numpy()
        rcol = pdf["region_id"].to_numpy()
        lid = pdf["line_id"].to_numpy()
        ax0 = pdf["x0"].to_numpy()
        ax1 = pdf["x1"].to_numpy()
        ay = pdf["y"].to_numpy()
        aasc = pdf["asc"].to_numpy()
        adesc = pdf["desc"].to_numpy()
        rows = []
        for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
            rx0 = float(ax0[s:e].min())
            rx1 = float(ax1[s:e].max())
            baselines = [
                np.array([[ax0[i], ay[i]], [ax1[i], ay[i]]])
                for i in range(s, e)
            ]
            heights = [(aasc[i], adesc[i]) for i in range(s, e)]
            dom = G2.dominant_line(baselines, heights)
            for i, bl in enumerate(baselines):
                stretched = G2.stretch_baseline(
                    bl, rx0, rx1, max_extend=max_extend
                )
                res = G2.resample_baseline(stretched, num_points=np_pts)
                rows.append(
                    {
                        "doc_id": int(dcol[s + i]),
                        "line_id": lid[s + i],
                        "sx0": float(res[0, 0]),
                        "sx1": float(res[-1, 0]),
                        "x_p5": round(float(res[4, 0]), 6),
                        "y": float(res[0, 1]),
                        "n_pts": len(res),
                        "is_dominant": i == dom,
                    }
                )
        return pd.DataFrame(
            rows,
            columns=[
                "doc_id", "line_id", "sx0", "sx1", "x_p5", "y",
                "n_pts", "is_dominant",
            ],
        )

    return grouped_batches_in_pandas(
        lines, ["doc_id", "region_id"], process,
        schema="doc_id long, line_id string, sx0 double, sx1 double, "
        "x_p5 double, y double, n_pts long, is_dominant boolean",
    )


def retrace_regions(lines: DataFrame, concave: bool = True) -> DataFrame:
    """L16/L7 as a driver-checkable stage: recompute each region's
    polygon from its textline rectangles with the alpha-shape retrace
    (``functions.geometry.retrace_region(concave=True)``, ref
    ``layout_helpers.py:160-181``) and report the polygon's bounding
    box + member count. The retraced polygon's vertices are a SUBSET
    of the textline vertices while COVERING all of them (alpha shape
    with hull fallback), so its bbox must equal the member-point bbox
    — the closed-form invariant the external oracle checks; the
    polygon's interior shape is pinned by the geometry pytests.

    Scale shape: one hash shuffle on (doc_id, region_id), one
    ``grouped_map_in_pandas`` Arrow stage whose group size is bounded
    by lines-per-region; its numbered repartition pins parallelism
    against AQE's small-exchange coalescing (the per-doc python-stage
    gotcha).
    """

    def per_region(pdf: pd.DataFrame) -> pd.DataFrame:
        x0 = pdf["x0"].to_numpy(dtype=np.float64)
        x1 = pdf["x1"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        ytop = y - pdf["asc"].to_numpy(dtype=np.float64)
        ybot = y + pdf["desc"].to_numpy(dtype=np.float64)
        quads = np.stack(
            [
                np.stack([x0, ytop], axis=1),
                np.stack([x1, ytop], axis=1),
                np.stack([x1, ybot], axis=1),
                np.stack([x0, ybot], axis=1),
            ],
            axis=1,
        )  # (n_lines, 4, 2) — same values the per-row loop built
        poly = G.retrace_region(list(quads), concave=concave)
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "region_id": [pdf["region_id"].iloc[0]],
                "n_lines": [len(pdf)],
                "x0": [round(float(poly[:, 0].min()), 4)],
                "y0": [round(float(poly[:, 1].min()), 4)],
                "x1": [round(float(poly[:, 0].max()), 4)],
                "y1": [round(float(poly[:, 1].max()), 4)],
            }
        )

    return grouped_map_in_pandas(
        lines, ["doc_id", "region_id"], per_region,
        schema=(
            "doc_id long, region_id string, n_lines long, "
            "x0 double, y0 double, x1 double, y1 double"
        ),
    )
