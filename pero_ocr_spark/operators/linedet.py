"""L8: projection-profile text-line detection over page rasters.

The first REAL image→lines path: ``layout_engines/simple_baseline_engine.py:13-101``
re-expressed with the numpy-only kernels in ``functions/imageproc.py``,
run per document inside ONE Arrow stage (``grouped_map_in_pandas``).

In the sandbox the page rasters are RENDERED deterministically from the
synthetic line geometry (solid ink bands of asc=10 rows above each
baseline), so detection output is closed-form and SQL-checkable:
baseline at y with the region's x extent; heights quantize to the
stride-3 component scans at the working resolution ([12, 3] at full
res, [12, 6] at the default downsample 2 the queries use).

Scale notes: every stage is a per-document Arrow group — data-parallel,
one hash exchange on doc_id, and the raster is rendered and consumed
inside the same group, so no bitmap ever crosses the JVM↔Python
boundary. At 10^12 docs the rasters would come from the image store
(S1 binaryFile scan) instead of the renderer; the kernels are unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pero_ocr_spark.functions import imageproc
from pero_ocr_spark.operators import (
    flat_map_in_pandas,
    grouped_batches_in_pandas,
    grouped_map_in_pandas,
    shuffle_width,
)
from pero_ocr_spark.operators.layout import PAGE_W

ASC_INK = 10  # ink band rows above (and including) the baseline row


DETECT_DDL = (
    "doc_id long, region_id string, bx0 double, bx1 double, y double, "
    "height_up double, height_down double"
)


def _render_lines_raster(pdf: pd.DataFrame, h: int) -> np.ndarray:
    """Shared raster builder: background 255, a solid 0-ink band on
    rows [y-ASC_INK, y] × cols [x0, x1) per line; the band start clamps
    at row 0 so top-edge lines (y < ASC_INK) keep their visible ink
    instead of producing a wrapped negative slice."""
    img = np.full((h, PAGE_W), 255, dtype=np.uint8)
    for y, x0, x1 in zip(
        pdf["y"].astype(int), pdf["x0"].astype(int), pdf["x1"].astype(int)
    ):
        img[max(y - ASC_INK, 0) : y + 1, x0:x1] = 0
    return img


PARSE_DDL = (
    "doc_id long, bx0 double, bx1 double, y double, "
    "height_up double, height_down double, n_points long"
)


def synthesize_parsenet_map(
    pdf: pd.DataFrame, downsample: int = 2, width: int = PAGE_W
) -> np.ndarray:
    """Deterministic 5-channel ParseNet-style output map from line
    geometry (the net is out of scope in this container): constant
    ascender/descender channels (downsampled units), 1.0 baseline
    probability on each baseline row span, zero endpoint/region
    channels."""
    h = (int(pdf["y"].max()) + 20) // downsample
    w = width // downsample
    m = np.zeros((h, w, 5), dtype=np.float32)
    m[:, :, 0] = 10.0 / downsample
    m[:, :, 1] = 4.0 / downsample
    for r in pdf.itertuples(index=False):
        m[int(r.y) // downsample, int(r.x0) // downsample : int(r.x1) // downsample, 2] = 1.0
    return m


def parse_lines_from_maps(lines: DataFrame, downsample: int = 2) -> DataFrame:
    """L5: ParseNet map → baselines/heights, as one fused Arrow stage
    per document: synthesize the output map (stand-in for the net
    forward pass, which the reference also runs inside the same
    per-page call, cnn_layout_engine.py:81-124) and parse it with the
    reference chain (``functions/mapparse.parse_baseline_map``). The
    map never leaves the stage — no multi-MB float shuffle."""
    from pero_ocr_spark.functions import mapparse

    cols = ["doc_id", "bx0", "bx1", "y", "height_up", "height_down", "n_points"]

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        m = synthesize_parsenet_map(pdf, downsample)
        b_list, h_list = mapparse.parse_baseline_map(m, downsample=downsample)
        doc_id = int(pdf["doc_id"].iloc[0])
        rows = [
            {
                "doc_id": doc_id,
                "bx0": float(bl[0][0]),
                "bx1": float(bl[-1][0]),
                "y": float(bl[0][1]),
                "height_up": float(h[0]),
                "height_down": float(h[1]),
                "n_points": len(bl),
            }
            for bl, h in zip(b_list, h_list)
        ]
        return pd.DataFrame(rows, columns=cols)

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema=PARSE_DDL)


def cluster_lines_graph(lines: DataFrame, threshold: float = 0.5) -> DataFrame:
    """L6 (CNN-engine variant): separator-penalty graph clustering of
    lines into paragraph regions (``functions/lineclust.cluster_lines``,
    cnn_layout_engine.py:330-372) as one fused per-document Arrow
    stage. The separator map is synthesized from the deterministic
    rule the oracle replicates: a 1-row separator 20 px below every
    line whose row index ≡ 3 (mod 4), spanning the line's x range.
    Emits each line with its component's min-y anchor and size."""
    from pero_ocr_spark.functions import lineclust

    cols = ["doc_id", "line_id", "cluster_y0", "cluster_size"]

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        h = int(pdf["y"].max()) + 40
        sep = np.zeros((h, PAGE_W), dtype=np.float32)
        for r in pdf.itertuples(index=False):
            row = (int(r.y) - 20) // 30
            if row % 4 == 3:
                sep[int(r.y) + 20, int(r.x0) : int(r.x1)] = 1.0
        baselines = [
            np.array([[r.x0, r.y], [r.x1, r.y]])
            for r in pdf.itertuples(index=False)
        ]
        heights = [(r.asc, r.desc) for r in pdf.itertuples(index=False)]
        labels = lineclust.cluster_lines(baselines, heights, sep, threshold)
        y = pdf["y"].to_numpy()
        out_y0 = np.zeros(len(labels))
        out_sz = np.zeros(len(labels), dtype=np.int64)
        for lab in np.unique(labels):
            m = labels == lab
            out_y0[m] = y[m].min()
            out_sz[m] = int(m.sum())
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "line_id": pdf["line_id"],
                "cluster_y0": out_y0,
                "cluster_size": out_sz,
            }
        )

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema="doc_id long, line_id string, cluster_y0 double, cluster_size long",
    )


def refine_lines_from_maps(lines: DataFrame, downsample: int = 2) -> DataFrame:
    """L13: baseline refinement against the ParseNet detection channel
    (``layout_engines/baseline_refiner.py:8-68``), fused with the map
    synthesis like parse_lines_from_maps — the map never leaves the
    per-doc Arrow stage. Input rows carry the TRUE geometry (x0, x1, y
    — renders the map) plus the possibly-off input baseline ``y_in``
    and heights (asc, desc); each line's crop of the detection channel
    gets the weighted deg-3 refit and re-emits ≤10 points. Output is
    the refined polyline's summary (endpoints + y + point count) —
    points are collinear for straight detections."""
    from pero_ocr_spark.functions import mapparse

    cols = ["doc_id", "line_id", "x_first", "x_last", "y_refined", "n_points"]

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        # only the detection channel is consumed, so synthesize just it
        # (float64 once — the refiner's per-line crop then never casts)
        h = (int(pdf["y"].max()) + 20) // downsample
        det = np.zeros((h, PAGE_W // downsample), dtype=np.float64)
        for y, x0, x1 in zip(
            pdf["y"].astype(int), pdf["x0"].astype(int), pdf["x1"].astype(int)
        ):
            det[y // downsample, x0 // downsample : x1 // downsample] = 1.0
        rows = []
        for r in pdf.itertuples(index=False):
            bl = np.array([[r.x0, r.y_in], [r.x1, r.y_in]])
            out = mapparse.refine_baseline(
                bl, (r.asc, r.desc), det, downsample=downsample
            )
            rows.append(
                {
                    "doc_id": int(r.doc_id),
                    "line_id": r.line_id,
                    "x_first": float(out[0, 0]),
                    "x_last": float(out[-1, 0]),
                    "y_refined": float(out[0, 1]),
                    "n_points": len(out),
                }
            )
        return pd.DataFrame(rows, columns=cols)

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema="doc_id long, line_id string, x_first double, x_last double, "
        "y_refined double, n_points long",
    )


# ---------------------------------------------------------------------------
# Fused render→consume stages (the parse_lines_from_maps pattern): the
# page raster is synthesized AND consumed inside ONE per-document Arrow
# group, so full-page bitmaps (~1.8 MB each) never cross the JVM↔Python
# boundary and no bitmap table is shuffled into a second grouping. The
# tests hold each stage to a plain-numpy reference outside Spark:
# _render_lines_raster followed by the same imageproc/cropper kernel.
# ---------------------------------------------------------------------------


SEGMENT_DDL = (
    "doc_id long, region_idx long, rx0 long, ry0 long, rx1 long, ry1 long"
)


def render_segment_regions(
    lines: DataFrame,
    close_gap: int = 13,
    margin: int = 5,
    min_pixels: int = 100,
    downsample: int = 1,
) -> DataFrame:
    """L2: CV region segmentation (simple_region_engine.py:48-137 in
    numpy — threshold, vertical close, margin dilation, connected
    components) over the rendered page raster, one per-doc Arrow stage.
    One row per detected region with its inclusive pixel bbox;
    region_idx orders regions left-to-right then top-to-bottom."""

    cols = ["doc_id", "region_idx", "rx0", "ry0", "rx1", "ry1"]

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = int(pdf["doc_id"].iloc[0])
        img = _render_lines_raster(pdf, int(pdf["y"].max()) + 40)
        regs = imageproc.segment_regions(
            img,
            close_gap=close_gap,
            margin=margin,
            min_pixels=min_pixels,
            downsample=downsample,
        )
        return pd.DataFrame(
            [
                {
                    "doc_id": doc_id,
                    "region_idx": i,
                    "rx0": r["rx0"],
                    "ry0": r["ry0"],
                    "rx1": r["rx1"],
                    "ry1": r["ry1"],
                }
                for i, r in enumerate(regs)
            ],
            columns=cols,
        )

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema=SEGMENT_DDL)


def render_detect_lines(
    lines: DataFrame, downsample: int = 1, pad: int = 15
) -> DataFrame:
    """L8/L9: render the page raster, derive each region's bbox from
    its own lines (min/max x, y extent ± pad), and run the
    projection-profile detector per region — one Arrow stage, one row
    per detected baseline in page coords with [up, down] heights."""
    return grouped_batches_in_pandas(
        lines,
        "doc_id",
        lambda pdf, bounds: _detect_pages(pdf, bounds, downsample, pad),
        schema=DETECT_DDL,
    )


def _detect_pages(
    pdf: pd.DataFrame, bounds: np.ndarray, downsample: int, pad: int
) -> pd.DataFrame:
    """``render_detect_lines`` over one batch of whole pages: pages and
    their regions are slices of flat arrays (page ``p`` is the rows
    ``bounds[p]:bounds[p + 1]`` of the doc-sorted batch; one stable
    sort makes each region a run, in first-appearance order), region
    bboxes are ``reduceat``s, and the output frame is built once from
    arrays."""
    doc = pdf["doc_id"].to_numpy()
    x0, x1, y = (pdf[c].to_numpy() for c in ("x0", "x1", "y"))
    pstart = bounds[:-1]
    page = np.repeat(np.arange(len(pstart)), np.diff(bounds))
    # a row with a null region is rendered but belongs to no region
    rcode, rnames = pd.factorize(pdf["region_id"])
    key = np.where(rcode < 0, -1, page * len(rnames) + rcode)
    order = np.argsort(pd.factorize(key)[0], kind="stable")
    order = order[rcode[order] >= 0]
    k = key[order]
    first = np.flatnonzero(np.r_[True, k[1:] != k[:-1]][: len(k)])
    rx0 = np.minimum.reduceat(x0[order], first)
    rx1 = np.maximum.reduceat(x1[order], first)
    ry0 = np.minimum.reduceat(y[order], first) - pad
    ry1 = np.maximum.reduceat(y[order], first) + pad
    rpage = page[order][first]
    rname = rnames[rcode[order][first]]
    drawn, img = -1, None
    found, boxes, heights = [], [], []
    for r, p in enumerate(rpage.tolist()):
        if p != drawn:
            s, e = bounds[p], bounds[p + 1]
            img = _render_lines_raster(pdf.iloc[s:e], int(y[s:e].max()) + 40)
            drawn = p
        poly = np.asarray(
            [[rx0[r], ry0[r]], [rx1[r], ry0[r]], [rx1[r], ry1[r]], [rx0[r], ry1[r]]],
            dtype=np.float64,
        )
        bls, hts = imageproc.detect_lines_in_region(img, poly, downsample=downsample)
        found.append(len(bls))
        boxes += bls
        heights += hts
    box = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    ht = np.asarray(heights, dtype=np.float64).reshape(-1, 2)
    return pd.DataFrame(
        {
            "doc_id": np.repeat(doc[pstart[rpage]], found),
            "region_id": np.repeat(rname, found),
            "bx0": box[:, 0],
            "bx1": box[:, 2],
            "y": box[:, 1],
            "height_up": ht[:, 0],
            "height_down": ht[:, 1],
        }
    )


def render_crop_lines(
    lines: DataFrame, target_height: int = 32, with_pixels: bool = True
) -> DataFrame:
    """R1: rectified line crops — render the page raster and warp every
    line with the real numpy warp (``functions/cropper.crop_line``, the
    reference's EngineLineCropper chain) in the same per-doc stage. One
    row per line: the crop strip (binary), its dims, and the ink
    fraction (crop pixels darker than 128). ``with_pixels=False``
    skips the raster render and the bilinear gather entirely
    (geometry-only consumers): the crop SHAPE is fully determined by
    the rectification grid (``cropper.get_crop_inputs``) — same math,
    same degenerate fallback, no pixel ever touched."""
    from pero_ocr_spark.functions import cropper

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        if with_pixels:
            img = _render_lines_raster(pdf, int(pdf["y"].max()) + 40)
            # ONE float conversion per page, not one per line (the
            # astype touches every raster pixel; the gather ~1%)
            imgf = img.astype(np.float64)
        rows = []
        for r in pdf.itertuples(index=False):
            baseline = np.array([[r.x0, r.y], [r.x1, r.y]])
            if with_pixels:
                crop = cropper.crop_line(
                    imgf, baseline, (r.asc, r.desc), target_height,
                    out_dtype=np.uint8,
                )
                h_, w_ = crop.shape
                ink = float((crop < 128).mean())
                payload = crop.tobytes()
            else:
                try:
                    grid = cropper.get_crop_inputs(
                        baseline, (r.asc, r.desc), target_height
                    )
                    h_, w_ = grid.shape[0], grid.shape[1]
                except (ValueError, IndexError, ZeroDivisionError):
                    h_, w_ = target_height, 32  # crop_line's fallback
                ink, payload = 0.0, b""
            rows.append(
                {
                    "doc_id": int(r.doc_id),
                    "line_id": r.line_id,
                    "crop_h": h_,
                    "crop_w": w_,
                    "ink_frac": ink,
                    "crop": payload,
                }
            )
        return pd.DataFrame(
            rows,
            columns=["doc_id", "line_id", "crop_h", "crop_w", "ink_frac", "crop"],
        )

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema="doc_id long, line_id string, crop_h long, crop_w long, "
        "ink_frac double, crop binary",
    )


def render_snap_baselines(lines: DataFrame, tolerance: int = 5) -> DataFrame:
    """L18: snap jittered baselines to the strongest smoothed
    y-gradient (layout_helpers.adjust_baselines_to_intensity:393-410).
    Renders the raster from the TRUE line geometry (y) and snaps the
    JITTERED baselines (column ``y_jit``) against it — one
    per-doc stage, batched across the page's lines via the vectorized
    kernel (``imageproc.snap_horizontal_baselines_batch``)."""

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        img = _render_lines_raster(pdf, int(pdf["y"].max()) + 40)
        snapped = imageproc.snap_horizontal_baselines_batch(
            img,
            pdf["x0"].to_numpy(),
            pdf["x1"].to_numpy(),
            pdf["y_jit"].to_numpy(),
            tolerance=tolerance,
        )
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "line_id": pdf["line_id"],
                "y_snapped": snapped.astype(np.float64),
            }
        )

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema="doc_id long, line_id string, y_snapped double"
    )


def _mixed_raster_height(pdf: pd.DataFrame) -> int:
    horiz = pdf[pdf["orientation"] == 0]
    vert = pdf[pdf["orientation"] == 1]
    h = 20
    if len(horiz):
        h = max(h, int(horiz["pos"].max()) + 20)
    if len(vert):
        h = max(h, int(vert["a1"].max()) + 10)
    return h


def _render_mixed_raster(pdf: pd.DataFrame, h: int) -> np.ndarray:
    """Raster with BOTH orientations: orientation 0 = horizontal ink
    band rows [pos-10, pos] × cols [a0, a1); orientation 1 = vertical
    band rows [a0, a1) × cols [pos-10, pos]. Band starts clamp at 0
    (no wrapped negative slices for edge-hugging lines)."""
    img = np.full((h, PAGE_W), 255, dtype=np.uint8)
    for r in pdf.itertuples(index=False):
        pos, a0, a1 = int(r.pos), int(r.a0), int(r.a1)
        if int(r.orientation) == 0:
            img[max(pos - ASC_INK, 0) : pos + 1, a0:a1] = 0
        else:
            img[a0:a1, max(pos - ASC_INK, 0) : pos + 1] = 0
    return img


def render_detect_multi_orientation(
    segments: DataFrame, downsample: int = 1, pad: int = 15
) -> DataFrame:
    """L10: multi-orientation detect + union (page_parser.py:237-259 /
    cnn_layout_engine.rotate_layout semantics). Segments carry an
    ``orientation``: 0 = horizontal ink band rows [pos-10, pos] × cols
    [a0, a1), 1 = vertical band rows [a0, a1) × cols [pos-10, pos].
    One per-doc stage renders the mixed raster and detects each
    orientation's region (extent ± pad on the cross axis);
    orientation-1 detects on the TRANSPOSED raster (the reference
    rotates 90° with np.rot90 — transpose = rotation + mirror,
    equivalent for this mirror-invariant detector and with a
    self-inverse coordinate map) and maps back into page coordinates.
    Baselines emit as (bx0, by0)-(bx1, by1) segments so both
    orientations share one schema."""

    cols = [
        "doc_id", "region_id", "orientation",
        "bx0", "by0", "bx1", "by1", "height_up", "height_down",
    ]

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = int(pdf["doc_id"].iloc[0])
        img = _render_mixed_raster(pdf, _mixed_raster_height(pdf))
        img_t = np.ascontiguousarray(img.T)
        rows = []
        for rot, g in pdf.groupby("orientation", sort=False):
            rot = int(rot)
            mn_a, mx_a = float(g["a0"].min()), float(g["a1"].max())
            mn_p, mx_p = float(g["pos"].min()), float(g["pos"].max())
            if rot == 0:
                rid = "h"
                rx0, rx1, ry0, ry1 = mn_a, mx_a, mn_p - pad, mx_p + pad
            else:
                rid = "v"
                rx0, rx1, ry0, ry1 = mn_p - pad, mx_p + pad, mn_a, mx_a
            frame = img_t if rot else img
            # transposed region rect = swapped axes
            poly = (
                np.asarray(
                    [[ry0, rx0], [ry1, rx0], [ry1, rx1], [ry0, rx1]],
                    dtype=np.float64,
                )
                if rot
                else np.asarray(
                    [[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1]],
                    dtype=np.float64,
                )
            )
            baselines, heights = imageproc.detect_lines_in_region(
                frame, poly, downsample=downsample
            )
            for bl, ht in zip(baselines, heights):
                if rot:  # (x_t, y_t) -> (y_t, x_t) in page coords
                    p0 = (float(bl[0][1]), float(bl[0][0]))
                    p1 = (float(bl[1][1]), float(bl[1][0]))
                else:
                    p0 = (float(bl[0][0]), float(bl[0][1]))
                    p1 = (float(bl[1][0]), float(bl[1][1]))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "region_id": rid,
                        "orientation": rot,
                        "bx0": p0[0],
                        "by0": p0[1],
                        "bx1": p1[0],
                        "by1": p1[1],
                        "height_up": float(ht[0]),
                        "height_down": float(ht[1]),
                    }
                )
        return pd.DataFrame(rows, columns=cols)

    return grouped_map_in_pandas(
        segments, "doc_id", per_doc, schema="doc_id long, region_id string, orientation long, "
        "bx0 double, by0 double, bx1 double, by1 double, "
        "height_up double, height_down double",
    )


def adaptive_resolution_stage(docs: DataFrame) -> DataFrame:
    """L4 driver surface: run the adaptive-downsample control loop
    (``mapparse.get_maps_with_optimal_resolution``, ref
    ``torch_parsenet.py:60-93``) per document against synthesized
    ParseNet maps whose median detected line height is exactly the
    doc's ``line_h / downsample`` — exercising measure → correct →
    ±20%-rerun-gate end to end, including the sparse-detection
    early-out and the gate KEEPING the first pass (clamped correction
    within ±20% of a high starting factor). Input columns: (doc_id,
    line_h, sparse, ds0); output the converged factor and how many net
    passes ran."""
    from pero_ocr_spark.functions import mapparse

    def per_row(doc_id, line_h, sparse, ds0):
        h = float(line_h)
        npx = 64 if bool(sparse) else 400  # vs threshold 100
        calls = 0

        def map_fn(ds):
            nonlocal calls
            calls += 1
            m = np.zeros((24, 24, 5), dtype=np.float64)
            # .flat writes through the channel view regardless
            # of strides (reshape(-1) may silently copy)
            m[:, :, 2].flat[:npx] = 1.0
            m[:, :, 0] = h / ds
            return m

        _, ds = mapparse.get_maps_with_optimal_resolution(
            map_fn, (1000, 1000), downsample=float(ds0)
        )
        return [(int(doc_id), round(float(ds), 6), calls)]

    return flat_map_in_pandas(
        docs.select("doc_id", "line_h", "sparse", "ds0").repartition(
            shuffle_width(docs.sparkSession), "doc_id"
        ),
        per_row,
        "doc_id long, ds double, n_runs long",
    )
