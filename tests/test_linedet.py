"""L8 projection-profile line detection: numpy kernels + Spark stages."""

import numpy as np
import pytest

from pero_ocr_spark.functions import imageproc


def _page(ys, x0=10, x1=300, h=220, w=400):
    img = np.full((h, w), 255, dtype=np.uint8)
    for y in ys:
        img[y - 10 : y + 1, x0:x1] = 0
    return img


class TestKernels:
    def test_adaptive_threshold_finds_ink(self):
        img = _page([50])
        mask = imageproc.adaptive_threshold_mask(img)
        assert mask[45, 100]  # inside ink band
        assert not mask[100, 100]  # background
        assert not mask[45, 350]  # background right of the band

    def test_label_components_counts_and_separates(self):
        mask = np.zeros((20, 20), dtype=bool)
        mask[2:5, 2:8] = True
        mask[2:5, 12:18] = True  # same rows, disjoint columns
        mask[10:14, 4:16] = True
        labels, n = imageproc.label_components(mask)
        assert n == 3
        assert labels[3, 4] != labels[3, 13]
        assert labels[11, 10] not in (0, labels[3, 4], labels[3, 13])

    def test_label_components_u_shape_merges(self):
        # two vertical arms joined at the bottom -> ONE component
        mask = np.zeros((10, 10), dtype=bool)
        mask[0:8, 1:3] = True
        mask[0:8, 7:9] = True
        mask[7:9, 1:9] = True
        _, n = imageproc.label_components(mask)
        assert n == 1

    def test_find_peaks_plateau_and_distance(self):
        x = np.array([0, 1, 3, 3, 3, 1, 0, 5, 0, 4, 0], dtype=float)
        peaks = imageproc.find_peaks(x).tolist()
        assert peaks == [3, 7, 9]  # plateau midpoint + two sharp peaks
        # distance thinning keeps the higher of 7 and 9
        assert imageproc.find_peaks(x, distance=3).tolist() == [3, 7]

    def test_autocorr_period(self):
        proj = np.zeros(200)
        for y in (20, 50, 80, 110, 140):
            proj[y - 10 : y + 1] = 290
        # the reference slices corr[n:] so returned index = lag - 1
        # (simple_baseline_engine.py:54-57); 30-row spacing -> 29.0,
        # which only feeds the 0.85x peak-distance threshold
        assert imageproc.autocorr_period(proj) == 29.0

    def test_detect_exact_geometry(self):
        ys = [20, 50, 80, 110]
        img = _page(ys)
        poly = np.array([[10.0, 5.0], [300.0, 5.0], [300.0, 125.0], [10.0, 125.0]])
        baselines, heights = imageproc.detect_lines_in_region(img, poly)
        got = sorted(bl[0][1] for bl in baselines)
        assert got == [20.0, 50.0, 80.0, 110.0]
        assert all(h == [12, 3] for h in heights)
        assert all(bl[0][0] == 10.0 and bl[1][0] == 300.0 for bl in baselines)

    def test_detect_single_line_period_fallback(self):
        img = _page([50])
        poly = np.array([[10.0, 35.0], [300.0, 35.0], [300.0, 65.0], [10.0, 65.0]])
        baselines, heights = imageproc.detect_lines_in_region(img, poly)
        assert len(baselines) == 1
        assert baselines[0][0][1] == 50.0

    def test_detect_empty_region(self):
        img = np.full((100, 100), 255, dtype=np.uint8)
        poly = np.array([[10.0, 10.0], [90.0, 10.0], [90.0, 90.0], [10.0, 90.0]])
        baselines, heights = imageproc.detect_lines_in_region(img, poly)
        assert baselines == [] and heights == []

    def test_degenerate_region(self):
        img = np.full((50, 50), 255, dtype=np.uint8)
        poly = np.array([[10.0, 10.0], [10.0, 40.0]])
        assert imageproc.detect_lines_in_region(img, poly) == ([], [])


class TestSegmentation:
    def test_close_vertical_fills_and_restores_extent(self):
        mask = np.zeros((60, 10), dtype=bool)
        mask[5:16, 2:8] = True
        mask[35:46, 2:8] = True  # gap of 19 rows
        closed = imageproc.close_vertical(mask, 13)
        col = closed[:, 4]
        assert col[5:46].all()  # gap filled
        assert not col[4] and not col[46]  # extent exactly restored
        # a 30-row gap (> 2*13) must NOT close
        mask2 = np.zeros((80, 10), dtype=bool)
        mask2[5:16, 2:8] = True
        mask2[46:57, 2:8] = True
        closed2 = imageproc.close_vertical(mask2, 13)
        assert not closed2[30, 4]

    def test_close_vertical_near_border(self):
        mask = np.zeros((40, 6), dtype=bool)
        mask[0:11, 1:5] = True  # touches top border
        closed = imageproc.close_vertical(mask, 13)
        assert closed[0:11, 2].all()
        assert not closed[11:, 2].any()

    def test_segment_regions_two_columns(self):
        img = np.full((200, 400), 255, dtype=np.uint8)
        for y in (50, 80, 110):
            img[y - 10 : y + 1, 10:150] = 0  # column A
            img[y - 10 : y + 1, 210:390] = 0  # column B
        regs = imageproc.segment_regions(img)
        assert len(regs) == 2
        a, b = regs
        assert (a["rx0"], a["rx1"]) == (5, 154)
        assert (a["ry0"], a["ry1"]) == (35, 115)
        assert (b["rx0"], b["rx1"]) == (205, 394)

    def test_segment_regions_vertical_split(self):
        img = np.full((300, 200), 255, dtype=np.uint8)
        img[40:51, 10:190] = 0
        img[150:161, 10:190] = 0  # 99-row gap: separate region
        regs = imageproc.segment_regions(img)
        assert len(regs) == 2
        assert regs[0]["ry1"] < regs[1]["ry0"]

    def test_snap_baselines(self):
        img = np.full((200, 400), 255, dtype=np.uint8)
        for y in (50, 80):
            img[y - 10 : y + 1, 10:300] = 0
        # jittered baselines snap to the gradient peak at y+1
        baselines = [
            np.array([[10.0, 48.0], [300.0, 48.0]]),
            np.array([[10.0, 82.0], [300.0, 82.0]]),
        ]
        out = imageproc.snap_baselines_to_intensity(baselines, img)
        assert [b[0][1] for b in out] == [51.0, 81.0]


class TestMultiOrientation:
    def test_union_of_orientations(self, spark):
        from pero_ocr_spark.operators import linedet

        # one horizontal line + one vertical band on the same page
        segs = spark.createDataFrame(
            [
                (1, 0, 10.0, 300.0, 50.0),   # horizontal at y=50
                (1, 1, 10.0, 200.0, 600.0),  # vertical at col 600
            ],
            "doc_id long, orientation long, a0 double, a1 double, pos double",
        )
        out = {
            r["orientation"]: r
            for r in linedet.render_detect_multi_orientation(segs).collect()
        }
        assert set(out) == {0, 1}
        h = out[0]
        assert h["region_id"] == "h"
        assert (h["by0"], h["by1"]) == (50.0, 50.0)
        assert (h["bx0"], h["bx1"]) == (10.0, 300.0)
        v = out[1]
        assert v["region_id"] == "v"
        assert (v["bx0"], v["bx1"]) == (600.0, 600.0)
        assert (v["by0"], v["by1"]) == (10.0, 200.0)
        assert (v["height_up"], v["height_down"]) == (12.0, 3.0)


class TestSparkStages:
    def test_render_and_detect_end_to_end(self, spark):
        from pero_ocr_spark.operators import linedet

        rows = [
            (1, "r0", "l0", 10.0, 200.0, 20.0),
            (1, "r0", "l1", 10.0, 180.0, 50.0),
            (1, "r1", "l2", 510.0, 700.0, 20.0),
            (2, "r0", "l0", 10.0, 90.0, 20.0),
        ]
        lines = spark.createDataFrame(
            rows, "doc_id long, region_id string, line_id string, "
            "x0 double, x1 double, y double"
        )
        out = {
            (r["doc_id"], r["region_id"], r["y"]): r
            for r in linedet.render_detect_lines(lines).collect()
        }
        assert set(out) == {
            (1, "r0", 20.0),
            (1, "r0", 50.0),
            (1, "r1", 20.0),
            (2, "r0", 20.0),
        }
        r = out[(1, "r0", 50.0)]
        assert (r["bx0"], r["bx1"]) == (10.0, 200.0)
        assert (r["height_up"], r["height_down"]) == (12.0, 3.0)


class TestFusedEqualsCogrouped:
    """Each fused render→consume stage must equal rendering the page
    raster and running the same kernel on it as two separate steps,
    computed here in plain numpy outside Spark."""

    def _lines(self, spark):
        rows = []
        for doc in (1, 2):
            for ordv in range(8):
                col = ordv % 2
                rows.append(
                    (doc, f"r{col}", f"l{ordv}", ordv,
                     float(col * 500 + 10), float(col * 500 + 10 + 160 + 8 * ordv),
                     float((ordv // 2) * 30 + 20), 10.0, 4.0)
                )
        return spark.createDataFrame(
            rows,
            "doc_id long, region_id string, line_id string, ord long, "
            "x0 double, x1 double, y double, asc double, desc double",
        )

    def _key(self, rows):
        return sorted(tuple(r) for r in rows)

    def _reference(self, lines, per_page):
        """per_page(doc_id, page_lines, raster) -> rows, over the same
        raster the fused stages render."""
        from pero_ocr_spark.operators import linedet

        rows = []
        for doc_id, g in lines.toPandas().groupby("doc_id"):
            img = linedet._render_lines_raster(g, int(g["y"].max()) + 40)
            rows.extend(per_page(int(doc_id), g, img))
        return self._key(rows)

    def test_segment(self, spark):
        from pero_ocr_spark.operators import linedet

        lines = self._lines(spark)
        fused = linedet.render_segment_regions(
            lines, close_gap=7, margin=3, min_pixels=25, downsample=2
        ).collect()

        def per_page(doc_id, g, img):
            regs = imageproc.segment_regions(
                img, close_gap=7, margin=3, min_pixels=25, downsample=2
            )
            return [
                (doc_id, i, r["rx0"], r["ry0"], r["rx1"], r["ry1"])
                for i, r in enumerate(regs)
            ]

        assert self._key(fused) == self._reference(lines, per_page)

    def test_detect(self, spark):
        from pero_ocr_spark.operators import linedet

        lines = self._lines(spark)
        fused = linedet.render_detect_lines(lines, downsample=2).collect()

        def per_page(doc_id, g, img):
            rows = []
            for rid, r in g.groupby("region_id"):
                rx0, rx1 = r["x0"].min(), r["x1"].max()
                ry0, ry1 = r["y"].min() - 15, r["y"].max() + 15
                poly = np.array(
                    [[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1]]
                )
                baselines, heights = imageproc.detect_lines_in_region(
                    img, poly, downsample=2
                )
                rows += [
                    (doc_id, rid, bl[0][0], bl[1][0], bl[0][1], ht[0], ht[1])
                    for bl, ht in zip(baselines, heights)
                ]
            return rows

        ref = self._reference(lines, per_page)
        assert len(ref) == 16
        assert self._key(fused) == ref

    def test_crops(self, spark):
        from pero_ocr_spark.functions import cropper
        from pero_ocr_spark.operators import linedet

        lines = self._lines(spark)
        fused = linedet.render_crop_lines(lines).collect()

        def per_page(doc_id, g, img):
            rows = []
            for r in g.itertuples(index=False):
                crop = cropper.crop_line(
                    img.astype(np.float64),
                    np.array([[r.x0, r.y], [r.x1, r.y]]),
                    (r.asc, r.desc), 32, out_dtype=np.uint8,
                )
                rows.append((
                    doc_id, r.line_id, *crop.shape,
                    float((crop < 128).mean()), crop.tobytes(),
                ))
            return rows

        assert self._key(fused) == self._reference(lines, per_page)

    def test_snap(self, spark):
        from pyspark.sql import functions as F

        from pero_ocr_spark.operators import linedet

        lines = self._lines(spark).withColumn(
            "y_jit", F.col("y") + (F.col("ord") % 5) - 2
        )
        fused = linedet.render_snap_baselines(lines).collect()

        # the general per-baseline kernel, against which the fused
        # stage's batched horizontal kernel must agree
        def per_page(doc_id, g, img):
            snapped = imageproc.snap_baselines_to_intensity(
                [
                    np.array([[r.x0, r.y_jit], [r.x1, r.y_jit]])
                    for r in g.itertuples(index=False)
                ],
                img,
            )
            return [
                (doc_id, lid, float(b[0][1]))
                for lid, b in zip(g["line_id"], snapped)
            ]

        assert self._key(fused) == self._reference(lines, per_page)
