"""ALTO word-box export (S6) and convex-hull region retrace (L16)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from _geometry_ref import baseline_to_textline, point_in_polygon

from pero_ocr_spark.functions import geometry as G


def bbox(poly: np.ndarray) -> tuple[float, float, float, float]:
    p = np.asarray(poly, dtype=np.float64)
    return float(p[:, 0].min()), float(p[:, 1].min()), float(p[:, 0].max()), float(p[:, 1].max())


def _area(poly) -> float:
    """Unsigned shoelace area (0 for fewer than three vertices)."""
    return abs(G._signed_area(np.asarray(poly, dtype=np.float64)))
from pero_ocr_spark.operators import layout
from pero_ocr_spark.sources import pcgts


class TestWordBoxes:
    def test_single_word(self):
        boxes = pcgts.word_boxes("spark")
        assert len(boxes) == 1
        assert boxes[0]["content"] == "spark"
        assert boxes[0]["hpos"] == 0
        assert boxes[0]["width"] > 0
        assert 0.9 < boxes[0]["confidence"] <= 1.0

    def test_two_words_non_overlapping(self):
        boxes = pcgts.word_boxes("ab cd")
        assert [b["content"] for b in boxes] == ["ab", "cd"]
        assert boxes[1]["hpos"] >= boxes[0]["hpos"] + boxes[0]["width"]

    def test_empty(self):
        assert pcgts.word_boxes("") == []
        assert pcgts.word_boxes("   ") == []


def test_export_alto(spark, sf_dir):
    lines = layout.lines_with_geometry(spark, sf_dir).filter(F.col("doc_id") < 5)
    out = {r["doc_id"]: r["xml"] for r in pcgts.export_alto_layout(lines).collect()}
    assert len(out) == 5
    x = out[1]
    assert x.startswith('<?xml version="1.0"')
    assert "<String CONTENT=" in x and 'WC="' in x
    # deterministic
    out2 = {r["doc_id"]: r["xml"] for r in pcgts.export_alto_layout(lines).collect()}
    assert out == out2


class TestConvexHull:
    def test_square(self):
        pts = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [1, 1]])
        hull = G.convex_hull(pts)
        assert len(hull) == 4
        assert {tuple(p) for p in hull} == {(0, 0), (2, 0), (2, 2), (0, 2)}

    def test_collinear(self):
        pts = np.array([[0, 0], [1, 1], [2, 2]])
        hull = G.convex_hull(pts)
        assert len(hull) <= 2 or _area(hull) == 0

    def test_retrace_region_covers_lines(self):
        l1 = baseline_to_textline(np.array([[0.0, 20.0], [50.0, 20.0]]), 10, 4)
        l2 = baseline_to_textline(np.array([[5.0, 50.0], [60.0, 50.0]]), 10, 4)
        region = G.retrace_region([l1, l2])
        x0, y0, x1, y1 = bbox(region)
        assert abs(x0) < 1e-9 and x1 == 60.0
        assert y0 == 10.0 and y1 == 54.0
        assert _area(region) > 0


class TestAlphaShape:
    """L7: concave region retrace (layout_helpers.py:126-181 semantics)."""

    def _l_shaped_lines(self):
        # two stacks of textlines forming an L: a tall left column and a
        # short bottom bar reaching right
        lines = []
        for i in range(6):  # left column x:[0,40], y rows 0..170
            y = i * 30
            lines.append(np.array(
                [[0, y], [40, y], [40, y + 14], [0, y + 14]], dtype=float))
        for j in range(3):  # bottom bar x:[40,160], only lowest rows
            x = 40 + j * 40
            lines.append(np.array(
                [[x, 150], [x + 40, 150], [x + 40, 164], [x, 164]], dtype=float))
        return lines

    def test_concave_retrace_excludes_notch(self):
        lines = self._l_shaped_lines()
        poly = G.retrace_region(lines, concave=True)
        hull = G.retrace_region(lines)
        # the notch (upper right, far from any line) is inside the hull
        # but outside the alpha shape
        assert point_in_polygon(100.0, 90.0, hull)
        assert not point_in_polygon(100.0, 90.0, poly)
        # every textline vertex is covered
        for p in lines:
            for v in p:
                assert point_in_polygon(v[0], v[1], poly)
        # area strictly between the union floor and the hull
        assert _area(poly) < _area(hull)

    def test_small_cloud_falls_back_to_hull(self):
        pts = np.array([[0.0, 0.0], [10.0, 0.0], [5.0, 8.0]])
        poly = G.alpha_shape(pts, alpha=100.0)
        assert len(poly) == 3

    def test_tight_alpha_falls_back_to_hull(self):
        lines = self._l_shaped_lines()
        pts = np.concatenate(lines)
        # alpha smaller than any circumradius -> no kept triangles -> hull
        poly = G.alpha_shape(pts, alpha=0.5)
        assert _area(poly) == _area(G.convex_hull(pts))

    def test_only_degenerate_triangulation_falls_back(self, monkeypatch):
        # collinear: no triangles; huge coordinates under raising
        # floating-point errors: the determinant overflows. Both give
        # the hull.
        line = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 3.0], [4.0, 4.0]])
        assert np.array_equal(G.alpha_shape(line, 5.0), G.convex_hull(line))
        huge = np.array(
            [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.5, 0.4]]
        ) * 1e100
        with np.errstate(all="raise"):
            hull = G.alpha_shape(huge, 5.0)
        assert np.array_equal(hull, G.convex_hull(np.unique(huge, axis=0)))

        # any other error in the triangulation is a bug, not a fallback
        def broken(points):
            raise TypeError("unrelated")

        monkeypatch.setattr(G, "delaunay", broken)
        square = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [2.0, 1.0]])
        with pytest.raises(TypeError, match="unrelated"):
            G.alpha_shape(square, 5.0)

    def test_delaunay_covers_cloud(self):
        rng = np.random.default_rng(3)
        pts = rng.uniform(0, 100, size=(40, 2))
        tris = G.delaunay(pts)
        # triangulation area == hull area (a Delaunay triangulation
        # tiles the convex hull exactly)
        t = pts[tris]
        area = np.abs(
            (t[:, 1, 0] - t[:, 0, 0]) * (t[:, 2, 1] - t[:, 0, 1])
            - (t[:, 1, 1] - t[:, 0, 1]) * (t[:, 2, 0] - t[:, 0, 0])
        ).sum() / 2
        assert abs(area - _area(G.convex_hull(pts))) < 1e-6
