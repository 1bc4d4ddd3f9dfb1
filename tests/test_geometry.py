"""Geometry kernel tests — fixtures mirror the reference's layout
semantics (straight/diagonal baselines, mergeable pairs, XY-cut
side-by-side and interlocked regions)."""

from __future__ import annotations

import numpy as np
import pytest

from _geometry_ref import (
    baseline_to_textline,
    merge_lines,
    point_in_polygon,
    xy_cut_order,
)

from pero_ocr_spark.functions import geometry as G


def clip_polygon(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip subject polygon by a CONVEX clip
    polygon (counter-clockwise or clockwise consistent). Returns the
    clipped polygon (possibly empty)."""
    def inside(p, a, b):
        return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= 0

    def intersect(p1, p2, a, b):
        d1 = np.asarray(p2) - np.asarray(p1)
        d2 = np.asarray(b) - np.asarray(a)
        denom = d1[0] * d2[1] - d1[1] * d2[0]
        if denom == 0:
            return np.asarray(p2, dtype=np.float64)
        t = ((a[0] - p1[0]) * d2[1] - (a[1] - p1[1]) * d2[0]) / denom
        return np.asarray(p1, dtype=np.float64) + t * d1

    clip = np.asarray(clip, dtype=np.float64)
    if G._signed_area(clip) < 0:
        clip = clip[::-1]
    out = [np.asarray(p, dtype=np.float64) for p in subject]
    for a, b in zip(clip, np.roll(clip, -1, axis=0)):
        if not out:
            break
        inp, out = out, []
        prev = inp[-1]
        for cur in inp:
            if inside(cur, a, b):
                if not inside(prev, a, b):
                    out.append(intersect(prev, cur, a, b))
                out.append(cur)
            elif inside(prev, a, b):
                out.append(intersect(prev, cur, a, b))
            prev = cur
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)


def _area(poly) -> float:
    """Unsigned shoelace area (0 for fewer than three vertices)."""
    return abs(G._signed_area(np.asarray(poly, dtype=np.float64)))


class TestTextlinePolygon:
    def test_horizontal_baseline(self):
        b = np.array([[0.0, 100.0], [50.0, 100.0]])
        poly = baseline_to_textline(b, asc=10, desc=4)
        # up edge then reversed down edge
        np.testing.assert_allclose(
            poly,
            [[0, 90], [50, 90], [50, 104], [0, 104]],
            atol=1e-9,
        )

    def test_diagonal_baseline_normals(self):
        b = np.array([[0.0, 0.0], [10.0, 10.0]])
        poly = baseline_to_textline(b, asc=np.sqrt(2), desc=np.sqrt(2))
        np.testing.assert_allclose(poly[0], [1, -1], atol=1e-9)
        np.testing.assert_allclose(poly[-1], [-1, 1], atol=1e-9)

    def test_min_height_clamp(self):
        b = np.array([[0.0, 0.0], [10.0, 0.0]])
        poly = baseline_to_textline(b, asc=0.1, desc=0.0)
        assert poly[0][1] == -1.0  # clamped to 1
        assert poly[-1][1] == 1.0


class TestResample:
    def test_straight_line(self):
        b = np.array([[0.0, 0.0], [90.0, 90.0]])
        out = G.resample_baseline(b, num_points=10)
        assert out.shape == (10, 2)
        np.testing.assert_allclose(out[:, 0], np.linspace(0, 90, 10))
        np.testing.assert_allclose(out[:, 1], out[:, 0], atol=1e-9)

    def test_vertical_line(self):
        b = np.array([[5.0, 0.0], [5.0, 100.0]])
        out = G.resample_baseline(b, num_points=5)
        np.testing.assert_allclose(out[:, 0], 5.0, atol=1e-9)
        np.testing.assert_allclose(out[:, 1], np.linspace(0, 100, 5))

    def test_curved_three_points(self):
        b = np.array([[0.0, 0.0], [50.0, 10.0], [100.0, 0.0]])
        out = G.resample_baseline(b, num_points=11)
        assert out[5, 1] == pytest.approx(10.0, abs=1e-6)


class TestMergeLines:
    def test_adjacent_halves_merge(self):
        b1 = np.array([[0.0, 100.0], [40.0, 100.0]])
        b2 = np.array([[50.0, 100.0], [90.0, 100.0]])
        merged_b, merged_h = merge_lines([b1, b2], [(10, 4), (10, 4)])
        assert len(merged_b) == 1
        assert merged_h[0] == (10, 4)
        assert merged_b[0][0, 0] == pytest.approx(0.0)
        assert merged_b[0][-1, 0] == pytest.approx(90.0)

    def test_stacked_lines_do_not_merge(self):
        b1 = np.array([[0.0, 100.0], [40.0, 100.0]])
        b2 = np.array([[0.0, 140.0], [40.0, 140.0]])
        merged_b, _ = merge_lines([b1, b2], [(10, 4), (10, 4)])
        assert len(merged_b) == 2

    def test_contained_lines_do_not_merge(self):
        outer = np.array([[0.0, 100.0], [100.0, 100.0]])
        inner = np.array([[30.0, 100.0], [60.0, 100.0]])
        merged_b, _ = merge_lines([outer, inner], [(10, 4), (10, 4)])
        assert len(merged_b) == 2

    def test_transitive_chain_merges_once(self):
        bs = [
            np.array([[x, 100.0], [x + 20.0, 100.0]]) for x in (0.0, 25.0, 50.0)
        ]
        merged_b, _ = merge_lines(bs, [(10, 4)] * 3)
        assert len(merged_b) == 1

    def test_refit_curve_merges_on_later_pass(self):
        # the lines at y=327 and y=331 merge into a refit curve whose
        # mean y overlaps the y=336 line enough to merge on a second
        # pass; one pass alone left two lines
        raw = [(0.0, 336.0), (1.0, 327.0), (1.0, 331.0)]
        bs = [np.array([[x, y], [x + 10.0, y]]) for x, y in raw]
        merged_b, merged_h = merge_lines(bs, [(10.0, 4.0)] * 3)
        assert len(merged_b) == 1
        x0, x1, y, asc, desc = G.merge_lines_straight(
            np.array([x for x, _ in raw]), np.array([x + 10.0 for x, _ in raw]),
            np.array([y for _, y in raw]), np.full(3, 10.0), np.full(3, 4.0),
        )
        b = merged_b[0]
        assert (x0[0], x1[0], y[0]) == (b[:, 0].min(), b[:, 0].max(), b[0, 1])

    def test_deterministic_order_same_y(self):
        b1 = np.array([[200.0, 100.0], [240.0, 100.0]])
        b2 = np.array([[0.0, 100.0], [40.0, 100.0]])
        for _ in range(3):
            merged_b, _ = merge_lines([b1, b2], [(2, 1), (2, 1)])
            assert merged_b[0][0, 0] == 0.0  # x tiebreak, never random


class TestPolygonOps:
    SQUARE = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])

    def test_clip_inside(self):
        tri = np.array([[2.0, 2.0], [4.0, 2.0], [3.0, 4.0]])
        out = clip_polygon(tri, self.SQUARE)
        assert _area(out) == pytest.approx(_area(tri))

    def test_clip_crossing(self):
        rect = np.array([[5.0, 2.0], [15.0, 2.0], [15.0, 4.0], [5.0, 4.0]])
        out = clip_polygon(rect, self.SQUARE)
        assert _area(out) == pytest.approx(10.0)  # half survives
        assert out[:, 0].max() == pytest.approx(10.0)

    def test_clip_disjoint_empty(self):
        rect = np.array([[20.0, 20.0], [30.0, 20.0], [30.0, 30.0], [20.0, 30.0]])
        out = clip_polygon(rect, self.SQUARE)
        assert _area(out) == 0.0

class TestReadingOrder:
    def test_band_sort(self):
        ys = np.array([105.0, 10.0, 100.0, 12.0])
        order = G.band_sort_order(ys, eps=20.0)
        assert order == [1, 3, 2, 0]

    def test_band_sort_eps_splits(self):
        ys = np.array([0.0, 30.0, 60.0])
        assert len(set(G.band_clusters(ys, eps=10.0))) == 3
        assert len(set(G.band_clusters(ys, eps=40.0))) == 1

    def test_xy_cut_side_by_side(self):
        # smart_sorter.py:387-391 fixture: two columns, read left then right
        boxes = [(20, 20, 100, 120), (120, 20, 220, 120)]
        assert xy_cut_order(boxes) == [0, 1]

    def test_xy_cut_grid_row_major(self):
        boxes = [
            (0, 0, 10, 10), (20, 0, 30, 10),
            (0, 20, 10, 30), (20, 20, 30, 30),
        ]
        # two horizontal bands, each split into two columns
        assert xy_cut_order(boxes) == [0, 1, 2, 3]

    def test_xy_cut_interlocked_fallback(self):
        # L-shaped interlock (smart_sorter.py:390-391): no clean cut →
        # deterministic (y, x) fallback
        boxes = [(50, 50, 200, 200), (120, 50, 300, 200)]
        assert xy_cut_order(boxes) == [0, 1]

    def test_xy_cut_column_layout(self):
        # one full-width header then two columns below
        boxes = [
            (0, 0, 100, 10),
            (0, 20, 45, 100), (55, 20, 100, 100),
        ]
        assert xy_cut_order(boxes) == [0, 1, 2]


class TestSmartSortOrder:
    """§2.5 O4 — faithful SmartRegionSorter semantics
    (smart_sorter.py:177-303): >10%-overlap coupling with alternating
    axes, decouple fallback, dominant-tilt pre-rotation."""

    def test_matches_xy_cut_on_clean_layouts(self):
        for boxes, want in [
            ([(20, 20, 100, 120), (120, 20, 220, 120)], [0, 1]),
            ([(0, 0, 10, 10), (20, 0, 30, 10),
              (0, 20, 10, 30), (20, 20, 30, 30)], [0, 1, 2, 3]),
            ([(0, 0, 100, 10), (0, 20, 45, 100), (55, 20, 100, 100)],
             [0, 1, 2]),
        ]:
            assert G.smart_sort_order(boxes) == want

    def test_decouple_fallback_on_interlock(self):
        # regions overlapping >10% on BOTH axes cannot be split by
        # coupling; decouple sorts by the axis with the larger min
        # spread (here x: 70 vs 0) — ref smart_sorter.py:224-256
        boxes = [(50, 50, 200, 200), (120, 50, 300, 200)]
        assert G.smart_sort_order(boxes) == [0, 1]
        # y spread dominates -> decouple orders by y_min; the final
        # sibling sort is by x_min (ref :219-222 runs AFTER decouple)
        # and is stable, so the y order survives only on x ties —
        # exactly the reference's behavior
        boxes = [(50, 120, 200, 300), (50, 50, 200, 200)]
        assert G.smart_sort_order(boxes) == [1, 0]

    def test_fake_intersection_param_ignores_slivers(self):
        # a 5% y-overlap is a "fake intersection": the rows must NOT
        # couple, so the order is row-major even though raw bboxes
        # touch (xy_cut_order, gap-based, needs a clean gap and
        # cannot express this tolerance)
        boxes = [
            (0, 0, 100, 102), (120, 0, 220, 102),   # row 1 (tall)
            (0, 100, 100, 202), (120, 100, 220, 202),  # row 2 overlaps 2px
        ]
        assert G.smart_sort_order(boxes) == [0, 1, 2, 3]

    def test_tilted_page_orders_row_major_after_derotation(self):
        # THE round-4 fidelity gap: a tilted two-column grid. Raw
        # bboxes interleave vertically (the right column sits ~52px
        # higher after a -15 deg tilt), so the gap-based XY-cut reads
        # column-major; the reference derotates by the dominant
        # baseline tilt first and reads row-major.
        tilt = -15.0
        rows = [
            (0.0, 0.0, 100.0, 30.0),     # A1
            (200.0, 0.0, 300.0, 30.0),   # B1
            (0.0, 30.0, 100.0, 60.0),    # A2
            (200.0, 30.0, 300.0, 60.0),  # B2
        ]
        polys = [
            G.rotate_points(
                np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]]), tilt
            )
            for x0, y0, x1, y1 in rows
        ]
        tilted = [
            (p[:, 0].min(), p[:, 1].min(), p[:, 0].max(), p[:, 1].max())
            for p in polys
        ]
        # baselines follow the tilt; the sorter's own estimator
        # (degrees(sin(dy/len)) — the reference's formula) recovers it
        baselines = [
            G.rotate_points(np.array([[x0, y1], [x1, y1]]), tilt)
            for x0, y0, x1, y1 in rows
        ]
        rot = G.smart_baseline_rotation(baselines)
        assert abs(rot - (-14.85)) < 0.2  # sin-variant ~= -15 for small angles
        # the old gap-cut on raw tilted bboxes reads column-major
        assert xy_cut_order(tilted) == [0, 2, 1, 3]
        # the faithful sorter derotates the true polygons (the bbox of
        # a tilted rect is inflated — derotating IT would over-couple)
        # and reads row-major
        assert G.smart_sort_order(polygons=polys, rotation=rot) == [0, 1, 2, 3]
        # without the pre-rotation it would NOT
        assert G.smart_sort_order(polygons=polys, rotation=0.0) != [0, 1, 2, 3]

    def test_rotation_estimator_flat_lines(self):
        assert G.smart_baseline_rotation(
            [np.array([[0.0, 5.0], [100.0, 5.0]])]
        ) == 0.0
        assert G.smart_baseline_rotation([]) == 0.0


class TestCheckPolygon:
    """§2.7 check_polygon — the numpy analog of the reference's shapely
    buffer(0) repair (layout_helpers.py:184-191)."""

    def test_valid_polygon_bit_identical(self):
        sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
        out = G.check_polygon(sq)
        assert np.array_equal(out, sq)
        assert not G.polygon_self_intersects(sq)

    def test_bowtie_detected_and_rewound(self):
        bow = np.array([[0, 0], [10, 10], [10, 0], [0, 10]], float)
        assert G.polygon_self_intersects(bow)
        fixed = G.check_polygon(bow)
        assert not G.polygon_self_intersects(fixed)
        # every original vertex survives the rewind, first vertex stays
        assert sorted(map(tuple, fixed.tolist())) == sorted(
            map(tuple, bow.tolist())
        )
        assert fixed[0].tolist() == [0.0, 0.0]
        # repaired ring has positive area (a real polygon, not a line)
        assert _area(fixed) == 100.0

    def test_star_tangle_rewound(self):
        tangle = np.array(
            [[0, 0], [4, 5], [8, 0], [8, 8], [4, 3], [0, 8]], float
        )
        assert G.polygon_self_intersects(tangle)
        fixed = G.check_polygon(tangle)
        assert not G.polygon_self_intersects(fixed)
        assert len(fixed) == 6  # rewind keeps all vertices

    def test_hull_fallback_when_rewind_fails(self):
        # spiral-ish tangle where one vertex sits past the centroid ray
        # of another: angle sort cannot untangle every such ring; the
        # function must still return SOME simple polygon
        rng = np.random.default_rng(7)
        pts = rng.uniform(0, 100, size=(12, 2))
        fixed = G.check_polygon(pts)
        assert not G.polygon_self_intersects(fixed)

    def test_short_polygons_pass_through(self):
        tri = np.array([[0, 0], [5, 0], [2, 4]], float)
        assert np.array_equal(G.check_polygon(tri), tri)
        empty = np.zeros((0, 2))
        assert G.check_polygon(empty).shape == (0, 2)

    def test_quad_fast_path_matches_generic(self):
        # the n==4 scalar fast path must agree with the vectorized
        # all-pairs test on arbitrary quads (valid, bowtie, hourglass)
        rng = np.random.default_rng(42)
        for _ in range(500):
            q = rng.uniform(0, 100, (4, 2))
            assert G.polygon_self_intersects(q) == G._self_intersects_generic(q)


class TestPointsInPolygonVectorized:
    """The vectorized points_in_polygon must be bit-identical to the
    scalar point_in_polygon it replaced in retrace_region's coverage
    check (fractional coordinates, not just the integer sandbox
    geometry — int truncation bugs hide on integer fixtures)."""

    def test_fuzz_parity_with_scalar(self):
        rng = np.random.default_rng(11)
        for _ in range(100):
            n = int(rng.integers(3, 12))
            poly = rng.uniform(0, 100, size=(n, 2))
            pts = np.vstack(
                [
                    rng.uniform(-10, 110, size=(25, 2)),
                    poly[:2],  # exactly-on-vertex probes
                    poly.mean(axis=0)[None],  # centroid probe
                    (poly[0] + poly[1])[None] / 2,  # on-edge midpoint
                ]
            )
            vec = G.points_in_polygon(pts, poly)
            sca = np.array(
                [point_in_polygon(float(x), float(y), poly) for x, y in pts]
            )
            assert (vec == sca).all()

    def test_degenerate_zero_length_edge(self):
        # repeated vertex creates a zero-length edge: the scalar loop's
        # elif branch measures distance to the point itself; the
        # vectorized np.where(L2 > 0, ...) path must match
        poly = np.array([[0, 0], [0, 0], [10, 0], [10, 10], [0, 10]], float)
        pts = np.array([[0, 0], [5, 5], [11, 5], [1e-10, 1e-10]])
        vec = G.points_in_polygon(pts, poly)
        sca = np.array(
            [point_in_polygon(float(x), float(y), poly) for x, y in pts]
        )
        assert (vec == sca).all()

    def test_empty_points(self):
        poly = np.array([[0, 0], [10, 0], [5, 10]], float)
        out = G.points_in_polygon(np.zeros((0, 2)), poly)
        assert out.shape == (0,) and out.dtype == bool


class TestDelaunayVectorizedInvariants:
    """The np.unique cavity-edge count and create-time CCW orientation
    must preserve the Bowyer-Watson invariants the dict-loop version
    guaranteed."""

    def test_triangles_ccw_and_cover_hull(self):
        rng = np.random.default_rng(5)
        for _ in range(30):
            n = int(rng.integers(4, 40))
            pts = rng.uniform(0, 100, size=(n, 2))
            tris = G.delaunay(pts)
            if len(tris) == 0:
                continue
            a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
            area2 = (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (
                b[:, 1] - a[:, 1]
            ) * (c[:, 0] - a[:, 0])
            assert (area2 > 0).all()  # CCW at creation, kept CCW
            # interior points of the convex hull are covered by some
            # triangle (tiling invariant on the kept simplices)
            interior = pts.mean(axis=0)
            covered = False
            for t in tris:
                tri_poly = pts[t]
                if G.points_in_polygon(interior[None], tri_poly)[0]:
                    covered = True
                    break
            assert covered

    def test_retrace_region_still_covers_inputs(self):
        rng = np.random.default_rng(3)
        for _ in range(20):
            m = int(rng.integers(2, 20))
            quads = []
            for _ in range(m):
                x0 = rng.uniform(0, 500)
                w = rng.uniform(10, 200)
                y = rng.uniform(0, 500)
                asc = rng.uniform(5, 20)
                desc = rng.uniform(2, 10)
                quads.append(
                    np.array(
                        [
                            [x0, y - asc],
                            [x0 + w, y - asc],
                            [x0 + w, y + desc],
                            [x0, y + desc],
                        ]
                    )
                )
            poly = np.asarray(G.retrace_region(quads), dtype=np.float64)
            allp = np.vstack(quads)
            assert G.points_in_polygon(allp, poly).all()
