"""Scalar geometry kernels several tests use as references: the
engine runs their vectorized or Catalyst forms (``layout.lines_table``
rects, ``geometry.merge_lines_straight``,
``geometry.points_in_polygon``, ``geometry.smart_sort_order``)."""

from __future__ import annotations

import numpy as np

from pero_ocr_spark.functions.geometry import resample_baseline


def baseline_to_textline(baseline: np.ndarray, asc: float, desc: float) -> np.ndarray:
    """Textline polygon from a baseline polyline and asc/desc heights:
    offset each baseline point along the local normal, up by asc and
    down by desc; polygon = up-edge then reversed down-edge."""
    asc, desc = max(1.0, asc), max(1.0, desc)
    b = np.asarray(baseline, dtype=np.float64)
    dx = np.diff(b[:, 0])
    dy = np.diff(b[:, 1])
    dx = np.concatenate([dx, dx[-1:]])
    dy = np.concatenate([dy, dy[-1:]])
    alpha = np.pi / 2 + np.arctan2(dy, dx)
    up = b.copy()
    up[:, 0] -= np.cos(alpha) * asc
    up[:, 1] -= np.sin(alpha) * asc
    down = b.copy()
    down[:, 0] += np.cos(alpha) * desc
    down[:, 1] += np.sin(alpha) * desc
    return np.concatenate([up, down[::-1]], axis=0)


def merge_lines(
    baselines: list[np.ndarray], heights: list[tuple[float, float]]
) -> tuple[list[np.ndarray], list[tuple[float, float]]]:
    """The fixpoint of the reference's iterated merge, deterministic
    output order by (first-point y, x). A merged baseline is a refit
    curve whose mean y differs from its members', so it can overlap a
    line the pass before left apart: passes repeat until one merges
    nothing."""
    while True:
        n = len(baselines)
        baselines, heights = _merge_pass(baselines, heights)
        if len(baselines) == n:
            return baselines, heights


def _merge_pass(
    baselines: list[np.ndarray], heights: list[tuple[float, float]]
) -> tuple[list[np.ndarray], list[tuple[float, float]]]:
    """One pass: union-find closure of the merge predicate."""
    n = len(baselines)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    # vectorized candidate matrix (the analog of the reference's bbox
    # candidate prune, layout_helpers.py:50-58): evaluate the merge
    # predicate on numpy arrays for ALL pairs at once instead of a
    # Python double loop — O(n²) memory on per-region n, which is
    # bounded (a region holds at most a few thousand lines)
    bs = [np.asarray(b, dtype=np.float64) for b in baselines]
    ymean = np.array([b[:, 1].mean() for b in bs])
    xmin = np.array([b[:, 0].min() for b in bs])
    xmax = np.array([b[:, 0].max() for b in bs])
    hsum = np.array([h[0] + h[1] for h in heights])
    asc = np.array([h[0] for h in heights])
    desc = np.array([h[1] for h in heights])

    min_h = np.minimum.outer(hsum, hsum)
    # h_overlap = min(y1+d1, y2+d2) - max(y1-a1, y2-a2)
    lo = np.maximum.outer(ymean - asc, ymean - asc)
    hi = np.minimum.outer(ymean + desc, ymean + desc)
    h_overlap = hi - lo
    contained = np.logical_or(
        np.logical_and(
            np.greater.outer(xmin, xmin), np.less.outer(xmax, xmax)
        ),
        np.logical_and(
            np.greater.outer(xmin, xmin).T, np.less.outer(xmax, xmax).T
        ),
    )
    gap = np.maximum(
        np.subtract.outer(xmin, xmax), np.subtract.outer(xmin, xmax).T
    )
    ok = (h_overlap > 0.7 * min_h) & ~contained & (gap < 2 * min_h)
    ii, jj = np.nonzero(np.triu(ok, k=1))
    for i, j in zip(ii.tolist(), jj.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)

    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)

    out_b, out_h = [], []
    for members in groups.values():
        if len(members) == 1:
            out_b.append(np.asarray(baselines[members[0]], dtype=np.float64))
            out_h.append(tuple(heights[members[0]]))
        else:
            pts = np.concatenate(
                [np.asarray(baselines[m], dtype=np.float64) for m in members]
            )
            pts = pts[np.argsort(pts[:, 0], kind="stable")]
            out_b.append(resample_baseline(pts))
            out_h.append(
                (
                    max(heights[m][0] for m in members),
                    max(heights[m][1] for m in members),
                )
            )
    order = sorted(
        range(len(out_b)), key=lambda i: (out_b[i][0, 1], out_b[i][0, 0])
    )
    return [out_b[i] for i in order], [out_h[i] for i in order]


def point_in_polygon(
    x: float, y: float, poly: np.ndarray, eps: float = 1e-9
) -> bool:
    """Ray-cast point-in-polygon with an on-boundary tolerance: points
    within eps (linear distance) of an edge count as inside (textline
    vertices sit EXACTLY on the alpha-shape boundary)."""
    poly = np.asarray(poly, dtype=np.float64)
    n = len(poly)
    eps2 = eps * eps  # comparisons are in squared distance
    inside = False
    for i in range(n):
        x0, y0 = poly[i]
        x1, y1 = poly[(i + 1) % n]
        # on-segment check
        dx, dy = x1 - x0, y1 - y0
        L2 = dx * dx + dy * dy
        if L2 > 0:
            t = max(0.0, min(1.0, ((x - x0) * dx + (y - y0) * dy) / L2))
            if (x - (x0 + t * dx)) ** 2 + (y - (y0 + t * dy)) ** 2 <= eps2:
                return True
        elif (x - x0) ** 2 + (y - y0) ** 2 <= eps2:
            return True
        if (y0 > y) != (y1 > y):
            xi = x0 + (y - y0) * dx / dy
            if x < xi:
                inside = not inside
    return inside


def xy_cut_order(bboxes: list[tuple[float, float, float, float]]) -> list[int]:
    """Recursive XY-cut: split the region set on clean vertical gaps
    (left-to-right), then horizontal gaps (top-to-bottom), recursing;
    groups that can't be split are ordered by (y, x). Deterministic."""

    def split(indices: list[int], vertical: bool) -> list[list[int]]:
        if len(indices) <= 1:
            return [indices]
        lo, hi = (0, 2) if vertical else (1, 3)
        order = sorted(indices, key=lambda i: bboxes[i][lo])
        groups, cur = [], [order[0]]
        reach = bboxes[order[0]][hi]
        for i in order[1:]:
            if bboxes[i][lo] >= reach:
                groups.append(cur)
                cur = [i]
            else:
                cur.append(i)
            reach = max(reach, bboxes[i][hi])
        groups.append(cur)
        return groups

    def recurse(indices: list[int], vertical: bool, depth: int) -> list[int]:
        if len(indices) <= 1:
            return indices
        groups = split(indices, vertical)
        if len(groups) == 1:
            if depth > 0:
                return sorted(
                    indices, key=lambda i: (bboxes[i][1], bboxes[i][0], i)
                )
            return recurse(indices, not vertical, depth + 1)
        out = []
        for g in groups:
            out.extend(recurse(g, not vertical, 0))
        return out

    # start with horizontal bands (top-to-bottom), then columns
    return recurse(list(range(len(bboxes))), vertical=False, depth=0)

