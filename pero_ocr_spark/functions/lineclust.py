"""Graph-based line clustering into paragraphs/regions (L6, the
CNN-engine variant).

Re-expresses ``layout_engines/cnn_layout_engine.py:258-372``: candidate
pairs from dilated textline bboxes, a separator-map penalty along the
shifted baselines (``get_penalty`` rasterizes the baseline band and
sums separator probability over the x-overlap), adjacency =
penalty < threshold, regions = connected components.

Deviations (documented): the candidate test uses dilated BBOXES where
the reference also intersects shapely buffers (a superset — extra
candidates only cost a penalty evaluation); baseline rasterization
uses per-column linear interpolation instead of cv2.line (identical
for the horizontal baselines it runs on here).
"""

from __future__ import annotations

import numpy as np

from pero_ocr_spark.functions import geometry as G


def penalty_along(
    baseline: np.ndarray,
    shift: float,
    x_1: float,
    x_2: float,
    sep_map: np.ndarray,
    t: int = 1,
) -> float:
    """Separator mass under the baseline shifted by ``shift``, summed
    over a ±t-row band restricted to cols [x_1, x_2), divided by the
    overlap width (cnn_layout_engine.py:258-281)."""
    b = np.round(np.asarray(baseline)).astype(np.int64)
    xs = np.arange(int(round(x_1)), int(round(x_2)))
    if len(xs) == 0:
        return 1.0
    ys = np.round(
        np.interp(xs, b[:, 0], b[:, 1]) + round(shift)
    ).astype(np.int64)
    h, w = sep_map.shape
    total = 0.0
    for dy in range(-t, t + 1):
        yy = np.clip(ys + dy, 0, h - 1)
        xx = np.clip(xs, 0, w - 1)
        total += float(sep_map[yy, xx].sum())
    return total / (x_2 - x_1)


def pair_penalty(
    b1: np.ndarray,
    h1: tuple[float, float],
    b2: np.ndarray,
    h2: tuple[float, float],
    sep_map: np.ndarray,
) -> float:
    """cnn_layout_engine.py:284-298: check the gap between two lines
    from both sides (lower line shifted up by its ascender, upper line
    down by its descender); penalty 1 when x-overlap ≤ 5."""
    x_overlap = max(
        0.0,
        min(b1[:, 0].max(), b2[:, 0].max())
        - max(b1[:, 0].min(), b2[:, 0].min()),
    )
    if x_overlap <= 5:
        return 1.0
    x_1 = max(b1[:, 0].min(), b2[:, 0].min())
    x_2 = min(b1[:, 0].max(), b2[:, 0].max())
    if np.average(b1[:, 1]) > np.average(b2[:, 1]):
        p1 = penalty_along(b1, -h1[0], x_1, x_2, sep_map)
        p2 = penalty_along(b2, h2[1], x_1, x_2, sep_map)
    else:
        p1 = penalty_along(b1, h1[1], x_1, x_2, sep_map)
        p2 = penalty_along(b2, -h2[0], x_1, x_2, sep_map)
    return abs(max(p1, p2))


def cluster_lines(
    baselines: list[np.ndarray],
    heights: list[tuple[float, float]],
    sep_map: np.ndarray,
    threshold: float = 0.5,
) -> np.ndarray:
    """Labels (0..k-1) of the line-adjacency connected components
    (cnn_layout_engine.py:330-372): candidates from tot-height-dilated
    bboxes, adjacency = pair penalty < threshold, connected components
    by ``geometry.union_find_roots``."""
    n = len(baselines)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    mins = np.zeros((n, 2))
    maxs = np.zeros((n, 2))
    for i, (b, h) in enumerate(zip(baselines, heights)):
        tot = h[0] + h[1]
        lo = np.array([b[:, 0].min(), b[:, 1].min() - h[0]])
        hi = np.array([b[:, 0].max(), b[:, 1].max() + h[1]])
        mins[i] = lo - tot
        maxs[i] = hi + tot

    disjoint = np.logical_and(
        np.logical_or(
            maxs[:, None, 1] <= mins[None, :, 1],
            mins[:, None, 1] >= maxs[None, :, 1],
        ),
        np.logical_or(
            maxs[:, None, 0] <= mins[None, :, 0],
            mins[:, None, 0] >= maxs[None, :, 0],
        ),
    )
    cand = np.triu(~disjoint, k=1)
    # buffer-intersection analog (cnn_layout_engine.py:336-340,357):
    # the reference only evaluates a penalty when the textline
    # polygons dilated by 3·tot_height/4 intersect; for rect
    # textlines that is a rect-overlap test after growing each rect
    # by its own 0.75·tot
    grow = np.array([0.75 * (h[0] + h[1]) for h in heights])
    tl_min = mins + (np.array([[h[0] + h[1]] for h in heights])) - grow[:, None]
    tl_max = maxs - (np.array([[h[0] + h[1]] for h in heights])) + grow[:, None]
    linked = [
        (i, j)
        for i, j in zip(*cand.nonzero())
        if tl_min[i, 0] < tl_max[j, 0]
        and tl_min[j, 0] < tl_max[i, 0]
        and tl_min[i, 1] < tl_max[j, 1]
        and tl_min[j, 1] < tl_max[i, 1]
        and pair_penalty(
            baselines[i], heights[i], baselines[j], heights[j], sep_map
        ) < threshold
    ]
    a, b = np.array(linked, dtype=np.int64).reshape(-1, 2).T
    # a component's root is its lowest index, so the sorted roots
    # number the components in order of first appearance
    roots = G.union_find_roots(np.arange(n), a, b)
    return np.unique(roots, return_inverse=True)[1]
