"""Pure numpy geometry kernels for layout operators (no Spark imports).

Own implementations of the reference's layout-helper semantics, with
the nondeterminism designed out:

  * baseline resampling by polynomial fit
    (``layout_helpers.py:275-292``)
  * mergeable-line detection + union-find closure over straight
    baselines — the fixpoint the reference reaches by looping
    ``merge_lines`` (``layout_helpers.py:194-258`` +
    ``page_parser.py:261-274``), with the random sort tiebreak
    (``:251-253``) replaced by (y, x)
  * vectorized point-in-polygon, convex/alpha-shape hulls and polygon
    repair — the shapely-free replacements for the reference's
    region geometry
  * 1-D band clustering == DBSCAN(eps, min_samples=1) on a line — the
    NaiveRegionSorter's reading order (``naive_sorter.py:60-84``)
  * SmartRegionSorter reading order, faithful semantics
    (``smart_sorter.py:177-303``): transitive >10%-overlap coupling
    with alternating axes, the decouple fallback for interlocked
    regions, and the dominant-baseline-tilt pre-rotation

The scalar general-case kernels these replace (multi-point
``merge_lines``, ``point_in_polygon``, the gap-based XY-cut) live in
``tests/_geometry_ref.py`` as the references the tests check against,
and the per-component loop form of ``merge_lines_straight`` in
``tests/_kernel_ref.py``.
"""

from __future__ import annotations

import numpy as np
from numpy.linalg import _umath_linalg
from numpy.linalg import linalg as _linalg


# ------------------------------------------------ textline polygon (L14)

# -------------------------------------------------- resampling (L15)

def resample_baseline(baseline: np.ndarray, num_points: int = 10) -> np.ndarray:
    """Resample a baseline to num_points via a deg-1 (2 pts) or deg-2
    polynomial fit over x; near-vertical lines are fit in swapped
    coordinates."""
    b = np.asarray(baseline, dtype=np.float64)
    vertical = abs(b[0, 0] - b[-1, 0]) < abs(b[0, 1] - b[-1, 1])
    if vertical:
        b = b[:, ::-1]
    deg = 1 if b.shape[0] == 2 else 2
    coef = np.polyfit(b[:, 0], b[:, 1], deg)
    xs = np.linspace(b[0, 0], b[-1, 0], num_points)
    ys = np.polyval(coef, xs)
    out = np.stack([xs, ys], axis=-1)
    if vertical:
        out = out[:, ::-1]
    return out


# ------------------------------------------------- merge lines (L11)

def union_find_roots(
    forest: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Each item's root after joining the trees of ``forest`` (each
    item's parent, at a lower or equal index) along the pairs
    ``(a[i], b[i])``: the lowest index of its component, since a union
    hangs the higher root under the lower one."""
    parent = _forest_roots(forest).tolist()

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, j in zip(a.tolist(), b.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return _forest_roots(np.asarray(parent, dtype=np.int64))


def _forest_roots(parent: np.ndarray) -> np.ndarray:
    """Each item's root in a forest of parent pointers, by pointer
    jumping: every pass halves every chain."""
    while True:
        up = parent[parent]
        if np.array_equal(up, parent):
            return parent
        parent = up


def _merge_roots(
    xlo: np.ndarray,
    xhi: np.ndarray,
    ymid: np.ndarray,
    asc: np.ndarray,
    desc: np.ndarray,
) -> np.ndarray:
    """One pass of the merge predicate: each line's union-find root
    (the lowest index of its component) over lines given by x extent,
    mean baseline y and asc/desc heights."""
    n = len(xlo)
    hsum = asc + desc
    # ---- candidate pairs by interval sweep, not O(n²) outer products.
    # The predicate requires vertical overlap (h_overlap > 0.7·min_h >
    # 0), i.e. the [y-asc, y+desc] intervals intersect — so sort by
    # interval start and pair each line only with the lines whose start
    # falls before its end. On row-structured pages that is O(n·band)
    # with band = lines per text row; the old outer-product path
    # allocated six n×n float64 matrices, ~1 GB per matrix for the
    # 11k-line groups a 64×-skewed corpus doc produces (the round-3
    # "17.8 s unexplained" — it was quadratic allocation on skew, not
    # suite noise). Worst case (all lines one row) degrades to the same
    # O(n²) pair count but never materializes an n×n matrix.
    ylo = ymid - asc
    yhi = ymid + desc
    order = np.argsort(ylo, kind="stable")
    lo_s = ylo[order]
    bound = np.searchsorted(lo_s, yhi[order], side="left")
    cnt = np.maximum(bound - np.arange(n) - 1, 0)
    total = int(cnt.sum())
    ii_s = np.repeat(np.arange(n), cnt)
    offsets = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    jj_s = np.arange(total) - offsets[ii_s] + ii_s + 1
    ii, jj = order[ii_s], order[jj_s]
    # same predicate as the reference's merge candidates, evaluated 1-D
    min_h = np.minimum(hsum[ii], hsum[jj])
    h_overlap = np.minimum(yhi[ii], yhi[jj]) - np.maximum(ylo[ii], ylo[jj])
    contained = ((xlo[ii] > xlo[jj]) & (xhi[ii] < xhi[jj])) | (
        (xlo[jj] > xlo[ii]) & (xhi[jj] < xhi[ii])
    )
    gap = np.maximum(xlo[ii] - xhi[jj], xlo[jj] - xhi[ii])
    ok = (h_overlap > 0.7 * min_h) & ~contained & (gap < 2 * min_h)
    return union_find_roots(np.arange(n), ii[ok], jj[ok])


def merge_lines_straight(
    x0: np.ndarray,
    x1: np.ndarray,
    y: np.ndarray,
    asc: np.ndarray,
    desc: np.ndarray,
) -> tuple[np.ndarray, ...]:
    """Array-based ``merge_lines`` (tests/_geometry_ref.py) for
    straight 2-point horizontal baselines ([[x0, y], [x1, y]]):
    identical components, values and output order, computed in
    whole-array passes over five flat input arrays — the shape Arrow
    hands a pandas group to begin with.

    Every curve's points live in one flat (x, y) pair of arrays with a
    point count per curve. A merged component gathers its members'
    points in index order and sorts them stably by x (one ``lexsort``
    for all components), then is refit through the deg-2
    ``resample_baseline`` arithmetic in stacks of equal point count
    (``_resample_stack``), so every value is bit-for-bit the general
    kernel's.

    Returns (x0, x1, y, asc, desc) arrays ordered by (y, x0) —
    the general kernel's deterministic output order."""
    n = len(x0)
    x0 = np.asarray(x0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    asc = np.asarray(asc, dtype=np.float64)
    desc = np.asarray(desc, dtype=np.float64)
    if n == 1:
        # extent = min/max like the general kernel's b[:,0].min()/max()
        return (
            np.minimum(x0, x1),
            np.maximum(x0, x1),
            y.copy(),
            asc.copy(),
            desc.copy(),
        )

    # extents via min/max like the general kernel (b[:,0].min/max), so
    # reversed segments (x0 > x1) evaluate the same predicate
    xlo = np.minimum(x0, x1)
    xhi = np.maximum(x0, x1)
    uniq, inverse = np.unique(
        _merge_roots(xlo, xhi, y, asc, desc), return_inverse=True
    )
    if len(uniq) == n:  # nothing merges: order the flat arrays
        order = np.lexsort((x0, y))
        return xlo[order], xhi[order], y[order], asc[order], desc[order]
    px = np.column_stack((x0, x1)).ravel()
    py = np.repeat(y, 2)
    counts = np.full(n, 2)
    return _merge_curves(
        *_assemble(px, py, counts, asc, desc, inverse, len(uniq))
    )


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``concatenate([arange(s, s + l) for s, l in zip(starts, lens)])``."""
    ends = np.cumsum(lens)
    return np.arange(ends[-1] if len(ends) else 0) + np.repeat(
        starts - (ends - lens), lens
    )


def _resample_stack(
    bx: np.ndarray, by: np.ndarray, num_points: int = 10
) -> tuple[np.ndarray, np.ndarray]:
    """``resample_baseline`` of K baselines of m >= 4 points each (the
    rows of ``bx``/``by``), as passes over (K, m, ·) stacks. Each step
    is ``np.polyfit`` / ``np.linspace`` / ``np.polyval``'s own
    arithmetic, so each row is bit-for-bit one ``resample_baseline``
    call: the vander columns, their scaling, the same LAPACK
    least-squares gufunc ``np.linalg.lstsq`` dispatches to (stacked,
    with polyfit's ``rcond = m·eps``), and linspace's per-row choice
    between its zero-step and its step formula. Stacks must hold ONE
    point count: the column-scale sums and ``rcond`` depend on m."""
    k, m = bx.shape
    vertical = np.abs(bx[:, 0] - bx[:, -1]) < np.abs(by[:, 0] - by[:, -1])
    u = np.where(vertical[:, None], by, bx)
    v = np.where(vertical[:, None], bx, by)
    lhs = np.empty((k, m, 3))
    lhs[:, :, 0] = u * u
    lhs[:, :, 1] = u
    lhs[:, :, 2] = 1.0
    scale = np.sqrt((lhs * lhs).sum(axis=1))
    lhs /= scale[:, None, :]
    # np.linalg.lstsq's gufunc for more rows (m >= 4) than columns (3)
    coef = _umath_linalg.lstsq_n(
        lhs,
        v[:, :, None],
        m * np.finfo(np.float64).eps,
        signature="ddd->ddid",
        extobj=_linalg.get_linalg_error_extobj(_linalg._raise_linalgerror_lstsq),
    )[0][:, :, 0] / scale
    start, stop = u[:, 0], u[:, -1]
    delta = stop - start
    div = num_points - 1
    step = delta / div
    ar = np.arange(num_points, dtype=np.float64)
    xs = np.where(
        (step == 0)[:, None], ar / div * delta[:, None], ar * step[:, None]
    )
    xs += start[:, None]
    xs[:, -1] = stop
    ys = np.zeros_like(xs)
    for j in range(3):
        ys = ys * xs + coef[:, j, None]
    return np.where(vertical[:, None], ys, xs), np.where(vertical[:, None], xs, ys)


def _assemble(
    px: np.ndarray,
    py: np.ndarray,
    counts: np.ndarray,
    asc: np.ndarray,
    desc: np.ndarray,
    inverse: np.ndarray,
    k: int,
) -> tuple[np.ndarray, ...]:
    """Merge each of the ``k`` components (``inverse`` maps curves to
    them) like the general kernel: member points in index order,
    stable sort by x, polyfit through resample_baseline, max heights;
    a single-member component keeps its curve as it is. Components
    come out ordered by their first point's (y, x), as flat points
    plus per-curve counts and heights."""
    starts = np.cumsum(counts) - counts
    corder = np.argsort(inverse, kind="stable")
    members = np.bincount(inverse, minlength=k)
    comp = np.repeat(inverse[corder], counts[corder])
    pidx = _ranges(starts[corder], counts[corder])
    gx, gy = px[pidx], py[pidx]
    multi = members > 1
    o = np.lexsort((np.where(multi[comp], gx, 0.0), comp))
    gx, gy = gx[o], gy[o]
    npts = np.bincount(comp, minlength=k)
    pstart = np.cumsum(npts) - npts
    ocounts = np.where(multi, 10, npts)
    ostart = np.cumsum(ocounts) - ocounts
    ox = np.empty(int(ocounts.sum()))
    oy = np.empty_like(ox)
    single = np.flatnonzero(~multi)
    src = _ranges(pstart[single], npts[single])
    dst = _ranges(ostart[single], npts[single])
    ox[dst], oy[dst] = gx[src], gy[src]
    for m in np.unique(npts[multi]).tolist():
        cs = np.flatnonzero(multi & (npts == m))
        src = pstart[cs][:, None] + np.arange(m)
        dst = ostart[cs][:, None] + np.arange(10)
        ox[dst], oy[dst] = _resample_stack(gx[src], gy[src])
    first = np.cumsum(members) - members
    oasc = np.maximum.reduceat(asc[corder], first)
    odesc = np.maximum.reduceat(desc[corder], first)
    order = np.lexsort((ox[ostart], oy[ostart]))
    sel = _ranges(ostart[order], ocounts[order])
    return ox[sel], oy[sel], ocounts[order], oasc[order], odesc[order]


def _merge_curves(
    px: np.ndarray,
    py: np.ndarray,
    counts: np.ndarray,
    asc: np.ndarray,
    desc: np.ndarray,
) -> tuple[np.ndarray, ...]:
    """The passes after the first one merged. A merged baseline is a
    refit curve whose mean y is not its members' y, so it can come into
    overlap with a line the pass before left apart: passes over the
    (y, x)-ordered curves repeat until one merges nothing. Curve
    extents are ``reduceat``s over the flat points; mean y is taken
    per point-count stack, the same per-row sum as ``b[:, 1].mean()``."""
    while True:
        starts = np.cumsum(counts) - counts
        xlo = np.minimum.reduceat(px, starts)
        xhi = np.maximum.reduceat(px, starts)
        ymean = np.empty(len(counts))
        for m in np.unique(counts).tolist():
            cs = np.flatnonzero(counts == m)
            ymean[cs] = py[starts[cs][:, None] + np.arange(m)].mean(axis=1)
        uniq, inverse = np.unique(
            _merge_roots(xlo, xhi, ymean, asc, desc), return_inverse=True
        )
        if len(uniq) == len(counts):
            return xlo, xhi, py[starts], asc, desc
        px, py, counts, asc, desc = _assemble(
            px, py, counts, asc, desc, inverse, len(uniq)
        )


# ---------------------------------------------- polygon ops (J1 exact)

def _signed_area(poly: np.ndarray) -> float:
    x, y = poly[:, 0], poly[:, 1]
    return 0.5 * float(
        np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y)
    )


def stretch_baseline(
    baseline: np.ndarray, x0: float, x1: float, max_extend: float | None = None
) -> np.ndarray:
    """L17: stretch a baseline horizontally toward region bounds
    [x0, x1] (``line_postprocessing_engine.py`` semantics, simplified
    to straight extrapolation of the end segments); ``max_extend``
    caps the growth per side (the ±k px variant)."""
    b = np.asarray(baseline, dtype=np.float64).copy()
    order = np.argsort(b[:, 0], kind="stable")
    b = b[order]
    lo = b[0, 0] - x0
    hi = x1 - b[-1, 0]
    if max_extend is not None:
        lo = min(lo, max_extend)
        hi = min(hi, max_extend)
    if lo > 0:
        b[0, 0] -= lo
    if hi > 0:
        b[-1, 0] += hi
    return b


def dominant_line(
    baselines: list[np.ndarray], heights: list[tuple[float, float]]
) -> int:
    """L17 variant: index of the single dominant line in a region —
    the widest one, ties by (y, x) for determinism."""
    widths = [float(np.ptp(np.asarray(b)[:, 0])) for b in baselines]
    return min(
        range(len(baselines)),
        key=lambda i: (
            -widths[i],
            float(np.asarray(baselines[i])[0, 1]),
            float(np.asarray(baselines[i])[0, 0]),
        ),
    )


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain convex hull (counter-clockwise). The
    shapely-free stand-in for the reference's alpha-shape region
    retrace (``layout_helpers.py:78-92,160-181``): a region polygon
    recomputed from its line polygons' points."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list[np.ndarray] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[np.ndarray] = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.asarray(lower[:-1] + upper[:-1])


def polygon_self_intersects(poly: np.ndarray) -> bool:
    """True iff any two NON-ADJACENT edges of the closed polygon
    properly cross (shared endpoints of consecutive edges are not
    crossings). Vectorized orientation test over all edge pairs —
    imported polygons are tens of points, so the O(e²) pair matrix is
    trivial."""
    pts = np.asarray(poly, dtype=np.float64)
    n = len(pts)
    if n < 4:
        return False
    if n == 4:
        # scalar fast path — imported Coords are overwhelmingly rects/
        # quads and this runs once PER LINE on import (the generic
        # matrix build below costs ~90µs/call; this is ~3µs). A quad
        # has exactly two non-adjacent edge pairs: (e0,e2) and (e1,e3).
        (x0, y0), (x1, y1), (x2, y2), (x3, y3) = pts.tolist()

        def crosses(ax, ay, bx, by, cx, cy, dx, dy):
            d1 = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            d2 = (bx - ax) * (dy - ay) - (by - ay) * (dx - ax)
            d3 = (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx)
            d4 = (dx - cx) * (by - cy) - (dy - cy) * (bx - cx)
            return d1 * d2 < 0 and d3 * d4 < 0

        return crosses(x0, y0, x1, y1, x2, y2, x3, y3) or crosses(
            x1, y1, x2, y2, x3, y3, x0, y0
        )
    return _self_intersects_generic(pts)


def _self_intersects_generic(pts: np.ndarray) -> bool:
    """Vectorized all-pairs proper-crossing test (any n ≥ 4); the quad
    fast path above must agree with this — parity-tested."""
    n = len(pts)
    a = pts
    b = np.roll(pts, -1, axis=0)  # edge i = a[i] -> b[i]

    def orient(p, q, r):
        # sign of cross((q-p),(r-p)) broadcast over pair grid
        return np.sign(
            (q[..., 0] - p[..., 0]) * (r[..., 1] - p[..., 1])
            - (q[..., 1] - p[..., 1]) * (r[..., 0] - p[..., 0])
        )

    A = a[:, None, :]
    B = b[:, None, :]
    C = a[None, :, :]
    D = b[None, :, :]
    proper = (
        (orient(A, B, C) * orient(A, B, D) < 0)
        & (orient(C, D, A) * orient(C, D, B) < 0)
    )
    i = np.arange(n)
    adjacent = (
        (i[:, None] == i[None, :])
        | ((i[:, None] + 1) % n == i[None, :])
        | ((i[None, :] + 1) % n == i[:, None])
    )
    return bool(np.any(proper & ~adjacent & (i[:, None] < i[None, :])))


def check_polygon(poly: np.ndarray) -> np.ndarray:
    """§2.7 ``check_polygon``: repair a self-intersecting polygon, the
    numpy analog of the reference's shapely ``buffer(0)`` fix-up
    (``layout_helpers.py:184-191``) applied to every imported Coords
    polygon. Valid polygons pass through untouched (bit-identical).

    Repair strategy: (1) rewind — re-order the vertices by angle around
    the centroid, which untangles bowties and any star-shaped-wrt-
    centroid tangle while keeping every original vertex; (2) if the
    rewound ring still self-intersects, fall back to the convex hull of
    the vertices (a valid cover, like buffer(0)'s outer boundary)."""
    pts = np.asarray(poly, dtype=np.float64)
    if len(pts) < 4 or not polygon_self_intersects(pts):
        return pts
    centroid = pts.mean(axis=0)
    ang = np.arctan2(pts[:, 1] - centroid[1], pts[:, 0] - centroid[0])
    rewound = pts[np.argsort(ang, kind="stable")]
    if not polygon_self_intersects(rewound):
        # rotate so the original first vertex stays first — keeps the
        # repair a pure re-ordering, deterministic across runs
        first = int(np.flatnonzero(
            (rewound == pts[0]).all(axis=1)
        )[0])
        return np.roll(rewound, -first, axis=0)
    return convex_hull(pts)


def points_in_polygon(
    points: np.ndarray, poly: np.ndarray, eps: float = 1e-9
) -> np.ndarray:
    """Vectorized ``point_in_polygon`` (tests/_geometry_ref.py) over an
    (m, 2) point array:
    same arithmetic (on-segment tolerance + ray-cast parity) computed
    as one m x n numpy pass instead of a Python loop per point. The
    alpha-shape coverage check in ``retrace_region`` calls this once
    per region instead of 4·lines times — identical results, ~20x
    less Python-interpreter time in the per-region Arrow stage."""
    pts = np.asarray(points, dtype=np.float64)
    poly = np.asarray(poly, dtype=np.float64)
    if len(pts) == 0:
        return np.zeros(0, dtype=bool)
    x = pts[:, 0:1]  # (m, 1)
    y = pts[:, 1:2]
    p0 = poly  # (n, 2)
    p1 = np.roll(poly, -1, axis=0)
    x0, y0 = p0[:, 0][None, :], p0[:, 1][None, :]  # (1, n)
    x1, y1 = p1[:, 0][None, :], p1[:, 1][None, :]
    dx, dy = x1 - x0, y1 - y0
    L2 = dx * dx + dy * dy  # (1, n)
    eps2 = eps * eps
    # on-segment tolerance (degenerate zero-length edges: distance to
    # the point itself, matching the scalar loop's elif branch)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((x - x0) * dx + (y - y0) * dy) / L2
    t = np.clip(np.where(L2 > 0, t, 0.0), 0.0, 1.0)
    d2 = (x - (x0 + t * dx)) ** 2 + (y - (y0 + t * dy)) ** 2
    on_seg = (d2 <= eps2).any(axis=1)
    # ray-cast parity
    crosses = (y0 > y) != (y1 > y)  # (m, n); dy != 0 wherever True
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (y - y0) * dx / dy
    inside = ((crosses) & (x < xi)).sum(axis=1) % 2 == 1
    return on_seg | inside


def delaunay(points: np.ndarray) -> np.ndarray:
    """Delaunay triangulation (Bowyer–Watson, numpy-only — the
    scipy.spatial.Delaunay stand-in for the alpha-shape retrace).
    Returns an (m, 3) int array of point indices. Incremental insert
    with a vectorized circumcircle test per insertion — O(n²) in the
    point count, fine for per-region point clouds (10²–10³)."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    mn, mx = pts.min(axis=0), pts.max(axis=0)
    d = float(max(mx[0] - mn[0], mx[1] - mn[1])) * 10 + 1.0
    c = (mn + mx) / 2
    allp = np.vstack(
        [pts, [[c[0] - 2 * d, c[1] - d], [c[0] + 2 * d, c[1] - d], [c[0], c[1] + 2 * d]]]
    )
    # the super-triangle is CCW by construction; every triangle created
    # below is oriented CCW at creation, so the per-insert loop skips
    # the orientation test entirely (same swap decision, same determinant
    # values — just computed once per triangle instead of once per
    # triangle per insertion)
    tris = np.array([[n, n + 1, n + 2]], dtype=np.int64)
    for i in range(n):
        a, b, cc = allp[tris[:, 0]], allp[tris[:, 1]], allp[tris[:, 2]]
        p = allp[i]
        ax, ay = a[:, 0] - p[0], a[:, 1] - p[1]
        bx, by = b[:, 0] - p[0], b[:, 1] - p[1]
        cx, cy = cc[:, 0] - p[0], cc[:, 1] - p[1]
        det = (
            (ax * ax + ay * ay) * (bx * cy - cx * by)
            - (bx * bx + by * by) * (ax * cy - cx * ay)
            + (cx * cx + cy * cy) * (ax * by - bx * ay)
        )
        bad = det > 1e-12
        if not bad.any():
            # duplicate/degenerate point: skip (it adds no area)
            continue
        # cavity boundary = bad-triangle edges appearing exactly once
        # (vectorized: sort each edge, encode as one int, count with
        # np.unique — same unordered-edge multiset the dict built)
        bt = tris[bad]
        ev = np.concatenate([bt[:, (0, 1)], bt[:, (1, 2)], bt[:, (2, 0)]])
        ev.sort(axis=1)
        key = ev[:, 0] * (n + 3) + ev[:, 1]
        uk, cnt = np.unique(key, return_counts=True)
        bkey = uk[cnt == 1]
        new = np.column_stack(
            [
                np.full(len(bkey), i, dtype=np.int64),
                bkey // (n + 3),
                bkey % (n + 3),
            ]
        )
        # orient CCW at creation (same area2 arithmetic the old
        # per-insert swap used, applied once)
        na, nb, nc = allp[new[:, 0]], allp[new[:, 1]], allp[new[:, 2]]
        narea2 = (nb[:, 0] - na[:, 0]) * (nc[:, 1] - na[:, 1]) - (
            nb[:, 1] - na[:, 1]
        ) * (nc[:, 0] - na[:, 0])
        neg = narea2 < 0
        if neg.any():
            new[neg] = new[neg][:, [0, 2, 1]]
        tris = np.vstack([tris[~bad], new])
    keep = (tris < n).all(axis=1)
    return tris[keep]


def alpha_shape(points: np.ndarray, alpha: float) -> np.ndarray:
    """Concave boundary polygon of a point cloud
    (``layout_helpers.py:160-181`` semantics, shapely/scipy-free):
    Delaunay triangles with circumradius ≤ alpha (the reference's
    +1e-4 area epsilon kept), boundary = edges used by exactly one
    kept triangle, chained into a ring. Point clouds under 4 points,
    chains that don't close into ONE ring (the reference's
    MultiPolygon branch), and empty filters fall back to the convex
    hull — the reference collapses those to ``convex_hull`` too."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) < 4:
        return convex_hull(pts)
    try:
        tris = delaunay(pts)
    except FloatingPointError:
        # Degenerate clouds (collinear, cocircular, NaN/inf, near-dup)
        # raise nothing under numpy's default error state: collinear
        # ones come back with no triangles (handled below). With
        # floating-point errors set to raise, coordinates past ~1e77
        # overflow the circumcircle determinant here.
        return convex_hull(pts)
    if len(tris) == 0:
        return convex_hull(pts)
    t = pts[tris]
    a = np.hypot(t[:, 0, 0] - t[:, 1, 0], t[:, 0, 1] - t[:, 1, 1])
    b = np.hypot(t[:, 1, 0] - t[:, 2, 0], t[:, 1, 1] - t[:, 2, 1])
    c = np.hypot(t[:, 2, 0] - t[:, 0, 0], t[:, 2, 1] - t[:, 0, 1])
    s = (a + b + c) / 2.0
    areas = np.sqrt(np.maximum(s * (s - a) * (s - b) * (s - c), 0.0))
    circums = a * b * c / (4.0 * (areas + 0.0001))
    kept = tris[circums <= alpha]
    if len(kept) == 0:
        return convex_hull(pts)
    ev = np.concatenate([kept[:, (0, 1)], kept[:, (1, 2)], kept[:, (2, 0)]])
    ev.sort(axis=1)
    key = ev[:, 0] * len(pts) + ev[:, 1]
    uk, cnt = np.unique(key, return_counts=True)
    bkey = uk[cnt == 1]
    boundary = [(int(k // len(pts)), int(k % len(pts))) for k in bkey]
    if not boundary:
        return convex_hull(pts)
    adj: dict[int, list[int]] = {}
    for e0, e1 in boundary:
        adj.setdefault(e0, []).append(e1)
        adj.setdefault(e1, []).append(e0)
    if any(len(v) != 2 for v in adj.values()):
        return convex_hull(pts)  # pinched/multi-ring boundary
    start = boundary[0][0]
    ring = [start]
    prev, cur = -1, start
    while True:
        nxt = adj[cur][0] if adj[cur][0] != prev else adj[cur][1]
        if nxt == start:
            break
        ring.append(nxt)
        prev, cur = cur, nxt
        if len(ring) > len(boundary):
            return convex_hull(pts)  # not a single closed ring
    if len(ring) < len(adj):
        return convex_hull(pts)  # disconnected rings (MultiPolygon)
    poly = pts[ring]
    if _signed_area(poly) < 0:
        poly = poly[::-1]
    return poly


def retrace_region(
    line_polygons: list[np.ndarray], concave: bool = False
) -> np.ndarray:
    """L16/L7: region polygon recomputed from its textline polygons.
    Default: convex hull of all points. ``concave=True`` runs the
    reference's alpha-shape retrace (``layout_helpers.py:78-92,
    126-147``): alpha = the max per-textline vertex spacing, falling
    back to the hull when the shape degenerates. Deviation
    (documented): the reference unions in any textline the alpha
    polygon misses; here a missed textline VERTEX triggers the hull
    fallback instead — always covering, never self-intersecting."""
    all_pts = np.concatenate([np.asarray(p, dtype=np.float64) for p in line_polygons])
    if not concave:
        return convex_hull(all_pts)
    spacings = [
        np.linalg.norm(np.diff(np.asarray(p, dtype=np.float64), axis=0), axis=1).max()
        for p in line_polygons
        if len(p) > 1
    ]
    if not spacings:
        return convex_hull(all_pts)
    poly = alpha_shape(all_pts, float(max(spacings)))
    if not points_in_polygon(all_pts, poly).all():
        return convex_hull(all_pts)
    return poly


# ------------------------------------------- reading order (O3 / O4)

def band_clusters(ys: np.ndarray, eps: float) -> np.ndarray:
    """1-D density clustering == DBSCAN(eps, min_samples=1): sort the
    values; a gap > eps starts a new cluster. Returns cluster id per
    input element (ids ordered by cluster min-y)."""
    ys = np.asarray(ys, dtype=np.float64)
    order = np.argsort(ys, kind="stable")
    labels = np.zeros(len(ys), dtype=np.int64)
    cluster = 0
    for prev, cur in zip(order[:-1], order[1:]):
        if ys[cur] - ys[prev] > eps:
            cluster += 1
        labels[cur] = cluster
    labels[order[0]] = 0
    # relabel in first-seen-by-y order (already monotone by construction)
    return labels


def band_sort_order(ys: np.ndarray, eps: float) -> list[int]:
    """NaiveRegionSorter semantics: cluster y_min into bands, order
    bands by y, members within a band by y (stable, deterministic)."""
    ys = np.asarray(ys, dtype=np.float64)
    labels = band_clusters(ys, eps)
    return sorted(range(len(ys)), key=lambda i: (labels[i], ys[i], i))


# ------------------------------------------ SmartRegionSorter (O4)

def rotate_points(pts: np.ndarray, deg: float) -> np.ndarray:
    """Rotate points ``deg`` degrees counter-clockwise (math
    convention) around the origin — the shapely
    ``affinity.rotate(geom, deg, origin=(0, 0))`` arithmetic the
    reference applies to every polygon/baseline before and after
    ordering (ref smart_sorter.py:305-348)."""
    a = np.radians(deg)
    c, s = np.cos(a), np.sin(a)
    pts = np.asarray(pts, dtype=np.float64)
    return pts @ np.array([[c, s], [-s, c]])


def smart_baseline_rotation(baselines: list[np.ndarray]) -> float:
    """Page tilt estimate, SmartRegionSorter variant (ref
    smart_sorter.py:350-384): per baseline, ``degrees(sin(dy /
    chord_length))`` of the first->last chord — note the reference
    applies ``sin`` (not ``asin``) to the ratio, an approximation
    valid for small tilts that we replicate for parity — then the
    mean over the longest half of the lines. Differs from the
    layout_helpers variant, which uses ``atan2``; the sorter must use
    its own."""
    import math

    infos = []
    for line in baselines:
        p0 = np.asarray(line[0], dtype=np.float64)
        p1 = np.asarray(line[-1], dtype=np.float64)
        if p1[1] != p0[1]:
            length = float(np.hypot(p1[0] - p0[0], p1[1] - p0[1]))
            infos.append((length, math.degrees(math.sin((p1[1] - p0[1]) / length))))
        else:
            infos.append((0.0, 0.0))
    infos.sort(key=lambda x: x[0], reverse=True)
    infos = infos[: int(len(infos) / 2)]
    if not infos:
        return 0.0
    return sum(r for _, r in infos) / len(infos)


def smart_sort_order(
    bboxes: list[tuple[float, float, float, float]] | None = None,
    rotation: float = 0.0,
    intersect_param: float = 0.1,
    polygons: list[np.ndarray] | None = None,
) -> list[int]:
    """SmartRegionSorter reading order (ref smart_sorter.py:177-303),
    faithful semantics — NOT a gap-based XY-cut:

      * regions are pre-rotated by ``-rotation`` degrees around the
        origin (the reference derotates the whole layout by the
        dominant baseline tilt before ordering, so a tilted page
        orders row-major, not by raw bbox y);
      * clusters form by TRANSITIVE >10%-overlap coupling on one axis
        (a cluster absorbs any unit whose overlap with the cluster's
        union bbox exceeds ``intersect_param`` of both extents — the
        reference's FakeIntersectionParameter), alternating axes down
        the recursion: y-coupling splits rows, x-coupling splits
        columns within a row;
      * a non-root cluster that fails to split on its axis (regions
        interlocked both ways) falls back to ``decouple``: its units
        are laid out flat, sorted by whichever axis has the larger
        total adjacent-min spread (ref :224-256);
      * sibling clusters order by x_min after x-coupling, y_min after
        y-coupling (stable, so the decouple order is the tiebreak).

    Pass either ``bboxes`` (x0, y0, x1, y1) — exact when the regions
    are axis-aligned rects, as this engine's are — or ``polygons``
    (arrays of (N, 2) points) when the regions are tilted: the
    reference rotates the true polygons, and derotating a tilted
    region's axis-aligned bbox would inflate it (the bbox of a tilted
    rect is bigger than the rect) and over-couple rows. Returns the
    region indices in reading order. Deterministic: coupling scans in
    input order, all sorts are stable with numeric keys.
    """
    if polygons is not None:
        pts = [np.asarray(p, dtype=np.float64) for p in polygons]
        if rotation != 0.0:
            pts = [rotate_points(p, -rotation) for p in pts]
        n = len(pts)
        if n <= 1:
            return list(range(n))
        boxes = np.array(
            [[p[:, 0].min(), p[:, 1].min(), p[:, 0].max(), p[:, 1].max()]
             for p in pts]
        )
    else:
        n = len(bboxes)
        if n <= 1:
            return list(range(n))
        boxes = np.asarray(bboxes, dtype=np.float64).reshape(n, 4)
        if rotation != 0.0:
            corners = np.stack(
                [
                    boxes[:, [0, 1]], boxes[:, [2, 1]],
                    boxes[:, [2, 3]], boxes[:, [0, 3]],
                ],
                axis=1,
            )  # (n, 4, 2)
            flat = rotate_points(corners.reshape(-1, 2), -rotation)
            corners = flat.reshape(n, 4, 2)
            boxes = np.concatenate(
                [corners.min(axis=1), corners.max(axis=1)], axis=1
            )  # (x0, y0, x1, y1)

    def unit_bounds(ids: list[int]) -> tuple[float, float, float, float]:
        sub = boxes[ids]
        return (
            float(sub[:, 0].min()), float(sub[:, 1].min()),
            float(sub[:, 2].max()), float(sub[:, 3].max()),
        )

    def couples(a, b, vertical: bool) -> bool:
        # ref :154-175 — overlap measured as min(|a.lo - b.hi|,
        # |b.lo - a.hi|) (NOT the true intersection under
        # containment; replicated for parity), counted only if it
        # exceeds intersect_param of BOTH extents
        lo, hi = (0, 2) if vertical else (1, 3)
        if a[lo] <= b[hi] and b[lo] <= a[hi]:
            inter = min(abs(a[lo] - b[hi]), abs(b[lo] - a[hi]))
            ea, eb = a[hi] - a[lo], b[hi] - b[lo]
            if ea > 0 and eb > 0:
                return inter / ea > intersect_param and inter / eb > intersect_param
        return False

    # a "unit" is a list of region indices whose internal order is
    # already final (a leaf region, or a decoupled sub-cluster)
    def divide(units: list[list[int]], vertical: bool, is_root: bool) -> list[int]:
        if len(units) == 1:
            return units[0]
        # transitive coupling on this axis, reference scan order:
        # seed with the first pending unit, absorb-and-restart until
        # stable, repeat (ref :185-207)
        pending = list(units)
        clusters: list[list[list[int]]] = []
        while pending:
            cur = [pending.pop(0)]
            cb = unit_bounds([i for u in cur for i in u])
            changed = True
            while changed:
                changed = False
                for k, u in enumerate(pending):
                    ub = unit_bounds(u)
                    if couples(cb, ub, vertical):
                        pending.pop(k)
                        cur.append(u)
                        cb = (
                            min(cb[0], ub[0]), min(cb[1], ub[1]),
                            max(cb[2], ub[2]), max(cb[3], ub[3]),
                        )
                        changed = True
                        break
            clusters.append(cur)
        if len(clusters) == 1 and not is_root:
            # decouple fallback (ref :224-256): units interlock on
            # both axes; flatten, sort by the axis with the larger
            # total spread of adjacent mins, and do NOT recurse —
            # each unit keeps its internal order
            members = clusters[0]
            xs = sorted(unit_bounds(u)[0] for u in members)
            ys = sorted(unit_bounds(u)[1] for u in members)
            x_diffs = sum(b - a for a, b in zip(xs, xs[1:]))
            y_diffs = sum(b - a for a, b in zip(ys, ys[1:]))
            axis = 0 if x_diffs > y_diffs else 1
            ordered = sorted(members, key=lambda u: unit_bounds(u)[axis])
            # final sibling sort (ref :219-222) — stable, so the
            # decouple order survives as the tiebreak
            key = 0 if vertical else 1
            ordered = sorted(ordered, key=lambda u: unit_bounds(u)[key])
            return [i for u in ordered for i in u]
        # recurse into multi-unit clusters with the axis flipped,
        # then order siblings by x_min (after x-coupling) / y_min
        # (after y-coupling)
        resolved = []
        for c in clusters:
            ids = divide(c, not vertical, False) if len(c) > 1 else c[0]
            resolved.append((unit_bounds(ids), ids))
        key = 0 if vertical else 1
        resolved.sort(key=lambda t: t[0][key])
        return [i for _, ids in resolved for i in ids]

    return divide([[i] for i in range(n)], vertical=False, is_root=True)
