"""Pure-numpy image-processing kernels for layout detection (L8).

Re-expresses the reference's projection-profile line detector
(``layout_engines/simple_baseline_engine.py:13-101``) without its
cv2/scipy/skimage dependencies:

  * adaptive mean threshold  -> integral-image box mean compare
    (cv2.adaptiveThreshold ADAPTIVE_THRESH_MEAN_C semantics);
  * connected components     -> run-based union-find over the
    mask's horizontal runs (ndimage.label, 4- or 8-connectivity);
  * find_peaks               -> local maxima with plateau midpoints +
    greedy min-distance selection (scipy.signal.find_peaks semantics
    for the prominence=0 case used by the reference);
  * polygon clip             -> segment/polygon intersection from
    page_utils.

Each kernel is a few whole-array passes — over a mask's runs, a
profile's runs of equal values, a region's candidate baselines — with
Python loops left only where the work is inherently sequential and
small (union-find over the pairs where components meet, greedy peak
thinning). ``tests/_kernel_ref.py`` keeps the per-item loops they
replaced; ``tests/test_kernel_parity.py`` pins them equal bit for bit.

Everything here runs inside Arrow batches on the executors; no Spark
imports.
"""

from __future__ import annotations

import numpy as np

from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.functions import page_utils as U


def _window_sum(a: np.ndarray, radius: int, axis: int) -> np.ndarray:
    """Sum over a (2·radius+1) window along axis, zero-fill outside —
    one cumsum + two clipped gathers, O(pixels) regardless of radius.
    Integer/bool input sums in int32; float input stays float."""
    n = a.shape[axis]
    shape = list(a.shape)
    shape[axis] = n + 1
    dtype = np.float64 if np.issubdtype(a.dtype, np.floating) else np.int32
    p = np.zeros(shape, dtype=dtype)
    sl = [slice(None)] * a.ndim
    sl[axis] = slice(1, None)
    np.cumsum(a, axis=axis, out=p[tuple(sl)])

    def S(i0, i1):
        s = [slice(None)] * a.ndim
        s[axis] = slice(i0, i1)
        return p[tuple(s)]

    r = radius
    if n > 2 * r:
        # out_i = p[min(i+r+1, n)] - p[max(i-r, 0)], assembled from
        # sliced VIEWS (head / interior / tail) instead of two full
        # fancy-index gathers — same subtraction, same values
        out_shape = list(a.shape)
        out = np.empty(out_shape, dtype=dtype)
        o = [slice(None)] * a.ndim
        o[axis] = slice(0, r)
        out[tuple(o)] = S(r + 1, 2 * r + 1) - S(0, 1)
        o[axis] = slice(r, n - r)
        out[tuple(o)] = S(2 * r + 1, n + 1) - S(0, n - 2 * r)
        o[axis] = slice(n - r, n)
        out[tuple(o)] = S(n, n + 1) - S(n - 2 * r, n - r)
        return out
    hi = np.minimum(np.arange(n) + radius + 1, n)
    lo = np.maximum(np.arange(n) - radius, 0)
    return np.take(p, hi, axis=axis) - np.take(p, lo, axis=axis)




def adaptive_threshold_mask(img: np.ndarray, block: int = 21, c: int = 91) -> np.ndarray:
    """Ink mask: pixel <= local_mean - C (the reference thresholds with
    cv2.adaptiveThreshold(..., MEAN_C, BINARY, block, C) == 0,
    simple_baseline_engine.py:47-48).

    Implemented in exact integer arithmetic: img <= sum/B² - c  ⇔
    (img + c)·B² <= sum, with replicate borders (edge pad) so region
    crops whose ink sits near the crop edge keep the background-heavy
    window mean cv2 would compute.
    """
    r = block // 2
    padded = np.pad(img, r, mode="edge").astype(np.int32)
    s = _window_sum(_window_sum(padded, r, 0), r, 1)[r:-r, r:-r]
    return (img.astype(np.int32) + c) * (block * block) <= s


def rolling_max(a: np.ndarray, win: int, axis: int = 0) -> np.ndarray:
    """Greyscale dilation with a 1D ones window (ndimage grey_dilation
    size=(win,1) semantics, centered with the extra cell toward the
    start for even win). One -inf-padded sliding-window max — a single
    vectorized pass instead of the former win-fold of full-array
    np.roll copies (same values bit-for-bit: max over the identical
    window with out-of-bounds cells excluded via -inf)."""
    lo = -(win // 2)
    hi = win - 1 + lo
    pad = [(0, 0)] * a.ndim
    pad[axis] = (-lo, hi)
    p = np.pad(a, pad, mode="constant", constant_values=-np.inf)
    return np.lib.stride_tricks.sliding_window_view(p, win, axis=axis).max(
        axis=-1
    )


def _run_labels(mask: np.ndarray, slack: int):
    """The run-based connected-component scan shared by the labelers:
    (run_y, run_start, run_end_excl, run_label, n) over the mask's
    horizontal runs in raster order, labels 1..n numbered by each
    component's first run (ndimage.label's numbering). slack=1 joins
    diagonally touching runs (8-connectivity), 0 does not (4).

    Whole-array passes: a padded false column on each side makes every
    run open and close inside its own row, so one flat edge scan finds
    all runs; the runs of the row above that overlap a run are one
    contiguous slice of that row, found for every run at once with two
    ``searchsorted``s over (row, column) keys; one union-find over the
    overlapping pairs gives each run's component (a run's first
    overlap is its parent in a forest; only the further overlaps, where
    components meet, go through the union-find loop)."""
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    edges = np.flatnonzero(padded.ravel()[1:] != padded.ravel()[:-1]) + 1
    opens, closes = edges[::2], edges[1::2]
    run_y = opens // (w + 2)
    run_s = opens - run_y * (w + 2) - 1
    run_e = closes - run_y * (w + 2) - 1
    # run (y', s', e') of row y' = y - 1 overlaps run (y, s, e) iff
    # s' < e + slack and s < e' + slack; keys order runs by (row, col)
    # with every row's columns (shifted by 2, slack included) inside
    # its own key span
    span = w + 8
    key_s = run_y * span + run_s + 2
    key_e = run_y * span + run_e + 2
    above = (run_y - 1) * span + 2
    lo = np.searchsorted(key_e, above + run_s - slack, side="right")
    hi = np.searchsorted(key_s, above + run_e + slack, side="left")
    # each run hangs under the first run above that it touches; the
    # further runs above that it touches join their trees
    runs = np.arange(len(run_y))
    more = np.maximum(hi - lo - 1, 0)
    roots = G.union_find_roots(
        np.where(hi > lo, lo, runs),
        np.arange(int(more.sum())) + np.repeat(lo + 1 - (np.cumsum(more) - more), more),
        np.repeat(runs, more),
    )
    # a root is its component's lowest run index, i.e. its first run
    # in raster order: rank the roots for the 1..n numbering
    firsts, run_lab = np.unique(roots, return_inverse=True)
    return run_y, run_s, run_e, run_lab + 1, len(firsts)


def label_components(
    mask: np.ndarray, connectivity: int = 4
) -> tuple[np.ndarray, int]:
    """Connected-component labeling (ndimage.label semantics) over the
    shared run scan. connectivity 4 (cross) or 8 (full 3x3 structure).
    Returns (labels, n_components); labels are 1..n, numbered in
    raster order of each component's first pixel, background 0."""
    h, w = mask.shape
    run_y, run_s, run_e, lab, n = _run_labels(mask, 1 if connectivity == 8 else 0)
    # +label at each run's first pixel, -label past its last, summed
    # along the flat padded rows (a run closes in its row's pad column
    # at the latest)
    steps = np.zeros(h * (w + 2), dtype=np.int64)
    base = run_y * (w + 2) + 1
    steps[base + run_s] = lab
    steps[base + run_e] = -lab
    filled = np.cumsum(steps).reshape(h, w + 2)[:, 1:-1]
    return filled.astype(np.int32), n


def component_bboxes(
    mask: np.ndarray, min_pixels: int = 0, connectivity: int = 4
) -> list[dict]:
    """Per-component inclusive bbox + pixel count WITHOUT building the
    label image: per-label reductions over the shared run scan (a page
    has ~100s of runs vs ~10⁶ pixels). Ordered by (rx0, ry0), ties in
    label order."""
    run_y, run_s, run_e, lab, n = _run_labels(mask, 1 if connectivity == 8 else 0)
    if n == 0:
        return []
    order = np.argsort(lab, kind="stable")
    first = np.searchsorted(lab[order], np.arange(1, n + 1))
    rx0 = np.minimum.reduceat(run_s[order], first)
    rx1 = np.maximum.reduceat(run_e[order], first) - 1
    ry0 = run_y[order][first]
    ry1 = np.maximum.reduceat(run_y[order], first)
    npix = np.add.reduceat((run_e - run_s)[order], first)
    keep = np.flatnonzero(npix >= min_pixels)
    keep = keep[np.lexsort((ry0[keep], rx0[keep]))]
    return [
        {"rx0": a, "ry0": b, "rx1": c, "ry1": d, "n_pixels": e}
        for a, b, c, d, e in zip(
            *(v[keep].tolist() for v in (rx0, ry0, rx1, ry1, npix))
        )
    ]


def find_peaks(x: np.ndarray, distance: int = 1) -> np.ndarray:
    """Indices of local maxima (plateau midpoint), then greedy
    min-distance thinning by descending height — the
    scipy.signal.find_peaks subset the reference uses.

    A peak is a maximal run of equal values, not touching either end,
    whose left neighbour is lower and right neighbour is lower; the
    runs are found with one change-point scan. Only the thinning, over
    the few peaks found, is a loop."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    starts = np.flatnonzero(np.concatenate(([True], ~(x[1:] == x[:-1]))))
    ends = np.append(starts[1:], n) - 1
    inner = (starts >= 1) & (ends <= n - 2)
    s, e = starts[inner], ends[inner]
    top = (x[s] > x[s - 1]) & (x[e + 1] < x[e])
    peaks = (s[top] + e[top]) // 2
    if distance <= 1 or len(peaks) < 2:
        return peaks.astype(np.int64)
    # highest first; a kept peak blocks every index closer than
    # ``distance`` to it
    blocked = np.zeros(n, dtype=bool)
    keep = np.zeros(n, dtype=bool)
    for p in peaks[np.argsort(-x[peaks], kind="stable")].tolist():
        if not blocked[p]:
            keep[p] = True
            blocked[max(p - distance + 1, 0) : p + distance] = True
    return np.flatnonzero(keep)


def autocorr_period(proj: np.ndarray) -> float:
    """Dominant line period: lag of the first autocorrelation local
    max (simple_baseline_engine.py:54-60; 1 when no peak exists)."""
    corr = np.correlate(proj, proj, mode="full")[proj.shape[0]:]
    peaks = find_peaks(corr, distance=1)
    return float(peaks[0]) if len(peaks) else 1.0


def _rolling_or(mask: np.ndarray, radius: int, axis: int) -> np.ndarray:
    """Binary dilation with a 1D ones kernel (2·radius+1) along axis:
    windowed-any via one cumsum and two clipped gathers — O(pixels),
    independent of radius."""
    return _window_sum(mask, radius, axis) > 0


def close_vertical(mask: np.ndarray, gap: int) -> np.ndarray:
    """Morphological close with a (2·gap+1)×1 kernel: fills vertical
    gaps ≤ 2·gap between ink runs in each column (the text-block
    merging step of the region engine; the reference closes with a
    square kernel, simple_region_engine.py:98-100 — vertical-only
    avoids bridging adjacent columns). The mask is padded by 2·gap
    before dilate/erode so image borders never clip the dilation
    (which would shift run extents); close is then extent-exact."""
    padded = np.pad(mask, ((2 * gap, 2 * gap), (0, 0)))
    dilated = _rolling_or(padded, gap, axis=0)
    closed = ~_rolling_or(~dilated, gap, axis=0)
    return closed[2 * gap : 2 * gap + mask.shape[0]]


def dilate_chebyshev(mask: np.ndarray, radius: int) -> np.ndarray:
    """Binary dilation with a (2r+1)² square = the `distance < r`
    margin of the reference's L2 distance transform
    (simple_region_engine.py:102-104), with Chebyshev instead of
    euclidean distance (separable, numpy-only; documented deviation)."""
    return _rolling_or(_rolling_or(mask, radius, axis=0), radius, axis=1)


def segment_regions(
    img: np.ndarray,
    close_gap: int = 13,
    margin: int = 5,
    min_pixels: int = 100,
    downsample: int = 1,
) -> list[dict]:
    """L2: CV region segmentation (simple_region_engine.py:48-137
    semantics, numpy-only): adaptive threshold → vertical close
    (merge lines into blocks) → square dilation (margin) → connected
    components → per-component bbox, ordered left-to-right then
    top-to-bottom. Returns dicts with rx0/ry0/rx1/ry1 (inclusive pixel
    bbox) and n_pixels; polygon retrace (L16) turns a bbox + its ink
    into a hull downstream when needed.

    ``downsample`` > 1 segments ``img[::ds, ::ds]`` (the reference
    downscales by 4 before segmenting, simple_region_engine.py:80) —
    gap/margin apply at the working resolution, n_pixels counts
    working pixels, and bboxes scale back by ds."""
    if downsample > 1:
        out = segment_regions(
            img[::downsample, ::downsample], close_gap, margin, min_pixels
        )
        for r in out:
            for k in ("rx0", "ry0", "rx1", "ry1"):
                r[k] *= downsample
        return out
    ink = adaptive_threshold_mask(img)
    blocks = dilate_chebyshev(close_vertical(ink, close_gap), margin)
    return component_bboxes(blocks, min_pixels)


def gaussian_blur_rows(img: np.ndarray, sigma: float = 3.0) -> np.ndarray:
    """1D gaussian along axis 0 (ndimage.gaussian_filter's vertical
    pass: truncate=4σ, reflect boundary), as a weighted sum of row
    shifts — vectorized across columns."""
    radius = int(round(4 * sigma))
    ks = np.exp(-0.5 * (np.arange(-radius, radius + 1) / sigma) ** 2)
    ks /= ks.sum()
    padded = np.pad(img.astype(np.float64), ((radius, radius), (0, 0)), mode="symmetric")
    out = np.zeros_like(img, dtype=np.float64)
    for i, k in enumerate(ks):
        out += k * padded[i : i + img.shape[0], :]
    return out


def _blur_1d(sig: np.ndarray, sigma: float = 3.0) -> np.ndarray:
    """1D gaussian (truncate 4σ, symmetric pad) — the same kernel as
    gaussian_blur_rows applied to a vector."""
    radius = int(round(4 * sigma))
    ks = np.exp(-0.5 * (np.arange(-radius, radius + 1) / sigma) ** 2)
    ks /= ks.sum()
    padded = np.pad(sig, radius, mode="symmetric")
    return np.convolve(padded, ks, mode="valid")


def snap_baselines_to_intensity(
    baselines: list[np.ndarray], img: np.ndarray, tolerance: int = 5
) -> list[np.ndarray]:
    """L18: shift each baseline vertically (offsets −tolerance..
    tolerance−1, first strict maximum wins) to maximize the summed
    smoothed y-gradient under it
    (layout_helpers.adjust_baselines_to_intensity:393-410). Straight
    2-point baselines stay 2-point; the gradient is sampled at every
    integer x along the chord like the reference's resample.

    Horizontal baselines take an exactly-equivalent fast path: the
    score is Σ_x blur_rows(grad)[y+o, x] and blur/gradient/sum are all
    linear, so collapse columns FIRST — per-line row sums over a local
    band, then one 1-D gradient + blur. Identical numbers, ~50x less
    arithmetic than blurring the full raster. Tilted baselines fall
    back to the 2-D path."""
    h, w = img.shape
    radius = 12  # blur truncation (4σ, σ=3)
    # exact row needs: blurred scores at y−tol..y+tol−1 read gsum rows
    # y−tol−radius..y+tol−1+radius, whose gradients read one img row
    # further on each side
    lo_off = tolerance + radius + 1
    hi_off = tolerance - 1 + radius + 1
    out = []
    grad2d = None
    for bl in baselines:
        bl = np.asarray(bl, dtype=np.float64)
        x0, x1 = int(round(bl[0][0])), int(round(bl[-1][0]))
        xs = np.clip(np.arange(min(x0, x1), max(x0, x1) + 1), 0, w - 1)
        y = int(round(bl[0][1]))
        if np.all(bl[:, 1] == bl[0][1]) and y - lo_off >= 0 and y + hi_off < h:
            rows = img[y - lo_off : y + hi_off + 1, xs].astype(np.float64)
            rowsum = rows.sum(axis=1)
            gsum = (rowsum[2:] - rowsum[:-2]) / 2  # Σ_x np.gradient rows
            # gsum[i] = row y - (lo_off-1) + i; scores aligned the same
            scores = _blur_1d(gsum, 3.0)
            base = lo_off - 1 - tolerance  # index of offset -tolerance
            window = scores[base : base + 2 * tolerance]
            best_offset = int(np.argmax(window)) - tolerance
            # argmax returns the FIRST max, matching the reference's
            # strict `score > best` scan from -tolerance
        else:
            if grad2d is None:
                grad2d = gaussian_blur_rows(
                    np.gradient(img.astype(np.float64))[0], 3.0
                )
            # sample the blurred gradient ALONG the chord: interpolate
            # the baseline's y at every integer x (the reference indexes
            # per-point y, layout_helpers.py:402-404) — a constant row
            # would mis-score tilted baselines
            order = np.argsort(bl[:, 0])
            ys = np.round(
                np.interp(xs, bl[order, 0], bl[order, 1])
            ).astype(int)
            best_score, best_offset = -np.inf, 0
            for offset in range(-tolerance, tolerance):
                rows_i = np.clip(ys + offset, 0, h - 1)
                score = grad2d[rows_i, xs].sum()
                if score > best_score:
                    best_score, best_offset = score, offset
        shifted = bl.copy()
        shifted[:, 1] += best_offset
        out.append(shifted)
    return out


def snap_horizontal_baselines_batch(
    img: np.ndarray,
    x0: np.ndarray,
    x1: np.ndarray,
    y: np.ndarray,
    tolerance: int = 5,
) -> np.ndarray:
    """Vectorized L18 fast path: snap ALL of a page's horizontal
    baselines in one shot. Exactly the numbers of
    ``snap_baselines_to_intensity``'s 1-D fast path — per-line row sums
    come from one column prefix-sum of the raster, then the gradient +
    gaussian blur + argmax run batched over a (n_lines × window)
    matrix instead of a Python loop per line.

    Lines whose snap window leaves the raster (or with out-of-range x)
    fall back to the scalar kernel. Returns the per-line snapped y.
    """
    h, w = img.shape
    x0f = np.asarray(x0, dtype=np.float64)
    x1f = np.asarray(x1, dtype=np.float64)
    yf = np.asarray(y, dtype=np.float64)
    # match the scalar kernel exactly: x endpoints and the index row
    # are ROUNDED (int(round(...)) there); the returned y is the
    # ORIGINAL float y plus the integer offset
    x0i = np.round(x0f).astype(np.int64)
    x1i = np.round(x1f).astype(np.int64)
    yi_all = np.round(yf).astype(np.int64)
    radius = 12  # 4σ, σ=3 — must match _blur_1d
    lo_off = tolerance + radius + 1
    hi_off = tolerance - 1 + radius + 1
    xs_lo = np.minimum(x0i, x1i)
    xs_hi = np.maximum(x0i, x1i)
    fast = (
        (yi_all - lo_off >= 0)
        & (yi_all + hi_off < h)
        & (xs_lo >= 0)
        & (xs_hi <= w - 1)
    )
    out = yf.copy()
    if fast.any():
        csum = np.zeros((h, w + 1), dtype=np.float64)
        np.cumsum(img, axis=1, out=csum[:, 1:])
        yi = yi_all[fast]
        rows_idx = yi[:, None] + np.arange(-lo_off, hi_off + 1)[None, :]
        # rowsum over inclusive cols [lo, hi] = csum[:, hi+1] - csum[:, lo]
        rowsum = (
            csum[rows_idx, (xs_hi[fast] + 1)[:, None]]
            - csum[rows_idx, xs_lo[fast][:, None]]
        )
        gsum = (rowsum[:, 2:] - rowsum[:, :-2]) / 2
        ks = np.exp(-0.5 * (np.arange(-radius, radius + 1) / 3.0) ** 2)
        ks /= ks.sum()
        padded = np.pad(gsum, ((0, 0), (radius, radius)), mode="symmetric")
        scores = np.zeros_like(gsum)
        for i, k in enumerate(ks):
            scores += k * padded[:, i : i + gsum.shape[1]]
        base = lo_off - 1 - tolerance
        window = scores[:, base : base + 2 * tolerance]
        out[fast] = yf[fast] + (np.argmax(window, axis=1) - tolerance)
    if not fast.all():
        slow = np.flatnonzero(~fast)
        bls = [
            np.array([[x0f[i], yf[i]], [x1f[i], yf[i]]])
            for i in slow
        ]
        snapped = snap_baselines_to_intensity(bls, img, tolerance=tolerance)
        for i, b in zip(slow, snapped):
            out[i] = b[0][1]
    return out


def detect_lines_in_region(
    img: np.ndarray,
    region: np.ndarray,
    adaptive_threshold: float = 91,
    block_size: int = 21,
    minimum_length: int = 6,
    downsample: int = 1,
    probe_offset: int = 10,
) -> tuple[list[np.ndarray], list[list[int]]]:
    """Projection-profile line detection in one region
    (simple_baseline_engine.py:21-101 semantics, numpy-only):
    threshold -> per-row ink projection -> autocorrelation period ->
    peaks of the negative projection derivative = baselines ->
    stride-3 connected-component scan for per-line heights ->
    baseline segment clipped to the region polygon.

    Deviation (documented): the region mask's horizontal border
    erosion is applied as an x-range shrink of the crop mask; the
    full-width baseline is still clipped against the ORIGINAL polygon
    like the reference.

    ``downsample`` > 1 runs the whole chain on ``img[::ds, ::ds]``
    with region coords divided by ds, scaling outputs back — the same
    resolution knob the reference's engines expose (their default
    downsample is 4); heights quantize to the stride-3 scan at the
    working resolution times ds.

    Returns (baselines, heights): baseline = [[x, y], [x, y]] page
    coords, heights = [up, down].
    """
    if downsample > 1:
        img = img[::downsample, ::downsample]
        region = np.asarray(region, dtype=np.float64) / downsample
        probe_offset = max(1, probe_offset // downsample)
    region = np.asarray(region)
    x1 = int(np.clip(region[:, 0].min(), 0, img.shape[1]))
    x2 = int(np.clip(region[:, 0].max(), 0, img.shape[1]))
    y1 = int(np.clip(region[:, 1].min(), 0, img.shape[0]))
    y2 = int(np.clip(region[:, 1].max(), 0, img.shape[0]))
    if x1 == x2 or y1 == y2:
        return [], []
    column_height = y2 - y1

    ink = adaptive_threshold_mask(
        img[y1:y2, x1:x2], block=block_size, c=adaptive_threshold
    )
    run_y, _, _, run_lab, n_lab = _run_labels(ink, 0)
    # a component's rows are one interval, [top, bottom] (label 0,
    # the background, has none)
    top = np.full(n_lab + 1, column_height)
    bottom = np.full(n_lab + 1, -1)
    np.minimum.at(top, run_lab, run_y)
    np.maximum.at(bottom, run_lab, run_y)
    proj = ink.sum(axis=1).astype(np.float64)
    period = autocorr_period(proj)
    target = -np.diff(proj)
    target[target < 0] = 0

    # candidate baselines, bottom-up: the order in which they claim
    # their components
    bc = find_peaks(target, distance=int(round(0.85 * period)))[::-1]
    # the reference probes 10 rows above the baseline for the
    # component (simple_baseline_engine.py:69); at a reduced working
    # resolution the offset scales with it
    probe = np.maximum(bc - probe_offset, 0)[:, None]
    objs = (top <= probe) & (probe <= bottom)
    # a baseline is kept only when none of its components was claimed
    # by a baseline below it (probe rows with no ink claim nothing)
    claimed = np.zeros_like(objs)
    claimed[1:] = np.logical_or.accumulate(objs, axis=0)[:-1]
    valid = objs.any(axis=1) & ~(objs & claimed).any(axis=1)
    if x2 - x1 < minimum_length:
        valid[:] = False
    bc, objs = bc[valid], objs[valid]
    if len(bc) == 0:
        return [], []

    # cover[k, r]: row r holds one of baseline k's components
    k, lab = np.nonzero(objs)
    width = column_height + 1
    edges = np.bincount(k * width + top[lab], minlength=len(bc) * width) - np.bincount(
        k * width + bottom[lab] + 1, minlength=len(bc) * width
    )
    cover = edges.reshape(len(bc), width).cumsum(axis=1)[:, :-1] > 0
    up = _scan_heights(cover, bc, -3, 0)
    down = _scan_heights(cover, bc, 3, column_height)

    # clip every full-width baseline segment to the region polygon
    yb = (y1 + bc).astype(np.float64)
    p0 = np.column_stack((np.full(len(bc), float(x1)), yb))
    p1 = np.column_stack((np.full(len(bc), float(x2)), yb))
    hit, pts = U.segment_intersections(p0, p1, region.astype(np.float64))
    keep = hit.sum(axis=1) >= 2
    hx = pts[:, :, 0]
    left = np.where(hit, hx, np.inf).min(axis=1)[keep]
    right = np.where(hit, hx, -np.inf).max(axis=1)[keep]
    yb = yb[keep]
    baselines = np.stack(
        (np.column_stack((left, yb)), np.column_stack((right, yb))), axis=1
    )
    heights = np.column_stack((up, down))[keep]
    return list(baselines * downsample), (heights * downsample).tolist()


def _scan_heights(
    cover: np.ndarray, bc: np.ndarray, step: int, end: int
) -> np.ndarray:
    """Per baseline k, the stride-|step| walk from row bc[k] toward
    ``end`` (exclusive) that stops at the first row r where
    ``cover[k, r]`` is false, else at the walk's last row; returns
    |stop - bc[k]| (0 for an empty walk). The reference's per-line
    component height scan (simple_baseline_engine.py:71-80)."""
    k = np.arange(len(bc))[:, None]
    n_steps = (np.abs(end - bc) + abs(step) - 1) // abs(step)
    rows = bc[:, None] + step * np.arange(max(int(n_steps.max()), 1))
    inside = np.arange(rows.shape[1]) < n_steps[:, None]
    stop = inside & ~cover[k, np.clip(rows, 0, cover.shape[1] - 1)]
    last = np.where(
        stop.any(axis=1), stop.argmax(axis=1), np.maximum(n_steps - 1, 0)
    )
    return np.abs(rows[k[:, 0], last] - bc)
