"""Pure-numpy image-processing kernels for layout detection (L8).

Re-expresses the reference's projection-profile line detector
(``layout_engines/simple_baseline_engine.py:13-101``) without its
cv2/scipy/skimage dependencies:

  * adaptive mean threshold  -> integral-image box mean compare
    (cv2.adaptiveThreshold ADAPTIVE_THRESH_MEAN_C semantics);
  * connected components     -> two-pass run-based union-find
    (ndimage.label, 4-connectivity);
  * find_peaks               -> local maxima with plateau midpoints +
    greedy min-distance selection (scipy.signal.find_peaks semantics
    for the prominence=0 case used by the reference);
  * polygon clip             -> segment/polygon intersection from
    page_utils.

Everything here runs inside Arrow batches on the executors; no Spark
imports.
"""

from __future__ import annotations

import numpy as np

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


def _union_find_runs(mask: np.ndarray, slack: int):
    """Shared single pass of the run-based union-find labeler: yields
    (all_runs, find) where all_runs = [(y, start, end_excl, label)]
    and find() resolves a run label to its component root. slack=1
    gives 8-connectivity (diagonal run adjacency), 0 gives 4."""
    h, w = mask.shape
    parent: list[int] = [0]

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # run extraction vectorized over the WHOLE mask at once: a padded
    # false column on each side guarantees every run opens and closes
    # inside its own row, so one flat edge scan finds all runs — the
    # old per-row loop paid a numpy call per pixel row even when the
    # row was empty (most rows of a text page are)
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    flat = padded.ravel()
    edges = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    if len(edges) == 0:
        return [], find
    W = w + 2
    run_y = (edges[::2] // W).tolist()
    run_s = (edges[::2] % W - 1).tolist()
    run_e = (edges[1::2] - edges[::2] + (edges[::2] % W) - 1).tolist()

    all_runs: list[tuple[int, int, int, int]] = []
    prev_runs: list[tuple[int, int, int]] = []
    runs: list[tuple[int, int, int]] = []
    prev_y = -2
    for y, s, e in zip(run_y, run_s, run_e):
        if y != prev_y:
            prev_runs = runs if y == prev_y + 1 else []
            runs = []
            prev_y = y
        lab = 0
        for ps, pe, pl in prev_runs:
            if ps < e + slack and s < pe + slack:  # column overlap
                root = find(pl)
                if lab == 0:
                    lab = root
                elif root != lab:
                    parent[root] = find(lab)
        if lab == 0:
            parent.append(len(parent))
            lab = len(parent) - 1
        runs.append((s, e, lab))
        all_runs.append((y, s, e, lab))
    return all_runs, find


def label_components(
    mask: np.ndarray, connectivity: int = 4
) -> tuple[np.ndarray, int]:
    """Connected-component labeling (ndimage.label semantics) over the
    shared run scan. connectivity 4 (cross) or 8 (full 3x3 structure).
    Returns (labels, n_components); labels are 1..n, background 0."""
    all_runs, find = _union_find_runs(mask, 1 if connectivity == 8 else 0)
    labels = np.zeros(mask.shape, dtype=np.int32)
    roots: dict[int, int] = {}
    for y, s, e, lab in all_runs:
        r = find(lab)
        if r not in roots:
            roots[r] = len(roots) + 1
        labels[y, s:e] = roots[r]
    return labels, len(roots)


def component_bboxes(
    mask: np.ndarray, min_pixels: int = 0, connectivity: int = 4
) -> list[dict]:
    """Per-component inclusive bbox + pixel count WITHOUT building the
    label image: aggregate over the shared run scan (a page has ~100s
    of runs vs ~10⁶ pixels)."""
    all_runs, find = _union_find_runs(mask, 1 if connectivity == 8 else 0)
    agg: dict[int, list[int]] = {}
    for y, s, e, lab in all_runs:
        r = find(lab)
        box = agg.get(r)
        if box is None:
            agg[r] = [s, y, e - 1, y, e - s]
        else:
            box[0] = min(box[0], s)
            box[2] = max(box[2], e - 1)
            box[3] = y
            box[4] += e - s
    out = [
        {"rx0": b[0], "ry0": b[1], "rx1": b[2], "ry1": b[3], "n_pixels": b[4]}
        for b in agg.values()
        if b[4] >= min_pixels
    ]
    out.sort(key=lambda r: (r["rx0"], r["ry0"]))
    return out


def find_peaks(x: np.ndarray, distance: int = 1) -> np.ndarray:
    """Indices of local maxima (plateau midpoint), then greedy
    min-distance thinning by descending height — the
    scipy.signal.find_peaks subset the reference uses."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    peaks = []
    i = 1
    while i < n - 1:
        if x[i] > x[i - 1]:
            j = i
            while j < n - 1 and x[j + 1] == x[j]:
                j += 1
            if j < n - 1 and x[j + 1] < x[j]:
                peaks.append((i + j) // 2)
                i = j + 1
                continue
        i += 1
    if distance <= 1 or len(peaks) < 2:
        return np.asarray(peaks, dtype=np.int64)
    order = sorted(peaks, key=lambda p: -x[p])
    keep: list[int] = []
    for p in order:
        if all(abs(p - q) >= distance for q in keep):
            keep.append(p)
    return np.asarray(sorted(keep), dtype=np.int64)


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
        baselines, heights = detect_lines_in_region(
            img[::downsample, ::downsample],
            np.asarray(region, dtype=np.float64) / downsample,
            adaptive_threshold,
            block_size,
            minimum_length,
            downsample=1,
            probe_offset=max(1, probe_offset // downsample),
        )
        return (
            [bl * downsample for bl in baselines],
            [[h[0] * downsample, h[1] * downsample] for h in heights],
        )
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
    labeled, _ = label_components(ink)
    # per-(row, label) presence table for the height scans: one pass
    # over the ink pixels, O(1) membership per stride step after
    ys_nz, xs_nz = np.nonzero(labeled)
    row_has = np.zeros((labeled.shape[0], int(labeled.max()) + 1), dtype=bool)
    row_has[ys_nz, labeled[ys_nz, xs_nz]] = True
    proj = ink.sum(axis=1).astype(np.float64)
    period = autocorr_period(proj)
    target = -np.diff(proj)
    target[target < 0] = 0

    baseline_coords = find_peaks(target, distance=int(round(0.85 * period)))

    baselines: list[np.ndarray] = []
    heights: list[list[int]] = []
    used: set[int] = set()
    for bc in baseline_coords[::-1]:
        bc = int(bc)
        # the reference probes 10 rows above the baseline for the
        # component (simple_baseline_engine.py:69); at a reduced
        # working resolution the offset scales with it
        probe_row = max(bc - probe_offset, 0)
        objs = np.unique(labeled[probe_row, :])
        objs = objs[objs > 0]
        if len(objs) == 0:
            continue
        valid = not any(int(o) in used for o in objs)
        used.update(int(o) for o in objs)

        # row_has[r, l] ⇔ label l has a pixel in row r (precomputed
        # once per region below); each stride-3 step is then O(1)
        # instead of an isin over the full pixel row — the scans were
        # ~half the detector's wall time
        objs_in_row = row_has[:, objs].any(axis=1)
        yb1 = bc
        for yb1 in range(bc, 0, -3):
            if not objs_in_row[yb1]:
                break
        yb2 = bc
        for yb2 in range(bc, column_height, 3):
            if not objs_in_row[yb2]:
                break

        if x2 - x1 < minimum_length:
            valid = False
        if not valid:
            continue
        # clip the full-width baseline segment to the region polygon
        p0 = (float(x1), float(y1 + bc))
        p1 = (float(x2), float(y1 + bc))
        hits = U._segment_intersections(p0, p1, region.astype(np.float64))
        if len(hits) < 2:
            continue
        xs = sorted(h[0] for h in hits)
        baselines.append(
            np.asarray([[xs[0], y1 + bc], [xs[-1], y1 + bc]], dtype=np.float64)
        )
        heights.append([bc - yb1, yb2 - bc])
    return baselines, heights
