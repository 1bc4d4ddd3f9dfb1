"""The per-item loops the ocr kernels ran before they became array
passes, kept as the references the bit-identity tests
(``tests/test_kernel_parity.py``) compare the engine against:

  * ``merge_lines_straight`` — one refit per merged component
    (``geometry.merge_lines_straight``);
  * ``label_components`` / ``component_bboxes`` / ``find_peaks`` —
    the per-run and per-index scans (``imageproc``);
  * ``detect_lines_in_region`` / ``detect_page`` — the per-baseline
    loop and the per-doc, per-region pandas stage body
    (``imageproc.detect_lines_in_region``, ``linedet.render_detect_lines``);
  * ``segment_intersections`` — one segment at a time
    (``page_utils.segment_intersections``);
  * ``decode_batch_greedy`` — one dense matrix and one collapse per
    line (``ctc._decode_batch_greedy``);
  * ``greedy_texts_batch`` — one collapse per line over each padded
    slice (``ctc._greedy_texts_batch``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.functions import imageproc, kernels
from pero_ocr_spark.operators import ctc, linedet

COLS = ["doc_id", "region_id", "bx0", "bx1", "y", "height_up", "height_down"]


def merge_lines_straight(
    x0: np.ndarray,
    x1: np.ndarray,
    y: np.ndarray,
    asc: np.ndarray,
    desc: np.ndarray,
) -> tuple[np.ndarray, ...]:
    """``geometry.merge_lines_straight`` as a per-component loop:
    one ``np.concatenate`` + stable x argsort + ``resample_baseline``
    call per merged component, and per-curve list comprehensions in
    the later passes.

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
        G._merge_roots(xlo, xhi, y, asc, desc), return_inverse=True
    )
    if len(uniq) == n:  # nothing merges: order the flat arrays
        order = np.lexsort((x0, y))
        return xlo[order], xhi[order], y[order], asc[order], desc[order]
    bls = [np.array([[a, v], [b, v]]) for a, b, v in zip(x0, x1, y)]
    return _merge_curves(*_assemble(bls, asc, desc, inverse, len(uniq)))


def _assemble(
    bls: list[np.ndarray],
    asc: np.ndarray,
    desc: np.ndarray,
    inverse: np.ndarray,
    k: int,
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Merge each of the ``k`` components (``inverse`` maps lines to
    them) like the general kernel: member points in index order,
    stable sort by x, polyfit through resample_baseline, max heights;
    components ordered by their first point's (y, x)."""
    out = []
    for c in range(k):
        members = np.flatnonzero(inverse == c)
        if len(members) == 1:
            out.append(bls[members[0]])
            continue
        pts = np.concatenate([bls[m] for m in members])
        out.append(G.resample_baseline(pts[np.argsort(pts[:, 0], kind="stable")]))
    oasc = np.full(k, -np.inf)
    odesc = np.full(k, -np.inf)
    np.maximum.at(oasc, inverse, asc)
    np.maximum.at(odesc, inverse, desc)
    order = np.lexsort(([b[0, 0] for b in out], [b[0, 1] for b in out]))
    return [out[i] for i in order.tolist()], oasc[order], odesc[order]


def _merge_curves(
    bls: list[np.ndarray], asc: np.ndarray, desc: np.ndarray
) -> tuple[np.ndarray, ...]:
    """The passes after the first one merged. A merged baseline is a
    refit curve whose mean y is not its members' y, so it can come into
    overlap with a line the pass before left apart: passes over the
    (y, x)-ordered curves repeat until one merges nothing."""
    while True:
        xlo = np.array([b[:, 0].min() for b in bls])
        xhi = np.array([b[:, 0].max() for b in bls])
        ymean = np.array([b[:, 1].mean() for b in bls])
        uniq, inverse = np.unique(
            G._merge_roots(xlo, xhi, ymean, asc, desc), return_inverse=True
        )
        if len(uniq) == len(bls):
            return xlo, xhi, np.array([b[0, 1] for b in bls]), asc, desc
        bls, asc, desc = _assemble(bls, asc, desc, inverse, len(uniq))


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
    """``imageproc.autocorr_period`` over the loop ``find_peaks``."""
    corr = np.correlate(proj, proj, mode="full")[proj.shape[0]:]
    peaks = find_peaks(corr, distance=1)
    return float(peaks[0]) if len(peaks) else 1.0


def detect_lines_in_region(
    img: np.ndarray,
    region: np.ndarray,
    adaptive_threshold: float = 91,
    block_size: int = 21,
    minimum_length: int = 6,
    downsample: int = 1,
    probe_offset: int = 10,
) -> tuple[list[np.ndarray], list[list[int]]]:
    """``imageproc.detect_lines_in_region`` as a per-baseline loop:
    a label image, a ``np.unique`` of each probe row, a Python stride-3
    scan and one polygon clip per baseline."""
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

    ink = imageproc.adaptive_threshold_mask(
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
        hits = segment_intersections(p0, p1, region.astype(np.float64))
        if len(hits) < 2:
            continue
        xs = sorted(h[0] for h in hits)
        baselines.append(
            np.asarray([[xs[0], y1 + bc], [xs[-1], y1 + bc]], dtype=np.float64)
        )
        heights.append([bc - yb1, yb2 - bc])
    return baselines, heights


def segment_intersections(p0, p1, polygon) -> list[np.ndarray]:
    """Intersection points of segment p0-p1 with each polygon edge
    (closed ring), plain parametric numpy — the shapely-free core of
    guess_height_at_point (core/layout.py:193-218)."""
    out = []
    poly = np.asarray(polygon, dtype=np.float64)
    d = np.asarray(p1, dtype=np.float64) - np.asarray(p0, dtype=np.float64)
    for i in range(len(poly)):
        a = poly[i]
        b = poly[(i + 1) % len(poly)]
        e = b - a
        denom = d[0] * e[1] - d[1] * e[0]
        if abs(denom) < 1e-12:
            continue
        diff = a - np.asarray(p0, dtype=np.float64)
        t = (diff[0] * e[1] - diff[1] * e[0]) / denom
        u = (diff[0] * d[1] - diff[1] * d[0]) / denom
        if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
            out.append(np.asarray(p0) + t * d)
    return out


def decode_batch_greedy(pdf: pd.DataFrame) -> tuple[list, list, list]:
    """``ctc._decode_batch_greedy`` with one ``sparse_to_dense`` per
    line and a per-line collapse, confidence and score."""
    n = len(pdf)
    blank = len(ctc.CHARSET) - 1
    ts = pdf["t"].to_numpy()
    tmax = int(ts.max()) if n else 0
    c = int(pdf["c"].iloc[0])
    # float32 throughout: the logsumexp over (N, Tmax, C) is memory-
    # bandwidth-bound at high core counts; halving the element size
    # nearly doubles multi-core throughput. Confidence precision loss
    # (~1e-7) is far below the 1e-6 reporting granularity.
    tensor = np.full((n, tmax, c), -80.0, dtype=np.float32)
    for k, (t, data, indices, indptr) in enumerate(
        zip(ts, pdf["data"], pdf["indices"], pdf["indptr"])
    ):
        dense = kernels.sparse_to_dense(data, indices, indptr, int(t), c)
        tensor[k, : int(t)] = dense.astype(np.float32, copy=False)
    # pad frames emit blank with certainty → they collapse away and
    # don't affect run confidences (prob 1 runs)
    tensor[:, :, blank] = np.where(
        np.arange(tmax)[None, :] < ts[:, None], tensor[:, :, blank], 0.0
    )
    lp = tensor - np.logaddexp.reduce(tensor, axis=2, keepdims=True)
    ids = np.argmax(lp, axis=2)
    best = np.take_along_axis(lp, ids[:, :, None], axis=2)[:, :, 0]

    texts, confs, scores = [], [], []
    frame_mask = np.arange(tmax)[None, :] < ts[:, None]
    for k in range(n):
        row_ids = ids[k]
        keep = np.ones(tmax, dtype=bool)
        keep[1:] = row_ids[1:] != row_ids[:-1]
        collapsed = row_ids[keep & frame_mask[k]]
        texts.append("".join(ctc.CHARSET[i] for i in collapsed if i != blank))
        # worst best-run probability over real frames
        rb = np.exp(best[k])
        starts = np.flatnonzero(
            np.concatenate(([True], row_ids[1:] != row_ids[:-1]))
        )
        run_max = np.maximum.reduceat(np.where(frame_mask[k], rb, -1.0), starts)
        real_runs = run_max[run_max >= 0]
        confs.append(float(real_runs.min()) if len(real_runs) else 1.0)
        m = best[k][frame_mask[k]]
        mx = float(m.max())
        scores.append(mx + float(np.log(np.sum(np.exp(m - mx)))))
    return texts, confs, scores


def detect_page(pdf: pd.DataFrame, downsample: int, pad: int) -> pd.DataFrame:
    """One page of ``linedet.render_detect_lines`` as a per-doc loop:
    a pandas groupby per region, one dict per detected baseline."""
    doc_id = int(pdf["doc_id"].iloc[0])
    img = linedet._render_lines_raster(pdf, int(pdf["y"].max()) + 40)
    rows = []
    for rid, g in pdf.groupby("region_id", sort=False):
        rx0, rx1 = float(g["x0"].min()), float(g["x1"].max())
        ry0, ry1 = float(g["y"].min()) - pad, float(g["y"].max()) + pad
        poly = np.asarray(
            [[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1]],
            dtype=np.float64,
        )
        baselines, heights = detect_lines_in_region(
            img, poly, downsample=downsample
        )
        for bl, ht in zip(baselines, heights):
            rows.append(
                {
                    "doc_id": doc_id,
                    "region_id": rid,
                    "bx0": float(bl[0][0]),
                    "bx1": float(bl[1][0]),
                    "y": float(bl[0][1]),
                    "height_up": float(ht[0]),
                    "height_down": float(ht[1]),
                }
            )
    return pd.DataFrame(rows, columns=COLS)


def greedy_texts_batch(denses: list, slice_size: int = 2048) -> list:
    """``ctc._greedy_texts_batch`` with a per-line collapse loop."""
    texts: list[str] = []
    blank = len(ctc.CHARSET) - 1
    for s in range(0, len(denses), slice_size):
        chunk = denses[s : s + slice_size]
        ts = np.array([d.shape[0] for d in chunk])
        tmax = int(ts.max())
        c = chunk[0].shape[1]
        tensor = np.full((len(chunk), tmax, c), -80.0, dtype=np.float32)
        for k, d in enumerate(chunk):
            tensor[k, : d.shape[0]] = d
        ids = np.argmax(tensor, axis=2)
        frame_idx = np.arange(tmax)
        for k in range(len(chunk)):
            row = ids[k]
            keep = np.ones(tmax, dtype=bool)
            keep[1:] = row[1:] != row[:-1]
            collapsed = row[keep & (frame_idx < ts[k])]
            texts.append("".join(ctc.CHARSET[i] for i in collapsed if i != blank))
    return texts
