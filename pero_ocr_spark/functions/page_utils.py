"""Scalar page/layout utilities (SURVEY §2.7) — numpy only, no cv2.

Each function re-expresses a reference helper (cited per function);
they run inside Arrow batches (import/export kernels, geometry
stages), never as row-at-a-time Spark UDFs.
"""

from __future__ import annotations

import json
import re

import numpy as np


def element_schema(tag: str) -> str:
    """'{ns}Tag' -> '{ns}' ('' if no namespace) — the reference's
    namespace sniffing (core/layout.py:877-882) so PcGts 2013/2019 and
    ALTO files parse regardless of declared schema version."""
    if tag.startswith("{"):
        ns, _, _ = tag[1:].partition("}")
        return "{" + ns + "}"
    return ""


def points_string_to_array(coords: str) -> np.ndarray:
    """PAGE 'x1,y1 x2,y2 ...' points attr -> int (n,2) array
    (core/layout.py:885-889 — float-tolerant, rounds to int).
    Vectorized: one split + one array round (np.round is the same
    half-to-even rule as Python's round on floats)."""
    flat = coords.replace(",", " ").split()
    if not flat:
        return np.asarray([], dtype=np.int64)  # (0,) like the old path
    a = np.array(flat, dtype=np.float64).reshape(-1, 2)
    return np.round(a).astype(np.int64)


def points_array_to_string(arr) -> str:
    """(n,2) coords -> PAGE points attr, int-rounded like the
    reference's export (core/layout.py:362-366). One vectorized round
    instead of two numpy-scalar rounds per point — same half-to-even
    integers, same string."""
    a = np.asarray(arr)
    if a.dtype == object:  # Arrow object array of per-point arrays
        a = np.array([np.asarray(q, dtype=np.float64) for q in a])
    r = np.round(a.astype(np.float64, copy=False)).astype(np.int64)
    return " ".join("%d,%d" % (p[0], p[1]) for p in r.tolist())


def parse_heights_custom(custom_str: str) -> list[float] | None:
    """Parse the TextLine `custom` attribute height conventions the
    reference accepts (core/layout.py:264-284):

      * ``heights_v2:[up,down]`` — JSON list, used as-is;
      * legacy ``heights`` — all integers in the attr: 4 numbers ->
        [h0, h2]; 3 numbers -> [h1, h2 - h0]; otherwise as parsed.
    """
    if "heights_v2" in custom_str:
        for word in custom_str.split():
            if "heights_v2" in word:
                return [float(v) for v in json.loads(word.split(":")[1])]
        return None
    if re.findall("heights", custom_str):
        nums = [float(x) for x in re.findall(r"\d+", custom_str)]
        arr = np.asarray(nums)
        if arr.shape[0] == 4:
            return [float(arr[0]), float(arr[2])]
        if arr.shape[0] == 3:
            return [float(arr[1]), float(arr[2] - arr[0])]
        return [float(v) for v in arr]
    return None


def segment_intersections(
    p0: np.ndarray, p1: np.ndarray, polygon: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Intersections of S segments ``p0[s]``-``p1[s]`` ((S, 2) arrays)
    with each edge of a closed polygon ring, plain parametric numpy in
    one (S, edges) pass — the shapely-free core of
    guess_height_at_point (core/layout.py:193-218) and of the line
    detector's baseline clip. Returns ``(hit, points)``: ``hit[s, i]``
    when segment s meets edge i (edges parallel to it within 1e-12
    never do), ``points[s, i]`` the intersection point."""
    poly = np.asarray(polygon, dtype=np.float64)
    p0 = np.asarray(p0, dtype=np.float64)
    d = np.asarray(p1, dtype=np.float64) - p0
    e = np.roll(poly, -1, axis=0) - poly
    dx, dy = d[:, 0, None], d[:, 1, None]
    denom = dx * e[:, 1] - dy * e[:, 0]
    diff_x = poly[:, 0] - p0[:, 0, None]
    diff_y = poly[:, 1] - p0[:, 1, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (diff_x * e[:, 1] - diff_y * e[:, 0]) / denom
        u = (diff_x * dy - diff_y * dx) / denom
        points = np.stack((p0[:, 0, None] + t * dx, p0[:, 1, None] + t * dy), axis=-1)
    hit = (np.abs(denom) >= 1e-12) & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
    return hit, points


def guess_height_at_point(baseline, polygon, point) -> tuple[float, float] | None:
    """Heights (up, down) at one baseline point: cast the baseline
    normal through the point, intersect with the line polygon, split
    at the point by y (core/layout.py:193-218)."""
    bl = np.asarray(baseline, dtype=np.float64)
    direction = bl[0] - bl[-1]
    direction = direction[::-1].copy()
    direction[0] = -direction[0]
    if not np.any(direction):
        return None
    p = np.asarray(point, dtype=np.float64)
    hit, points = segment_intersections(
        (p - direction * 10)[None], (p + direction * 10)[None], polygon
    )
    hits = points[0][hit[0]]
    if len(hits) < 2:
        return None
    hits = hits[np.argsort(hits[:, 1], kind="stable")]
    above, below = hits[0], hits[-1]
    return (
        float(np.hypot(*(p - above))),
        float(np.hypot(*(p - below))),
    )


def guess_line_heights_from_polygon(baseline, polygon, n: int = 10) -> list[float]:
    """Heights for a line missing the `custom` attr (e.g. Transkribus
    exports), from polygon ∩ baseline-normal probes
    (core/layout.py:133-190). DELIBERATE deviation: the reference
    probes np.random.choice(baseline) points; we probe n points evenly
    interpolated along the baseline so imports are deterministic."""
    bl = np.asarray(baseline, dtype=np.float64)
    poly = np.asarray(polygon, dtype=np.float64)
    try:
        ts = np.linspace(0.0, 1.0, n)
        seg = np.clip((ts * (len(bl) - 1)).astype(int), 0, len(bl) - 2)
        frac = ts * (len(bl) - 1) - seg
        points = bl[seg] + (bl[seg + 1] - bl[seg]) * frac[:, None]
        ups, downs = [], []
        for p in points:
            h = guess_height_at_point(bl, poly, p)
            if h is None:
                continue
            ups.append(h[0])
            downs.append(h[1])
        if ups:
            return [float(np.mean(ups)), float(np.mean(downs))]
    except IndexError:
        # an empty baseline has no segment to probe (``bl[seg]`` with
        # seg = -1 on a 0-row array); single-point, vertical and
        # outside-polygon baselines return None per point instead
        pass
    # guess_height_simple (core/layout.py:188-190)
    height = float(poly[:, 1].max() - poly[:, 1].min())
    return [height * 0.8, height * 0.2]
