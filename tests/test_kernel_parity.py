"""Bit-identity of the ocr kernels' array passes with the per-item
loops they replaced (``tests/_kernel_ref.py``): merge, labeling,
peak finding, region detection, segment clipping and greedy decode.
Floats are compared by their bits, not approximately."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import _kernel_ref as ref
from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.functions import imageproc, kernels, page_utils
from pero_ocr_spark.operators import ctc, linedet

# the references' polyfit warns on the rank-deficient refits
pytestmark = pytest.mark.filterwarnings("ignore::numpy.RankWarning")


def _bits(a) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(np.uint64)


def _same_floats(a, b) -> bool:
    return np.shape(a) == np.shape(b) and np.array_equal(_bits(a), _bits(b))


# ------------------------------------------------------------- merge


def _merge_group(rng: np.random.Generator):
    """One (doc, region) group of straight baselines: split rows as
    lines_table makes them, dense bands that merge over several passes,
    duplicate zero-width lines (a refit with a zero linspace step) and
    near-vertical spreads (refits in swapped coordinates)."""
    n = int(rng.integers(1, 40))
    kind = int(rng.integers(0, 4))
    if kind == 0:
        x0 = rng.uniform(0, 900, n).round(int(rng.integers(0, 3)))
        x1 = x0 + rng.uniform(5, 200, n).round(1)
        y = (rng.integers(0, 8, n) * 30 + 20) + rng.uniform(-6, 6, n).round(1)
    elif kind == 1:
        x0 = rng.uniform(0, 60, n)
        x1 = x0 + rng.uniform(1, 30, n)
        y = rng.uniform(300, 345, n)
    elif kind == 2:
        x0 = rng.choice([5.0, 7.5, 120.0], n)
        x1 = x0 + rng.choice([0.0, 0.0, 3.0, 40.0], n)
        y = rng.choice([10.0, 11.0, 40.0], n)
    else:
        x0 = rng.uniform(1, 3, n)
        x1 = x0 + rng.uniform(0, 2, n)
        y = rng.uniform(0, 25, n)
    rev = rng.random(n) < 0.3
    return (
        np.where(rev, x1, x0),
        np.where(rev, x0, x1),
        y.astype(np.float64),
        rng.uniform(5, 15, n).round(1),
        rng.uniform(2, 8, n).round(1),
    )


def _assert_merge_equal(group) -> None:
    want = ref.merge_lines_straight(*group)
    got = G.merge_lines_straight(*group)
    assert len(want) == len(got) == 5
    for w, g in zip(want, got):
        assert _same_floats(w, g)


def test_merge_stored_hypothesis_example():
    raw = [(0, 336, 10), (1, 327, 10), (1, 331, 10)]
    x0 = np.array([float(x) for x, _, _ in raw])
    _assert_merge_equal((
        x0, x0 + np.array([float(w) for _, _, w in raw]),
        np.array([float(y) for _, y, _ in raw]), np.full(3, 10.0), np.full(3, 4.0),
    ))


def test_merge_zero_step_refit_beside_a_regular_one():
    # two 4-point merges share one refit stack: a pair of identical
    # zero-width lines (linspace step 0) and the lines at y=327/331,
    # whose resampled interior x differ between linspace's two
    # formulas and feed the second pass that absorbs the y=336 line
    x0 = np.array([5.0, 5.0, 15.2, 16.2, 16.2])
    x1 = np.array([5.0, 5.0, 41.3, 42.3, 42.3])
    y = np.array([10.0, 10.0, 336.0, 327.0, 331.0])
    _assert_merge_equal((x0, x1, y, np.full(5, 10.0), np.full(5, 4.0)))


def test_merge_near_degenerate_refit():
    # two lines a few ulps wide and apart: whether the refit keeps its
    # smallest singular value turns on polyfit's rcond = m·eps
    x0 = np.array([7.5, 7.500000000000021])
    x1 = np.array([7.500000000000011, 7.500000000000054])
    _assert_merge_equal((x0, x1, np.full(2, 10.0), np.full(2, 10.0), np.full(2, 4.0)))


def test_merge_random_groups():
    rng = np.random.default_rng(20261019)
    merged = 0
    for _ in range(3000):
        group = _merge_group(rng)
        _assert_merge_equal(group)
        merged += len(ref.merge_lines_straight(*group)[0]) < len(group[0])
    assert merged > 2000  # the refit path, not just the no-merge path


# ---------------------------------------------------------- labeling


def _masks(rng: np.random.Generator):
    yield np.zeros((0, 5), dtype=bool)
    yield np.zeros((7, 9), dtype=bool)
    yield np.ones((6, 4), dtype=bool)
    for _ in range(300):
        h, w = (int(v) for v in rng.integers(1, 40, 2))
        yield rng.random((h, w)) < rng.uniform(0.05, 0.7)


@pytest.mark.parametrize("connectivity", [4, 8])
def test_label_components_random_masks(connectivity):
    rng = np.random.default_rng(connectivity)
    for mask in _masks(rng):
        want, n_want = ref.label_components(mask, connectivity)
        got, n_got = imageproc.label_components(mask, connectivity)
        assert n_got == n_want
        assert got.dtype == want.dtype and np.array_equal(got, want)


@pytest.mark.parametrize("connectivity", [4, 8])
def test_component_bboxes_random_masks(connectivity):
    rng = np.random.default_rng(10 + connectivity)
    for mask in _masks(rng):
        for min_pixels in (0, 3):
            assert imageproc.component_bboxes(
                mask, min_pixels, connectivity
            ) == ref.component_bboxes(mask, min_pixels, connectivity)


# ------------------------------------------------------------- peaks


def test_find_peaks_random_and_plateau_series():
    rng = np.random.default_rng(3)
    series = [np.zeros(0), np.array([1.0]), np.array([0.0, 2.0]),
              np.array([0, 1, 3, 3, 3, 1, 0, 5, 0, 4, 0], dtype=float),
              np.array([2, 2, 2, 1, 1, 3, 3], dtype=float)]
    for _ in range(400):
        n = int(rng.integers(3, 120))
        # few levels: runs of equal values (plateaus) are common
        series.append(rng.integers(0, int(rng.integers(2, 6)), n).astype(float))
        series.append(rng.normal(size=n))
    for x in series:
        for distance in (1, 2, 3, 7):
            want = ref.find_peaks(x, distance)
            got = imageproc.find_peaks(x, distance)
            assert got.dtype == want.dtype and np.array_equal(got, want)


# --------------------------------------------------------- detection


def _fixture_page(ys, x0=10, x1=300, h=220, w=400):
    img = np.full((h, w), 255, dtype=np.uint8)
    for y in ys:
        img[y - 10 : y + 1, x0:x1] = 0
    return img


def _assert_detect_equal(img, poly, **kw) -> None:
    want_b, want_h = ref.detect_lines_in_region(img, poly, **kw)
    got_b, got_h = imageproc.detect_lines_in_region(img, poly, **kw)
    assert got_h == want_h
    assert len(got_b) == len(want_b)
    for w, g in zip(want_b, got_b):
        assert _same_floats(w, g)


def test_detect_lines_on_linedet_fixtures():
    rect = lambda a, b, c, d: np.array([[a, b], [c, b], [c, d], [a, d]])  # noqa: E731
    cases = [
        (_fixture_page([20, 50, 80, 110]), rect(10.0, 5.0, 300.0, 125.0)),
        (_fixture_page([50]), rect(10.0, 35.0, 300.0, 65.0)),
        (np.full((100, 100), 255, dtype=np.uint8), rect(10.0, 10.0, 90.0, 90.0)),
        (np.full((50, 50), 255, dtype=np.uint8), np.array([[10.0, 10.0], [10.0, 40.0]])),
        # a slanted quadrilateral: the clip cuts the full-width segments
        (_fixture_page([30, 60, 90, 120, 150]),
         np.array([[5.0, 10.0], [330.0, 25.0], [300.0, 170.0], [20.0, 160.0]])),
    ]
    for img, poly in cases:
        for downsample in (1, 2, 3):
            _assert_detect_equal(img, poly, downsample=downsample)


def _random_pages(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    rows = []
    for doc in range(n_docs):
        step = int(rng.choice([18, 30, 36]))
        for ordv in range(int(rng.integers(1, 40))):
            col = ordv % 2
            x0 = col * 500 + 10 + int(rng.integers(0, 30))
            w = int(rng.integers(3, 400))
            y = (ordv // 2) * step + 20 + int(rng.choice([0, 0, 0, 3, 11]))
            rid = f"r{col}" if rng.random() > 0.05 else "r9"
            rows.append((doc, rid, float(x0), float(min(x0 + w, 990)), float(y)))
    return pd.DataFrame(rows, columns=["doc_id", "region_id", "x0", "x1", "y"])


def test_detect_lines_on_random_rendered_pages():
    rng = np.random.default_rng(8)
    pages = _random_pages(rng, 30)
    for _, page in pages.groupby("doc_id"):
        img = linedet._render_lines_raster(page, int(page["y"].max()) + 40)
        for _, g in page.groupby("region_id"):
            pad = int(rng.integers(0, 20))
            poly = np.array(
                [[g.x0.min(), g.y.min() - pad], [g.x1.max(), g.y.min() - pad],
                 [g.x1.max(), g.y.max() + pad], [g.x0.min(), g.y.max() + pad]]
            )
            for downsample in (1, 2):
                _assert_detect_equal(img, poly, downsample=downsample)


def test_detect_batch_equals_per_doc_stage():
    rng = np.random.default_rng(9)
    batch = _random_pages(rng, 25)
    pages = [ref.detect_page(g.reset_index(drop=True), 2, 15)
             for _, g in batch.groupby("doc_id", sort=False)]
    want = pd.concat([p for p in pages if len(p)], ignore_index=True)
    got = linedet._detect_pages(batch, 2, 15)
    assert len(want) > 100
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_segment_intersections_one_pass_equals_per_segment():
    rng = np.random.default_rng(5)
    for _ in range(200):
        poly = rng.uniform(0, 50, (int(rng.integers(3, 9)), 2)).round(1)
        p0 = rng.uniform(-10, 60, (6, 2)).round(1)
        p1 = rng.uniform(-10, 60, (6, 2)).round(1)
        p1[0] = p0[0] + [20.0, 0.0]  # a horizontal segment, as the detector clips
        hit, points = page_utils.segment_intersections(p0, p1, poly)
        for s in range(len(p0)):
            want = ref.segment_intersections(p0[s], p1[s], poly)
            assert _same_floats(np.reshape(want, (-1, 2)), points[s][hit[s]])


# ------------------------------------------------------- greedy decode


def _csc_batch(rng: np.random.Generator, ts) -> pd.DataFrame:
    """Random logits, csc-encoded like the logits table; line kinds:
    near-one-hot synth text, all-blank, and noisy near-ties ending in
    an uncertain blank."""
    c = len(ctc.CHARSET)
    out = {"t": [], "c": [], "data": [], "indices": [], "indptr": []}
    for t in ts:
        kind = rng.integers(0, 3)
        if kind == 0:
            dense = np.full((t, c), -80.0)
            dense[np.arange(t), rng.integers(0, c, t)] = 0.0
        elif kind == 1:
            dense = np.full((t, c), -80.0)
            dense[:, c - 1] = rng.uniform(-0.5, 0.0, t)
        else:
            dense = rng.uniform(-9.0, 0.0, (t, c)).astype(np.float32)
            # an uncertain blank last: the run that meets the padding
            dense[-1, c - 1] = dense[-1].max() + 0.05
        data, indices, indptr = kernels.dense_to_sparse(np.asarray(dense, np.float64))
        out["t"].append(t)
        out["c"].append(c)
        out["data"].append(np.asarray(data, dtype=np.float32))
        out["indices"].append(np.asarray(indices, dtype=np.int32))
        out["indptr"].append(np.asarray(indptr, dtype=np.int32))
    return pd.DataFrame(out)


def test_greedy_decode_random_csc_batches():
    rng = np.random.default_rng(12)
    batches = [[1], [1, 1, 1], [5] * 4, [1, 9, 9, 2, 40, 17, 17, 8, 130]]
    batches += [list(rng.integers(1, 60, int(rng.integers(1, 50)))) for _ in range(60)]
    for ts in batches:
        pdf = _csc_batch(rng, ts)
        want_t, want_c, want_s = ref.decode_batch_greedy(pdf)
        got_t, got_c, got_s = ctc._decode_batch_greedy(pdf)
        assert list(got_t) == want_t
        assert _same_floats(got_c, want_c)
        assert _same_floats(got_s, want_s)


def test_greedy_decode_synth_lines():
    texts = ["", "a", "aa", "hello world", "zz9", "mississippi", "abc" * 30]
    pdf = next(ctc._synth_batches(iter([pd.DataFrame(
        {"doc_id": range(len(texts)), "line_id": ["l"] * len(texts), "text": texts}
    )])))
    want = ref.decode_batch_greedy(pdf)
    got = ctc._decode_batch_greedy(pdf)
    assert list(got[0]) == want[0] == [t.replace(" ", "") for t in texts]
    assert _same_floats(got[1], want[1]) and _same_floats(got[2], want[2])
