"""Hypothesis property suites for round-2 kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pero_ocr_spark.functions import arabic, kernels

TEXT = st.text(alphabet="ab cd", max_size=25)


class TestBestOverlapProperties:
    @settings(max_examples=150, deadline=None)
    @given(TEXT, TEXT)
    def test_matches_per_candidate_scan(self, left, right):
        # the KMP fast path + vectorized DP must equal the reference
        # formulation: scan every overlap size, keep the largest with
        # minimal CER
        max_ov = min(len(left), len(right))
        best_cer, want = 1.0, 0
        for i in range(1, max_ov + 1):
            cer = kernels.edit_stats(left[-i:], right[:i])[0] / i
            if cer <= best_cer:
                best_cer, want = cer, i
        assert kernels.best_overlap(left, right) == want

    @settings(max_examples=60, deadline=None)
    @given(st.text(alphabet="abcdef", min_size=1, max_size=10),
           st.text(alphabet="abcdef", max_size=10),
           st.text(alphabet="abcdef", max_size=10))
    def test_exact_junction_stitches(self, core, pre, post):
        # stitching two chunks that share an exact junction of length
        # >= half each side reconstructs a contiguous string
        left, right = pre + core, core + post
        ov = kernels.best_overlap(left, right)
        assert ov >= len(core) or kernels.edit_stats(
            left[-ov:], right[:ov]
        )[0] == 0


class TestLevDistProperties:
    @settings(max_examples=100, deadline=None)
    @given(st.text(max_size=15), st.text(max_size=15))
    def test_vectorized_matches_reference_dp(self, a, b):
        assert kernels._lev_dist_np(a, b) == kernels.edit_stats(a, b)[0]


ARABIC_WORDS = st.lists(
    st.one_of(
        st.text(alphabet="بتجدرسلمنهوي", min_size=1, max_size=6),
        st.text(alphabet="xyz123", min_size=1, max_size=5),
    ),
    min_size=1,
    max_size=6,
)


class TestArabicProperties:
    @settings(max_examples=80, deadline=None)
    @given(ARABIC_WORDS)
    def test_reverse_involution(self, words):
        s = " ".join(words)
        h = arabic.ArabicHelper()
        assert h.label_form_to_string(h.string_to_label_form(s)) == s

    @settings(max_examples=80, deadline=None)
    @given(ARABIC_WORDS)
    def test_visual_round_trip(self, words):
        s = " ".join(words)
        h = arabic.ArabicHelper()
        assert h.visual_form_to_string(h.string_to_visual_form(s)) == s


def test_merge_straight_parity_with_reversed_segments():
    """merge_lines_straight == merge_lines bit-for-bit, including
    reversed (x0 > x1) segments and singletons (review finding)."""
    import numpy as np

    from _geometry_ref import merge_lines

    from pero_ocr_spark.functions import geometry as G

    rng = np.random.default_rng(11)
    for _ in range(120):
        n = int(rng.integers(1, 25))
        x0 = rng.uniform(0, 900, n).round(1)
        x1 = x0 + rng.uniform(5, 200, n).round(1)
        rev = rng.random(n) < 0.3
        x0r = np.where(rev, x1, x0)
        x1r = np.where(rev, x0, x1)
        y = (rng.integers(0, 12, n) * 30 + 20).astype(float) + rng.uniform(
            -3, 3, n
        ).round(1)
        asc = rng.uniform(5, 15, n).round(1)
        desc = rng.uniform(2, 8, n).round(1)
        bls = [np.array([[a, yy], [b, yy]]) for a, b, yy in zip(x0r, x1r, y)]
        mb, mh = merge_lines(bls, list(zip(asc, desc)))
        ref = np.array(
            [[b[:, 0].min(), b[:, 0].max(), b[0, 1], h[0], h[1]]
             for b, h in zip(mb, mh)]
        )
        got = np.stack(G.merge_lines_straight(x0r, x1r, y, asc, desc), axis=1)
        assert ref.shape == got.shape and np.array_equal(ref, got)


def test_snap_batch_parity_fractional_coords():
    """snap_horizontal_baselines_batch == the scalar kernel on
    arbitrary float coordinates (review finding: rounding/truncation
    divergence)."""
    import numpy as np

    from pero_ocr_spark.functions import imageproc as I

    rng = np.random.default_rng(7)
    for _ in range(40):
        h, w = 300, 400
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        n = int(rng.integers(1, 15))
        x0 = rng.uniform(5, 200, n)
        x1 = x0 + rng.uniform(10, 150, n)
        y = rng.uniform(5, 295, n)  # includes rows outside the fast gate
        bls = [np.array([[a, yy], [b, yy]]) for a, b, yy in zip(x0, x1, y)]
        ref = np.array(
            [b[0][1] for b in I.snap_baselines_to_intensity(bls, img)]
        )
        got = I.snap_horizontal_baselines_batch(img, x0, x1, y)
        assert np.array_equal(ref, got)
