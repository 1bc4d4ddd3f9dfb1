"""Forced alignment, confusion network, and narrow-label kernel tests —
fixtures in the spirit of test_force_alignment.py and
test_confusion_networks.py."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pero_ocr_spark.functions import kernels

B = 3  # blank index for a 4-symbol charset a,b,c,<blank>
N80 = -80.0


def _lp(rows):
    return np.asarray(rows, dtype=float)


class TestForceAlign:
    def test_single_symbol_single_frame(self):
        out = kernels.force_align(_lp([[0, N80, N80, N80]]), [0], B)
        np.testing.assert_array_equal(out, [0])

    def test_symbol_with_blanks(self):
        lp = _lp(
            [
                [N80, N80, N80, 0],
                [0, N80, N80, N80],
                [N80, N80, N80, 0],
            ]
        )
        np.testing.assert_array_equal(kernels.force_align(lp, [0], B), [B, 0, B])

    def test_double_letter_requires_blank(self):
        # 'aa' needs a blank between the two a-states
        lp = _lp(
            [
                [0, N80, N80, -1],
                [-1, N80, N80, 0],
                [0, N80, N80, -1],
            ]
        )
        np.testing.assert_array_equal(kernels.force_align(lp, [0, 0], B), [0, B, 0])

    def test_skip_between_distinct_chars(self):
        lp = _lp(
            [
                [0, N80, N80, N80],
                [N80, 0, N80, N80],
            ]
        )
        np.testing.assert_array_equal(kernels.force_align(lp, [0, 1], B), [0, 1])

    def test_alignment_follows_probabilities(self):
        # 'ab' over 4 frames: a best at frames 0-1, b at 2-3
        lp = _lp(
            [
                [0, -9, N80, -9],
                [0, -9, N80, -9],
                [-9, 0, N80, -9],
                [-9, 0, N80, -9],
            ]
        )
        np.testing.assert_array_equal(
            kernels.force_align(lp, [0, 1], B), [0, 0, 1, 1]
        )

    def test_too_few_frames_raises(self):
        with pytest.raises(ValueError):
            kernels.force_align(_lp([[0, N80, N80, N80]]), [0, 1], B)

    def test_letter_confidences_from_alignment(self):
        lp = _lp(
            [
                [0, N80, N80, N80],
                [N80, N80, N80, 0],
                [N80, 0, N80, N80],
            ]
        )
        align = kernels.force_align(lp, [0, 1], B)
        confs = kernels.letter_confidences(lp, align, B)
        assert len(confs) == 2
        assert all(c > -1e-6 for c in confs)


class TestConfusionNetworks:
    def test_empty_then_first_hypothesis(self):
        cn = kernels.add_hypothesis([], "abc", 0.24)
        assert cn == [{"a": 0.24}, {"b": 0.24}, {"c": 0.24}]

    def test_empty_hypothesis_on_empty_cn(self):
        assert kernels.add_hypothesis([], "", 0.24) == []

    def test_matches_accumulate(self):
        cn = kernels.add_hypothesis([], "abc", 0.24)
        cn = kernels.add_hypothesis(cn, "abc", 0.24)
        assert cn == [{"a": 0.48}, {"b": 0.48}, {"c": 0.48}]

    def test_substitution(self):
        cn = kernels.add_hypothesis([], "axc", 0.24)
        cn = kernels.add_hypothesis(cn, "abc", 0.12)
        assert cn[1] == {"x": 0.24, "b": 0.12}

    def test_deletion_adds_epsilon(self):
        cn = kernels.add_hypothesis([], "abc", 0.3)
        cn = kernels.add_hypothesis(cn, "ac", 0.1)
        assert cn[0] == {"a": 0.4}
        assert cn[1] == {"b": 0.3, None: 0.1}
        assert cn[2] == {"c": 0.4}

    def test_insertion_creates_position(self):
        cn = kernels.add_hypothesis([], "ac", 0.3)
        cn = kernels.add_hypothesis(cn, "abc", 0.1)
        assert len(cn) == 3
        mid = cn[1]
        assert mid["b"] == 0.1 and mid[None] == pytest.approx(0.3)

    def test_normalize_and_best_path(self):
        cn = kernels.confusion_network(
            [("abc", math.log(0.6), 0.0), ("axc", math.log(0.4), 0.0)]
        )
        assert kernels.best_cn_path(cn) == "abc"
        for pos in cn:
            assert sum(pos.values()) == pytest.approx(1.0)
