"""Property-based kernel tests (hypothesis) — invariants the reference
never checked. All pure-numpy, no Spark session needed.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from _geometry_ref import merge_lines, xy_cut_order

from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.functions import kernels
from pero_ocr_spark.operators.ctc import CHARSET, synth_line_logits

TEXT = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", max_size=24)
BLANK = len(CHARSET) - 1


@settings(max_examples=150, deadline=None)
@given(TEXT)
def test_decode_inverts_synthesis(text):
    dense = synth_line_logits(text)
    got, _ = kernels.greedy_decode(dense, CHARSET)
    assert got == text
    hyps, _ = kernels.ctc_beam_search(dense, CHARSET, beam_size=2)
    assert hyps[0][0] == text


@settings(max_examples=100, deadline=None)
@given(TEXT.filter(bool))
def test_force_align_collapses_to_target(text):
    dense = synth_line_logits(text)
    seq = [CHARSET.index(c) for c in text]
    align = kernels.force_align(dense, seq, BLANK)
    collapsed = [k for k, _ in __import__("itertools").groupby(align)]
    assert [c for c in collapsed if c != BLANK] == seq


@settings(max_examples=100, deadline=None)
@given(
    st.integers(2, 20),
    st.integers(2, 10),
    st.integers(0, 2**31),
)
def test_sparse_codec_round_trip(t, c, seed):
    rng = np.random.default_rng(seed)
    dense = np.where(rng.random((t, c)) > 0.5, 0.0, -80.0)
    data, idx, ptr = kernels.dense_to_sparse(dense, logit_threshold=-9.21)
    back = kernels.sparse_to_dense(data, idx, ptr, t, c, fill=-80.0)
    np.testing.assert_allclose(back, dense)


@settings(max_examples=150, deadline=None)
@given(TEXT, TEXT)
def test_edit_stats_invariants(a, b):
    dist, subs, ins, dels = kernels.edit_stats(a, b)
    assert dist == subs + ins + dels
    assert dist <= max(len(a), len(b))
    assert abs(len(a) - len(b)) <= dist
    assert kernels.edit_stats(a, b)[0] == kernels.edit_stats(b, a)[0]
    assert kernels.edit_stats(a, a) == (0, 0, 0, 0)
    # alignment path emits every char of both strings exactly once
    path = kernels.align_strings(a, b)
    assert "".join(r for r, _ in path if r is not None) == a
    assert "".join(h for _, h in path if h is not None) == b


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(0, 1000, allow_nan=False), min_size=1, max_size=40),
       st.floats(0.1, 100))
def test_band_sort_is_y_monotone_permutation(ys, eps):
    order = G.band_sort_order(np.asarray(ys), eps)
    assert sorted(order) == list(range(len(ys)))
    assert [ys[i] for i in order] == sorted(ys)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(0, 500, allow_nan=False), st.floats(0, 500, allow_nan=False),
            st.floats(1, 100, allow_nan=False), st.floats(1, 100, allow_nan=False),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_xy_cut_is_permutation(raw):
    boxes = [(x, y, x + w, y + h) for x, y, w, h in raw]
    order = xy_cut_order(boxes)
    assert sorted(order) == list(range(len(boxes)))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(0, 900), st.floats(0, 900), st.floats(10, 80)),
                min_size=1, max_size=10))
def test_merge_lines_idempotent(raw):
    baselines = [np.array([[x, y], [x + w, y]]) for x, y, w in raw]
    heights = [(10.0, 4.0)] * len(baselines)
    b1, h1 = merge_lines(baselines, heights)
    b2, h2 = merge_lines(b1, h1)
    assert len(b1) == len(b2)
    assert h1 == h2


@settings(max_examples=80, deadline=None)
@given(st.lists(st.tuples(TEXT, st.floats(-5, 0)), min_size=1, max_size=5))
def test_confusion_network_normalized(hyps):
    cn = kernels.confusion_network([(t, s, 0.0) for t, s in hyps])
    for pos in cn:
        assert abs(sum(pos.values()) - 1.0) < 1e-9
    # single-hypothesis CN reproduces the hypothesis
    single = kernels.confusion_network([(hyps[0][0], -1.0, 0.0)])
    assert kernels.best_cn_path(single) == hyps[0][0]
