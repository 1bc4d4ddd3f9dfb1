"""Pure numpy compute kernels (no Spark imports).

These are the engine's "expensive scalar functions" — the analogs of
pero-ocr's decoding/confidence/alignment kernels, re-implemented from
the published CTC prefix-beam-search algorithm (Hannun et al. 2014;
the blog derivation referenced by the reference itself at
``decoding/decoders.py:222``) and standard DP edit distance. They run
inside Arrow-batched UDFs; Spark never sees individual rows.

Reference parity targets (semantics, not code):
  * greedy decode       — ``ocr_engine/pytorch_ocr_engine.py:13-34``,
                          ``decoding/decoders.py:42-62``
  * prefix beam search  — ``decoding/decoders.py:170-299`` (dict-based
                          formulation here; prefix joining is inherent)
  * line confidence     — ``document_ocr/page_parser.py:437-450``
                          (worst best-run probability)
  * letter confidence   — ``core/confidence_estimation.py:8-30``
  * edit stats          — ``sequence_alignment.py`` / ``error_summary.py``
  * sparse logits codec — ``ocr_engine/line_ocr_engine.py:168-171`` /
                          ``core/layout.py:65-72`` (csc as plain arrays)
"""

from __future__ import annotations

import math

import numpy as np

BLANK = "<BLANK>"
LOG_ZERO = -np.inf


def logprobs_deviation(log_probs: np.ndarray) -> float:
    return float(np.max(np.abs(np.sum(np.exp(log_probs), axis=1) - 1.0)))


# ------------------------------------------------------------ greedy CTC

def greedy_decode(
    log_probs: np.ndarray, charset: list[str], max_deviation: float = 1e-5
) -> tuple[str, float]:
    """Argmax per frame → collapse repeats → drop blanks (blank = last class).

    Returns (transcript, logsumexp of per-frame maxima) — the same
    score definition the reference's GreedyDecoder reports.
    """
    if logprobs_deviation(log_probs) > max_deviation:
        raise ValueError("expected normalized log-probs")
    blank = len(charset) - 1
    ids = np.argmax(log_probs, axis=1)
    maxes = np.max(log_probs, axis=1)
    keep = np.ones(len(ids), dtype=bool)
    keep[1:] = ids[1:] != ids[:-1]
    collapsed = ids[keep]
    text = "".join(charset[i] for i in collapsed if i != blank)
    m = float(np.max(maxes))
    score = m + math.log(float(np.sum(np.exp(maxes - m))))
    return text, score


def line_confidence(log_probs: np.ndarray) -> float:
    """Worst best-run probability (page_parser.py:437-450 semantics):
    group frames into runs of identical argmax id; within a run take the
    max best-frame probability; return the min over runs."""
    lp = log_probs - np.logaddexp.reduce(log_probs, axis=1)[:, None]
    ids = np.argmax(lp, axis=1)
    best = np.exp(np.max(lp, axis=1))
    # run boundaries
    starts = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))
    run_max = np.maximum.reduceat(best, starts)
    return float(np.min(run_max))


def letter_confidences(
    log_probs: np.ndarray, alignment: np.ndarray, blank_ind: int
) -> list[float]:
    """Max aligned log-prob per non-blank run of the alignment
    (confidence_estimation.py:8-30 semantics)."""
    lp = log_probs - np.logaddexp.reduce(log_probs, axis=1)[:, None]
    per_frame = lp[np.arange(lp.shape[0]), alignment]
    out: list[float] = []
    i = 0
    n = len(alignment)
    while i < n:
        j = i
        while j < n and alignment[j] == alignment[i]:
            j += 1
        if alignment[i] != blank_ind:
            out.append(float(np.max(per_frame[i:j])))
        i = j
    return out


# --------------------------------------------------- prefix beam search

class NGramLM:
    """Minimal deterministic char-LM for tests and the LM-fusion path —
    the functional stand-in for the reference's torch RNN LM
    (``decoding/lm_wrapper.py``). State = last char index (order-2).

    log-prob table is derived from a fixed bigram preference matrix so
    tests are reproducible without any model weights.
    """

    def __init__(self, charset: list[str], boost: dict[tuple[str, str], float] | None = None):
        self.charset = charset[:-1] if charset[-1] == BLANK else list(charset)
        self.n = len(self.charset)
        base = np.full((self.n + 1, self.n), -math.log(self.n))
        if boost:
            idx = {c: i for i, c in enumerate(self.charset)}
            for (prev, nxt), logit in boost.items():
                p = idx[prev] + 1 if prev else 0
                base[p, idx[nxt]] += logit
        self.table = base - np.logaddexp.reduce(base, axis=1)[:, None]

    def initial_state(self) -> int:
        return 0

    def advance(self, state: int, char_ind: int) -> int:
        return char_ind + 1

    def log_probs(self, state: int) -> np.ndarray:
        return self.table[state]

    def eos_score(self, state: int) -> float:
        return 0.0


def ctc_beam_search(
    log_probs: np.ndarray,
    charset: list[str],
    beam_size: int = 8,
    prune_logit: float = -10.0,
    lm=None,
    lm_scale: float = 1.0,
    insertion_bonus: float = 0.0,
    max_deviation: float = 1e-5,
    init_lm_state=None,
    model_eos: bool = False,
):
    """CTC prefix beam search, dict-keyed on the prefix.

    Standard Pb/Pnb log-space recursion; keying beams by prefix makes
    prefix joining (merging mass of identical prefixes) automatic.
    Per-frame pruning keeps only non-blank chars with log-prob >
    ``prune_logit`` (blank is always advanced), matching the
    reference's relevant-logit selection semantics.

    Returns (hypotheses, best_lm_state) where hypotheses is a list of
    (text, vis_score, lm_score) sorted by vis + lm_scale*lm desc with
    deterministic text tiebreak.
    """
    if logprobs_deviation(log_probs) > max_deviation:
        raise ValueError("expected normalized log-probs")
    blank = len(charset) - 1

    # beams: prefix(tuple of char inds) -> [Pb, Pnb, Plm, lm_state]
    s0 = (lm.initial_state() if init_lm_state is None else init_lm_state) if lm else None
    beams: dict[tuple, list] = {(): [0.0, LOG_ZERO, 0.0, s0]}

    for frame in log_probs:
        p_blank = float(frame[blank])
        chars = np.flatnonzero(frame[:-1] > prune_logit)
        nxt: dict[tuple, list] = {}

        def bucket(prefix, state):
            b = nxt.get(prefix)
            if b is None:
                b = [LOG_ZERO, LOG_ZERO, 0.0, state]
                nxt[prefix] = b
            return b

        for prefix, (pb, pnb, plm, st) in beams.items():
            total = np.logaddexp(pb, pnb)
            # blank extends: prefix unchanged
            b = bucket(prefix, st)
            b[0] = np.logaddexp(b[0], total + p_blank)
            b[2] = plm
            last = prefix[-1] if prefix else None
            for c in chars:
                pc = float(frame[c])
                if c == last:
                    # same char: repeat-collapse (from Pnb) stays, via
                    # blank (from Pb) extends
                    b2 = bucket(prefix, st)
                    b2[1] = np.logaddexp(b2[1], pnb + pc)
                    b2[2] = plm
                    new_prefix = prefix + (c,)
                    from_pb = pb + pc
                else:
                    new_prefix = prefix + (c,)
                    from_pb = total + pc
                nb = nxt.get(new_prefix)
                if lm:
                    new_plm = plm + float(lm.log_probs(st)[c]) + insertion_bonus
                    new_st = lm.advance(st, int(c))
                else:
                    new_plm, new_st = 0.0, None
                if nb is None:
                    nxt[new_prefix] = [LOG_ZERO, from_pb, new_plm, new_st]
                else:
                    nb[1] = np.logaddexp(nb[1], from_pb)
                    nb[2] = new_plm
                    nb[3] = new_st

        # prune to beam_size by vis + lm_scale*lm, deterministic tiebreak
        scored = sorted(
            nxt.items(),
            key=lambda kv: (
                -(np.logaddexp(kv[1][0], kv[1][1]) + lm_scale * kv[1][2]),
                kv[0],
            ),
        )
        beams = dict(scored[:beam_size])

    out = []
    best_state = None
    best_total = -np.inf
    for prefix, (pb, pnb, plm, st) in beams.items():
        vis = float(np.logaddexp(pb, pnb))
        lm_sc = plm + (lm.eos_score(st) if (lm and model_eos) else 0.0)
        text = "".join(charset[i] for i in prefix)
        out.append((text, vis, float(lm_sc)))
        if vis + lm_scale * lm_sc > best_total:
            best_total = vis + lm_scale * lm_sc
            best_state = st
    out.sort(key=lambda h: (-(h[1] + lm_scale * h[2]), h[0]))
    return out, best_state


# ------------------------------------------------------- sparse codec

def dense_to_sparse(dense: np.ndarray, logit_threshold: float = -9.21):
    """CSC-encode a (T, C) logit matrix keeping entries above threshold
    (the analog of the p<1e-4 sparsification in line_ocr_engine.py:168-171;
    ln(1e-4) ≈ -9.21). Returns (data, row_indices, indptr) plain lists."""
    t, c = dense.shape
    rows, cols = np.nonzero(dense > logit_threshold)
    order = np.argsort(cols, kind="stable")  # csc order: by col, then row
    data = dense[rows[order], cols[order]].astype(np.float64)
    indices = rows[order].astype(np.int64)
    indptr = np.concatenate(
        ([0], np.cumsum(np.bincount(cols, minlength=c)))
    ).astype(np.int64)
    return data, indices, indptr


def sparse_to_dense(
    data, indices, indptr, t: int, c: int, fill: float = -80.0
) -> np.ndarray:
    """Inverse of dense_to_sparse; absent entries get a floor logit
    (layout.py:65-72 reconstructs with a constant small value)."""
    dense = np.full((t, c), fill, dtype=np.float64)
    data = np.asarray(data, dtype=np.float64)
    indices = np.asarray(indices, dtype=np.int64)
    indptr = np.asarray(indptr, dtype=np.int64)
    cols = np.repeat(np.arange(c, dtype=np.int64), np.diff(indptr))
    dense[indices, cols] = data
    return dense


# ------------------------------------------------ forced alignment (R10)

def force_align(
    log_probs: np.ndarray, symbol_seq: list[int], blank: int
) -> np.ndarray:
    """CTC Viterbi forced alignment (core/force_alignment.py:13-37
    semantics): expand the target to the 2n+1 blank-interleaved state
    chain, run min-cost Viterbi over negative log-probs with
    stay/advance/skip transitions (skip only between distinct chars),
    constrain start to states {0,1} and end to the last two states.
    Returns the per-frame emitted symbol (including blanks)."""
    symbol_seq = list(symbol_seq)
    if not symbol_seq:
        raise ValueError("cannot align an empty symbol sequence")
    if blank in symbol_seq:
        raise ValueError("blank present in symbol sequence")
    n_states = 2 * len(symbol_seq) + 1
    states = np.full(n_states, blank, dtype=np.int64)
    states[1::2] = symbol_seq
    neg = -np.asarray(log_probs, dtype=np.float64)[:, states]  # (T, S)
    t_frames = neg.shape[0]
    if t_frames < len(symbol_seq):
        raise ValueError("fewer frames than symbols")

    INF = np.inf
    cost = np.full(n_states, INF)
    cost[0] = neg[0, 0]
    cost[1] = neg[0, 1]
    back = np.zeros((t_frames, n_states), dtype=np.int8)  # 0 stay, 1 prev, 2 skip
    can_skip = np.zeros(n_states, dtype=bool)
    for s in range(3, n_states, 2):
        i = s // 2
        if i < len(symbol_seq) and symbol_seq[i] != symbol_seq[i - 1]:
            can_skip[s] = True

    # transition table reuses one (3, S) buffer per frame instead of
    # concatenate+stack allocations — the DP is numpy-call-overhead
    # bound at word-alignment sizes (S ~ 35)
    work = np.full((3, n_states), INF)
    idx = np.arange(n_states)
    no_skip = ~can_skip[2:]
    for t in range(1, t_frames):
        work[0] = cost
        work[1, 1:] = cost[:-1]
        work[2, 2:] = cost[:-2]
        work[2, 2:][no_skip] = INF
        choice = np.argmin(work, axis=0)
        cost = work[choice, idx] + neg[t]
        back[t] = choice

    end = n_states - 1 if cost[n_states - 1] <= cost[n_states - 2] else n_states - 2
    if not np.isfinite(cost[end]):
        raise ValueError("no valid alignment path")
    path = np.zeros(t_frames, dtype=np.int64)
    s = end
    for t in range(t_frames - 1, -1, -1):
        path[t] = s
        s -= int(back[t, s])
    return states[path]


# --------------------------------------------- confusion networks (R14)

def add_hypothesis(cn: list[dict], transcript: str, score: float) -> list[dict]:
    """Accumulate a hypothesis into a confusion network (sausage):
    align the transcript to the pivot (per-position best symbol), add
    score mass to matched/substituted arcs, insert new positions for
    transcript-only chars (confusion_networks.py:13-53 semantics).
    ``None`` arcs are epsilons."""
    if not cn:
        return [{sym: score} for sym in transcript]
    pivot = ["" if p is None else p for p in (best_arc(pos) for pos in cn)]
    total_weight = sum(sum(p.values()) for p in cn) / len(cn)
    pairs = align_strings(list(transcript), pivot)
    out = []
    cn_ptr = 0
    for t_char, p_char in pairs:
        if t_char is None:  # cn advances alone → epsilon mass
            pos = cn[cn_ptr]
            pos[None] = pos.get(None, 0.0) + score
            out.append(pos)
            cn_ptr += 1
        elif p_char is None:  # transcript-only → new sausage position
            out.append({None: total_weight, t_char: score})
        else:
            pos = cn[cn_ptr]
            pos[t_char] = pos.get(t_char, 0.0) + score
            out.append(pos)
            cn_ptr += 1
    out.extend(cn[cn_ptr:])
    return out


def best_arc(position: dict):
    return max(position.items(), key=lambda kv: (kv[1], str(kv[0])))[0]


def confusion_network(
    hyps: list[tuple[str, float, float]],
    visual_weight: float = 1.0,
    lm_weight: float = 1.0,
    normalize: bool = True,
) -> list[dict]:
    """Sausage from a hypothesis list [(text, vis_sc, lm_sc)]."""
    cn: list[dict] = []
    for text, vis, lm in hyps:
        cn = add_hypothesis(cn, text, math.exp(visual_weight * vis + lm_weight * lm))
    if normalize:
        for pos in cn:
            z = sum(pos.values())
            for k in pos:
                pos[k] /= z
    return cn


def best_cn_path(cn: list[dict]) -> str:
    syms = [best_arc(pos) for pos in cn]
    return "".join(s for s in syms if s is not None)


# ------------------------------------------- chunked decoding merge (R4)

def chunk_sequence(length: int, max_len: int, overlap: int | None = None) -> list[tuple[int, int]]:
    """Split [0, length) into overlapping chunks (line_ocr_engine.py:
    95-117 semantics): fixed-size windows striding by max_len−overlap,
    final remainder chunk included. Returns (start, end) pairs."""
    if overlap is None:
        overlap = max_len // 4
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    if overlap < 0 or overlap >= max_len:
        # stride max_len - overlap would be <= 0: the while loop below
        # would never advance — fail fast instead of hanging a task
        raise ValueError(f"overlap must be in [0, max_len), got {overlap}")
    if length <= max_len:
        return [(0, length)]
    out = []
    start, end = 0, max_len
    while end < length:
        out.append((start, end))
        start += max_len - overlap
        end += max_len - overlap
    out.append((start, min(end, length)))
    return out


def _kmp_failure(s: str) -> list[int]:
    """KMP failure function: pi[i] = longest proper border of s[:i+1]."""
    pi = [0] * len(s)
    k = 0
    for i in range(1, len(s)):
        while k and s[i] != s[k]:
            k = pi[k - 1]
        if s[i] == s[k]:
            k += 1
        pi[i] = k
    return pi


def _lev_dist_np(a: str, b: str) -> int:
    """Levenshtein distance, row-vectorized: the loop-carried insert
    dependency cur[b] = min(base[b-1], cur[b-1]+1) unrolls to
    cur[b] = b + running_min(y)[b] with y = [row, base - index], so
    each DP row is one np.minimum.accumulate — O(len(a)) python
    iterations, no per-cell python."""
    la = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    lb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    m = len(lb)
    idx = np.arange(m + 1, dtype=np.int64)
    prev = idx.copy()
    for r, ch in enumerate(la, 1):
        base = np.minimum(prev[:-1] + (lb != ch), prev[1:] + 1)
        y = np.concatenate(([np.int64(r)], base - idx[1:]))
        prev = np.minimum.accumulate(y) + idx
    return int(prev[m])


def best_overlap(left: str, right: str) -> int:
    """Overlap size between left's suffix and right's prefix minimizing
    CER (line_ocr_engine.py:197-211 semantics), preferring the LARGEST
    overlap at minimal CER: on repetitive text a short accidental match
    (e.g. 1 char) often ties a real long overlap at CER 0; the
    reference keeps the first minimum (line_ocr_engine.py:204-209) and
    mis-stitches those — the longest minimal-CER overlap is strictly
    more robust.

    Fast path: if ANY exact suffix/prefix overlap exists, CER 0 is the
    global minimum and the answer is the longest exact overlap — the
    longest border of right[:M] + sep + left[-M:], one O(M) KMP pass.
    Only junctions with no exact overlap (noisy decodes) pay the
    per-candidate DP, and that DP is row-vectorized."""
    m = min(len(left), len(right))
    if m == 0:
        return 0
    # the KMP sentinel must not occur in either window, or a border
    # could cross it and report an overlap longer than the strings
    for sep in "\x00\x01\x02\x03":
        if sep not in left[-m:] and sep not in right[:m]:
            pi = _kmp_failure(right[:m] + sep + left[-m:])
            if pi[-1] > 0:
                return pi[-1]
            break
    best_cer, best = 1.0, 0
    for i in range(1, m + 1):
        cer = _lev_dist_np(left[-i:], right[:i]) / i
        if cer <= best_cer:
            best_cer, best = cer, i
    return best


def merge_chunk_transcriptions(parts: list[str]) -> str:
    """Stitch overlapping chunk transcriptions: split each junction at
    the midpoint of the best-CER overlap (line_ocr_engine.py:180-194
    semantics, transcription-only form)."""
    if not parts:
        return ""
    result = parts[0]
    for part in parts[1:]:
        ov = best_overlap(result, part)
        result = result[: len(result) - ov // 2] + part[ov // 2:]
    return result


# -------------------------------------------------- narrow label (R17)

# ----------------------------------------------------- edit distance

def edit_stats(ref: str, hyp: str) -> tuple[int, int, int, int]:
    """Levenshtein DP with operation counts.

    Returns (distance, substitutions, insertions, deletions) where
    insertions are chars present in hyp but not ref (error_summary.py
    convention: errors transforming ref into hyp).
    """
    n, m = len(ref), len(hyp)
    # dp[i][j] = (dist, subs, ins, dels)
    prev = [(j, 0, j, 0) for j in range(m + 1)]
    for i in range(1, n + 1):
        cur = [(i, 0, 0, i)]
        for j in range(1, m + 1):
            if ref[i - 1] == hyp[j - 1]:
                cur.append(prev[j - 1])
                continue
            sub = prev[j - 1]
            ins = cur[j - 1]
            dele = prev[j]
            best = min(sub[0], ins[0], dele[0])
            if sub[0] == best:
                cur.append((sub[0] + 1, sub[1] + 1, sub[2], sub[3]))
            elif ins[0] == best:
                cur.append((ins[0] + 1, ins[1], ins[2] + 1, ins[3]))
            else:
                cur.append((dele[0] + 1, dele[1], dele[2], dele[3] + 1))
        prev = cur
    return prev[m]


def align_strings(ref: str, hyp: str) -> list[tuple[str | None, str | None]]:
    """Alignment path (ref_char, hyp_char) pairs; None marks a gap.
    Backtrace order prefers substitution, then insertion, then deletion
    — deterministic."""
    n, m = len(ref), len(hyp)
    dp = np.zeros((n + 1, m + 1), dtype=np.int64)
    dp[:, 0] = np.arange(n + 1)
    dp[0, :] = np.arange(m + 1)
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            cost = 0 if ref[i - 1] == hyp[j - 1] else 1
            dp[i, j] = min(dp[i - 1, j - 1] + cost, dp[i, j - 1] + 1, dp[i - 1, j] + 1)
    path: list[tuple[str | None, str | None]] = []
    i, j = n, m
    while i > 0 or j > 0:
        if i > 0 and j > 0 and dp[i, j] == dp[i - 1, j - 1] + (
            0 if ref[i - 1] == hyp[j - 1] else 1
        ):
            path.append((ref[i - 1], hyp[j - 1]))
            i, j = i - 1, j - 1
        elif j > 0 and dp[i, j] == dp[i, j - 1] + 1:
            path.append((None, hyp[j - 1]))
            j -= 1
        else:
            path.append((ref[i - 1], None))
            i -= 1
    path.reverse()
    return path
