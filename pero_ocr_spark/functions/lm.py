"""File-backed character n-gram LM (R9).

The reference wraps a torch char-RNN (``decoding/lm_wrapper.py:57-127``)
whose interface the decoders consume: initial state, advance per char,
log-probs per state. Torch is absent here, so the LM is an n-gram
table with the SAME interface — trained from a corpus with one Spark
aggregation, persisted as JSON, broadcast to executors, and consumed
by ``ctc_beam_search`` / the LM-carry decode exactly like the RNN
would be.

Scale notes: training is a single groupBy over exploded char bigrams
(map-side combinable); the resulting table is O(charset²) — trivially
broadcastable at any corpus size. Smoothing is add-one so unseen
transitions stay finite.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def train_char_bigrams(docs: DataFrame, col: str = "text") -> dict[str, int]:
    """Corpus char-bigram counts via one exploded aggregation.
    Returns {2-char string: count} — O(charset²) rows collected."""
    from pero_ocr_spark.operators import spread_scan

    grams = F.expr(
        f"transform(sequence(1, length({col}) - 1), "
        f"i -> substring({col}, i, 2))"
    )
    rows = (
        # the per-char gram fold is the expensive in-row part; spread a
        # starved single-split local scan first (no-op at corpus scale)
        spread_scan(docs).filter(F.length(col) >= 2)
        .select(F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return {r["g"]: int(r["n"]) for r in rows}


class FileNGramLM:
    """Bigram LM over a fixed charset from a count table — implements
    the decoder-facing interface of the reference's LMWrapper
    (``lm_wrapper.py:57-127``): initial_state / advance / log_probs /
    eos_score. Add-one smoothing; state = previous char index + 1
    (0 = start-of-line, matching NGramLM)."""

    def __init__(self, counts: dict[str, int], charset: list[str]):
        from pero_ocr_spark.functions.kernels import BLANK

        self.charset = charset[:-1] if charset[-1] == BLANK else list(charset)
        n = len(self.charset)
        idx = {c: i for i, c in enumerate(self.charset)}
        table = np.ones((n + 1, n), dtype=np.float64)  # add-one
        for gram, cnt in counts.items():
            if len(gram) != 2:
                continue
            a, b = gram[0], gram[1]
            if b not in idx:
                continue
            row = idx[a] + 1 if a in idx else 0
            table[row, idx[b]] += cnt
        self.table = np.log(table) - np.log(table.sum(axis=1))[:, None]

    def initial_state(self) -> int:
        return 0

    def advance(self, state: int, char_ind: int) -> int:
        return char_ind + 1

    def log_probs(self, state: int) -> np.ndarray:
        return self.table[state]

    def eos_score(self, state: int) -> float:
        return 0.0

    def perplexity(self, text: str) -> float:
        idx = {c: i for i, c in enumerate(self.charset)}
        lp, n = 0.0, 0
        state = self.initial_state()
        for ch in text:
            if ch not in idx:
                continue
            lp += self.table[state, idx[ch]]
            state = self.advance(state, idx[ch])
            n += 1
        return math.exp(-lp / n) if n else float("inf")
