"""Error aggregation operators (A1/A2/A3, J5).

The two-phase aggregation pattern of the reference's ErrorsSummary
(``user_scripts/error_summary.py:101-163``): per-line edit stats
computed in an Arrow-batched kernel (Levenshtein DP with operation
counts, ``sequence_alignment.py`` semantics), then plain Catalyst
groupBy sums — partial aggregation is map-side, the shuffle carries
only counters. The confusion matrix is the relational form:
``groupBy(ref_char, hyp_char).count()`` over exploded alignment pairs.

Page quality (A3, ``core/layout.py:778-847``) is the power mean of
line confidences — a pure expression: pow(avg(pow(c, p)), 1/p).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pero_ocr_spark.functions import kernels
from pero_ocr_spark.operators import flat_map_in_pandas, shuffle_width


def line_edit_stats(pairs: DataFrame) -> DataFrame:
    """Per-line (ref, hyp) → edit stats. Input needs columns
    doc_id, line_id, ref, hyp."""

    def per_row(doc_id, line_id, ref, hyp):
        ref_len = None if ref is None else len(ref)
        return [(doc_id, line_id, *kernels.edit_stats(ref, hyp), ref_len)]

    return flat_map_in_pandas(
        pairs.select("doc_id", "line_id", "ref", "hyp"),
        per_row,
        "doc_id long, line_id string, dist long, subs long, ins long, "
        "dels long, ref_len long",
    )


def cer_summary(stats: DataFrame, by: str = "doc_id") -> DataFrame:
    """Two-phase CER aggregation: per-group error sums + CER."""
    return stats.groupBy(by).agg(
        F.sum("dist").cast("long").alias("sum_dist"),
        F.sum("subs").cast("long").alias("sum_subs"),
        F.sum("ins").cast("long").alias("sum_ins"),
        F.sum("dels").cast("long").alias("sum_dels"),
        F.sum("ref_len").cast("long").alias("sum_ref_len"),
        F.round(F.sum("dist") / F.sum("ref_len").cast("double"), 6).alias("cer"),
    )


def confusion_matrix(pairs: DataFrame) -> DataFrame:
    """Character confusion counts over alignment paths (the Counter
    matrix of error_summary.py:117-129, as a relational aggregate).
    Gaps are encoded as '∅'."""

    def per_row(ref, hyp):
        for rc, hc in kernels.align_strings(ref, hyp):
            yield ("∅" if rc is None else rc), ("∅" if hc is None else hc)

    exploded = flat_map_in_pandas(
        pairs.select("ref", "hyp"), per_row, "ref_char string, hyp_char string"
    )
    return exploded.groupBy("ref_char", "hyp_char").agg(
        F.count("*").cast("long").alias("n")
    )


def power_mean_quality(
    df: DataFrame, value_col: str, group_col: str, p: float = 2.0
) -> DataFrame:
    """A3: power mean — pow(avg(pow(x, p)), 1/p) per group."""
    return df.groupBy(group_col).agg(
        F.round(
            F.pow(F.avg(F.pow(F.col(value_col), F.lit(p))), F.lit(1.0 / p)), 6
        ).alias("power_mean"),
        F.count("*").cast("long").alias("n"),
    )


_PACK_LIMIT = 2**63


def _gram_unique_counts(codes: np.ndarray, n: int, base: int):
    """Exact ``(unique grams, counts)`` over the n-gram windows of an
    integer code sequence (dtype uint64, every code < ``base``).

    Each fixed-length window packs into ONE uint64 by base-``base``
    positional encoding — injective for a fixed n, so this is the gram
    multiset itself, never a hash. When ``base**n`` would overflow
    (huge per-document alphabet — only reachable for char grams on a
    >1600-distinct-codepoint document), each gram splits into two
    packed halves sorted as a structured key: still collision-free.
    Returns None when the sequence is shorter than n (no grams).
    """
    m = codes.size - n + 1
    if m <= 0:
        return None
    if base**n < _PACK_LIMIT:
        b = np.uint64(base)
        g = codes[:m].copy()
        for i in range(1, n):
            g *= b
            g += codes[i : m + i]
        return np.unique(g, return_counts=True)
    hi_n = (n + 1) // 2
    lo_n = n - hi_n
    b = np.uint64(base)
    hi = codes[:m].copy()
    for i in range(1, hi_n):
        hi *= b
        hi += codes[i : m + i]
    lo = codes[hi_n : m + hi_n].copy()
    for i in range(1, lo_n):
        lo *= b
        lo += codes[hi_n + i : m + hi_n + i]
    pair = np.empty(m, dtype=[("a", "u8"), ("b", "u8")])
    pair["a"] = hi
    pair["b"] = lo
    return np.unique(pair, return_counts=True)


def _clip_sum(uh, ur) -> int:
    """Σ_g min(hyp_count_g, ref_count_g) from two unique+counts pairs —
    the clipped n-gram match count (0 when either side has no grams)."""
    if uh is None or ur is None:
        return 0
    _, ih, ir = np.intersect1d(
        uh[0], ur[0], assume_unique=True, return_indices=True
    )
    return int(np.minimum(uh[1][ih], ur[1][ir]).sum())


def _char_gram_clips(h: str, r: str, max_n: int) -> list[int]:
    """clip_1..clip_max_n for character n-grams of two strings.

    UTF-32 views make codes == Unicode code points (the same
    code-point grain as both engines' length/substring), then the
    per-document alphabet is compressed so every order packs into
    uint64; the raw-code-point split-pack path covers the rare
    >1600-symbol document. Exact multiset counts, vectorized end to
    end (one C sort per side per order) — no hashing anywhere.
    """
    hc = np.frombuffer(h.encode("utf-32-le"), dtype=np.uint32)
    rc = np.frombuffer(r.encode("utf-32-le"), dtype=np.uint32)
    uniq = np.unique(np.concatenate([hc, rc]))
    if (len(uniq) + 1) ** max_n < _PACK_LIMIT:
        base = len(uniq) + 1
        hc = (np.searchsorted(uniq, hc) + 1).astype(np.uint64)
        rc = (np.searchsorted(uniq, rc) + 1).astype(np.uint64)
    else:
        base = 0x110000
        hc = hc.astype(np.uint64)
        rc = rc.astype(np.uint64)
    return [
        _clip_sum(
            _gram_unique_counts(hc, n, base), _gram_unique_counts(rc, n, base)
        )
        for n in range(1, max_n + 1)
    ]


def _token_gram_clips(ht, rt, max_n: int) -> list[int]:
    """clip_1..clip_max_n for token n-grams of two token sequences.

    Tokens map to dense integer codes through one shared dict (exact
    string identity — a token is atomic, so unlike the join-on-
    ``concat_ws`` formulation no separator ambiguity exists; the
    corpus tokenizer splits on the separator character anyway), then
    the same packed-window counting as the char kernel.
    """
    vocab: dict = {}
    setd = vocab.setdefault

    def enc(ts):
        a = np.empty(len(ts), dtype=np.uint64)
        for i, t in enumerate(ts):
            a[i] = setd(t, len(vocab) + 1)
        return a

    hc = enc(ht)
    rc = enc(rt)
    base = len(vocab) + 1
    return [
        _clip_sum(
            _gram_unique_counts(hc, n, base), _gram_unique_counts(rc, n, base)
        )
        for n in range(1, max_n + 1)
    ]


def _spread_docs(docs: DataFrame, *cols: str) -> DataFrame:
    """Project the per-document frame to the kernel's columns and
    spread it across the session's shuffle width. The explicit
    numbered repartition is load-bearing: a doc-level aggregate is
    tiny in BYTES, so AQE's coalescing would hand the whole frame to
    one or two tasks and serialize the CPU-bound Python stage behind
    it; repartition(n) pins the width (AQE honors user-numbered
    repartitions). The frame is at most corpus-text-sized, so this one
    narrow exchange is far cheaper than the 2·max_n·corpus gram
    explode + shuffle it replaces."""
    return docs.select(*cols).repartition(shuffle_width(docs.sparkSession))


def corpus_bleu(
    docs: DataFrame,
    hyp_col: str = "hyp_toks",
    ref_col: str = "ref_toks",
    max_n: int = 4,
) -> DataFrame:
    """Per-document BLEU (Papineni et al., ACL 2002) between a
    hypothesis and a reference token sequence — the sequence-level
    companion to :func:`cer_summary`'s character-level CER and the
    word-level comparisons of ``compare_page_xml_texts.py:30-56``:
    where CER charges every edit, BLEU credits surviving n-gram
    structure, so reordering and dropped-word errors separate from
    substitution noise.

    Input: one row per document with two ``array<string>`` token
    columns. Output: doc_id, hyp_len, ref_len, clip1..clipN (exact
    clipped n-gram match counts, BIGINT) and ``bleu`` — geometric mean
    of the n-gram precisions with the brevity penalty, 6-dp rounded.

    Plan shape: BLEU is a per-document scalar, so the clip counts are
    computed IN-ROW by a vectorized Arrow kernel
    (:func:`_token_gram_clips`) — no gram explode, no gram shuffle, no
    clips join (the r5 formulation exploded 2·max_n·tokens (doc, n,
    gram) rows per document and shuffled the gram strings twice; the
    kernel removes every one of those exchanges and computes the same
    integer counts exactly). The only movement is one narrow
    repartition of the doc-level frame that keeps the Python stage as
    wide as the cluster (:func:`_spread_docs`).

    Exactness discipline: every count is integer-exact (packed-window
    multiset counting, no hashing); the total n-gram count per level
    is ``max(hyp_len - n + 1, 0)`` (derived, not summed, so no float
    enters until the final expression); the four log terms are rounded
    to 9 dp before a fixed-order sum (((t1+t2)+t3)+t4), the
    brevity-penalty exponent min(0, 1 - r/h) is a single IEEE
    division, and only the final exp is rounded to 6 dp — the
    identical op sequence a serial oracle performs, evaluated in the
    same Catalyst expressions as before.
    """
    ks = list(range(1, max_n + 1))
    id_type = docs.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_id {id_type}, hyp_len long, ref_len long, " + ", ".join(
        f"clip{k} long" for k in ks
    )

    def per_row(did, ht, rt):
        hn = None if ht is None else len(ht)
        rn = None if rt is None else len(rt)
        clips = _token_gram_clips(
            [] if ht is None else list(ht),
            [] if rt is None else list(rt),
            max_n,
        )
        return [(did, hn, rn, *clips)]

    joined = flat_map_in_pandas(
        _spread_docs(docs, "doc_id", hyp_col, ref_col), per_row, out_schema
    )

    hl = F.col("hyp_len").cast("double")
    logsum = None
    for k in ks:
        term = F.round(F.log(F.col(f"clip{k}").cast("double") / (hl - (k - 1))), 9)
        logsum = term if logsum is None else logsum + term
    guard = F.col("hyp_len") >= max_n
    for k in ks:
        guard = guard & (F.col(f"clip{k}") > 0)
    bleu = F.when(
        guard,
        F.round(
            F.exp(
                F.least(F.lit(0.0), F.lit(1.0) - F.col("ref_len").cast("double") / hl)
                + F.lit(1.0 / max_n) * logsum
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return joined.withColumn("bleu", bleu)


def hyp_ref_compare(hyp: DataFrame, ref: DataFrame) -> DataFrame:
    """J5: full-outer join of hypothesis and reference line sets by id,
    flagging lines missing on either side
    (compare_page_xml_texts.py:30-56 semantics)."""
    h = hyp.select("doc_id", "line_id", F.col("transcription").alias("hyp"))
    r = ref.select("doc_id", "line_id", F.col("transcription").alias("ref"))
    return h.join(r, ["doc_id", "line_id"], "full_outer").select(
        "doc_id",
        "line_id",
        F.col("hyp").isNotNull().alias("in_hyp"),
        F.col("ref").isNotNull().alias("in_ref"),
        F.when(
            F.col("hyp").isNotNull() & F.col("ref").isNotNull(),
            F.levenshtein("hyp", "ref"),
        ).alias("dist"),
    )


def corpus_chrf(
    docs: DataFrame,
    hyp_col: str = "hyp_str",
    ref_col: str = "ref_str",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """Per-document chrF (Popović, WMT 2015) between hypothesis and
    reference CHARACTER sequences — the tokenization-free companion to
    :func:`corpus_bleu`: where BLEU credits surviving word n-grams
    (and so charges a one-character OCR slip as a lost word), chrF
    scores character n-gram overlap, the standard metric for
    morphology-rich text and exactly the right grain for OCR output.

        chrP = (1/N) Σ_n  clip_n / hyp_grams_n
        chrR = (1/N) Σ_n  clip_n / ref_grams_n
        chrF = (1+β²)·chrP·chrR / (β²·chrP + chrR)      (β = 2)

    with clip_n = Σ_g min(hyp_count_g, ref_count_g) over char n-grams
    g of order n = 1..max_n; an order with no grams on a side
    contributes a 0 term (not skipped), so N is constant and the
    arithmetic is closed-form from the counts.

    Plan shape: chrF is a per-document scalar, so the clip counts are
    computed IN-ROW by the vectorized char-gram kernel
    (:func:`_char_gram_clips`) — no gram explode, no gram shuffle, no
    clips join. The r5 formulation exploded ≤ 2·max_n·chars (doc, n,
    gram) rows per document (≈12× the corpus characters) and shuffled
    the gram STRINGS through a (doc, n, gram) aggregation — the
    heaviest suite row of round 5 at 22 s isolated; the kernel removes
    every one of those exchanges and computes the same integer counts
    exactly. The only movement is one narrow repartition of the
    doc-level frame that keeps the Python stage as wide as the cluster
    (:func:`_spread_docs`).

    Exactness: counts integer-exact (packed-window multiset counting
    at Unicode-code-point grain — the same grain as both engines'
    length/substring — never hashed); gram totals DERIVED from string
    length (max(len − n + 1, 0)); each precision/recall term is one
    IEEE division rounded to 9 dp, summed in fixed order; the final
    F-ratio is one identically-parenthesized expression rounded to
    6 dp — a serial oracle reproduces it bit-for-bit, evaluated in the
    same Catalyst expressions as before.
    """
    ks = list(range(1, max_n + 1))
    id_type = docs.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_id {id_type}, hyp_len long, ref_len long, " + ", ".join(
        f"clip{k} long" for k in ks
    )

    def per_row(did, h, r):
        hn = None if h is None else len(h)
        rn = None if r is None else len(r)
        return [(did, hn, rn, *_char_gram_clips(h or "", r or "", max_n))]

    joined = flat_map_in_pandas(
        _spread_docs(docs, "doc_id", hyp_col, ref_col), per_row, out_schema
    )

    def avg_terms(len_col):
        s = None
        for k in ks:
            tot = F.greatest(F.col(len_col) - (k - 1), F.lit(0)).cast("double")
            term = F.when(
                tot > 0,
                F.round(F.col(f"clip{k}").cast("double") / tot, 9),
            ).otherwise(F.lit(0.0))
            s = term if s is None else s + term
        return s / F.lit(float(max_n))

    p = avg_terms("hyp_len")
    r = avg_terms("ref_len")
    b2 = beta * beta
    chrf = F.when(
        (F.lit(b2) * p + r) > 0,
        F.round(
            (F.lit(1.0 + b2) * p * r) / (F.lit(b2) * p + r), 6
        ),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "hyp_len",
        "ref_len",
        F.round(p, 6).alias("chrp"),
        F.round(r, 6).alias("chrr"),
        chrf.alias("chrf"),
    )
