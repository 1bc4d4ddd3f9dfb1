"""CTC recognition stages — batched decode over a sparse-logits table.

The Spark analog of the OCR/decoding chain (R2/R3/R5/R7/R8 in SURVEY
§2.6): a ``logits`` table (one row per text line, csc-encoded logit
matrix — ``ocr_engine/line_ocr_engine.py:168-171`` stores scipy csc,
we store plain arrays) flows through a ``mapInPandas`` stage that
reconstructs dense matrices and decodes them vectorized per Arrow
batch. There is NO per-row Python UDF; Spark sees only columnar
batches.

In the sandbox there are no model weights, so the logits table itself
is synthesized deterministically from span text (near-one-hot rows at
0/−80 in the style of the reference's decoder unit fixtures,
``test/test_decoding/test_decoders.py:24-31``) — decode(synth(text))
== text, which makes end-to-end OCR semantics exactly testable.

Scale notes: the logits table at 10^12 docs is the checkpoint between
inference and decoding (reference's store-then-decode path,
``decoding/decoding_itf.py:96-104``); partition by hash(doc_id).
Decode cost is proportional to total frames, so skew = long lines;
``repartitionByRange(t)`` + sortWithinPartitions before the UDF packs
similar-length lines per batch (the analog of width-sorted batch
packing, ``line_ocr_engine.py:79-91``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pero_ocr_spark.functions import kernels
from pero_ocr_spark.operators import (
    flat_map_in_pandas,
    grouped_map_in_pandas,
    shuffle_width,
)

# Fixed charset: lowercase + digits + blank (last, per
# decoders.py:31-33's "blank must be last" contract).
CHARSET = list("abcdefghijklmnopqrstuvwxyz0123456789") + [kernels.BLANK]
_CHAR_IDX = {c: i for i, c in enumerate(CHARSET[:-1])}


# ------------------------------------------------------- synth logits

def synth_line_logits(text: str) -> np.ndarray:
    """Deterministic (T, C) near-one-hot log-prob matrix whose greedy
    and beam decodes equal ``text``. Repeated chars get a blank frame
    between them; every (doc position % 2) char gets a doubled frame
    (exercises repeat collapsing)."""
    c = len(CHARSET)
    rows: list[int] = []
    prev = None
    for i, ch in enumerate(text):
        ind = _CHAR_IDX.get(ch)
        if ind is None:
            continue
        if prev == ind:
            rows.append(c - 1)  # blank separator for double letters
        rows.append(ind)
        if i % 2 == 1:
            rows.append(ind)  # continued symbol frame
        prev = ind
    if not rows:
        rows = [c - 1]
    mat = np.full((len(rows), c), -80.0)
    mat[np.arange(len(rows)), rows] = 0.0
    return mat


LOGITS_DDL = (
    "doc_id long, line_id string, t int, c int, data array<float>, "
    "indices array<int>, indptr array<int>"
)


@lru_cache(maxsize=200_000)
def _synth_sparse(text: str) -> tuple:
    """(t, c, data, indices, indptr) for one line — memoized per worker
    (line texts follow a skewed vocabulary; arrays are treated as
    read-only by the Arrow serializer)."""
    dense = synth_line_logits(text)
    data, indices, indptr = kernels.dense_to_sparse(dense)
    return (
        dense.shape[0],
        dense.shape[1],
        np.asarray(data, dtype=np.float32),
        np.asarray(indices, dtype=np.int32),
        np.asarray(indptr, dtype=np.int32),
    )


def _synth_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas generator: (doc_id, line_id, text) → sparse logits."""
    for pdf in batches:
        out = {
            "doc_id": pdf["doc_id"],
            "line_id": pdf["line_id"],
            "t": [],
            "c": [],
            "data": [],
            "indices": [],
            "indptr": [],
        }
        for text in pdf["text"]:
            t, c, data, indices, indptr = _synth_sparse(text)
            out["t"].append(t)
            out["c"].append(c)
            out["data"].append(data)
            out["indices"].append(indices)
            out["indptr"].append(indptr)
        yield pd.DataFrame(out)


def logits_from_lines(lines: DataFrame) -> DataFrame:
    """(doc_id, line_id, text) → sparse logits table (``LOGITS_DDL``)."""
    return lines.mapInPandas(_synth_batches, schema=LOGITS_DDL)


def logits_table(spark: SparkSession, sf_dir: str, max_lines: int | None = None) -> DataFrame:
    """Build the sparse logits table from extracted text spans.

    Each text span = one line; logits synthesized in a mapInPandas
    stage (vectorized per batch), csc-encoded.
    """
    from pero_ocr_spark import corpus

    spans = corpus.extracted_spans(spark, sf_dir)
    lines = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        F.concat(F.lit("l"), F.col("ord").cast("string")).alias("line_id"),
        F.col("text"),
    )
    if max_lines is not None:
        lines = lines.limit(max_lines)
    return logits_from_lines(lines)


# ----------------------------------------------------------- decode

_DECODE_SCHEMA = (
    "doc_id long, line_id string, transcription string, "
    "confidence double, score double"
)


# the non-blank symbols as ASCII codes: a batch's decoded ids become
# ONE string, which each line's text is a slice of
_SYMBOL_CODES = np.frombuffer("".join(CHARSET[:-1]).encode("ascii"), dtype=np.uint8)


def _collapse_greedy(ids: np.ndarray, frame: np.ndarray) -> tuple[np.ndarray, list]:
    """The greedy CTC collapse of padded (N, Tmax) best-path ids, with
    ``frame`` masking each line's real frames: a run of equal ids
    starts at each line's first frame and at each change of id; a
    line's text is its runs' ids over real frames, blanks dropped —
    all lines' symbols decode as ONE string that each text is a slice
    of. Pad frames only follow real ones, so they cannot merge into a
    real run. Returns (run starts, texts)."""
    start = np.ones(ids.shape, dtype=bool)
    start[:, 1:] = ids[:, 1:] != ids[:, :-1]
    emit = start & frame & (ids != len(CHARSET) - 1)
    chars = _SYMBOL_CODES[ids[emit]].tobytes().decode("ascii")
    ends = np.cumsum(emit.sum(axis=1)).tolist()
    return start, [chars[a:b] for a, b in zip([0] + ends[:-1], ends)]


def _decode_batch_greedy(pdf: pd.DataFrame) -> tuple[list, np.ndarray, np.ndarray]:
    """Vectorized greedy decode of one Arrow batch: scatter all lines'
    csc logits into a single (N, Tmax, C) padded tensor, argmax and
    normalize once, then collapse runs, drop blanks and take each
    line's worst best-run confidence on flat masks — per line only the
    text slice remains. Padding is bounded by the length-packed
    partitioning (pack_by_length keeps similar T per batch).

    Returns (texts, confidences, scores). A score's float32 sum keeps
    the summation order of a length-T sum by summing lines of equal T
    together (numpy's pairwise sum depends on the length)."""
    n = len(pdf)
    blank = len(CHARSET) - 1
    ts = pdf["t"].to_numpy().astype(np.int64)
    tmax = int(ts.max()) if n else 0
    c = int(pdf["c"].iloc[0])
    # float32 throughout: the logsumexp over (N, Tmax, C) is memory-
    # bandwidth-bound at high core counts; halving the element size
    # nearly doubles multi-core throughput. Confidence precision loss
    # (~1e-7) is far below the 1e-6 reporting granularity.
    tensor = np.full((n, tmax, c), -80.0, dtype=np.float32)
    # csc: line k's column j holds data[indptr[j]:indptr[j+1]] at the
    # frames indices[indptr[j]:indptr[j+1]]
    per_col = np.diff(np.concatenate(pdf["indptr"].to_list()).reshape(n, c + 1))
    tensor[
        np.repeat(np.arange(n), per_col.sum(axis=1)),
        np.concatenate(pdf["indices"].to_list()),
        np.repeat(np.tile(np.arange(c), n), per_col.ravel()),
    ] = np.concatenate(pdf["data"].to_list())
    # pad frames emit blank with certainty → they collapse away and
    # don't affect run confidences (prob 1 runs)
    frame = np.arange(tmax)[None, :] < ts[:, None]
    tensor[:, :, blank] = np.where(frame, tensor[:, :, blank], 0.0)
    lp = tensor - np.logaddexp.reduce(tensor, axis=2, keepdims=True)
    ids = np.argmax(lp, axis=2)
    best = np.take_along_axis(lp, ids[:, :, None], axis=2)[:, :, 0]

    start, texts = _collapse_greedy(ids, frame)
    # worst best-run probability over real frames (runs never span
    # two lines: each line's first frame starts one)
    runs = np.flatnonzero(start)
    run_max = np.maximum.reduceat(np.where(frame, np.exp(best), -1.0).ravel(), runs)
    worst = np.minimum.reduceat(
        np.where(run_max >= 0, run_max, np.inf),
        np.searchsorted(runs // tmax, np.arange(n)),
    )
    confs = np.where(np.isinf(worst), 1.0, worst.astype(np.float64))
    scores = np.empty(n)
    for t in np.unique(ts).tolist():
        k = np.flatnonzero(ts == t)
        m = best[k, :t]
        mx = m.max(axis=1)
        scores[k] = mx.astype(np.float64) + np.log(
            np.exp(m - mx[:, None]).sum(axis=1)
        ).astype(np.float64)
    return texts, confs, scores


def _decoded_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch of logits rows greedy-decoded into ``_DECODE_SCHEMA``
    columns."""
    texts, confs, scores = _decode_batch_greedy(pdf)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "line_id": pdf["line_id"],
            "transcription": texts,
            "confidence": confs,
            "score": scores,
        }
    )


def decode_greedy(logits_df: DataFrame) -> DataFrame:
    """Greedy CTC decode + worst-best-run confidence, Arrow-batched and
    batch-vectorized (R3/R7): one padded tensor per batch, no per-line
    numpy round trips."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _decoded_frame(pdf)

    return logits_df.mapInPandas(run, schema=_DECODE_SCHEMA)


# Per-worker decode memos are keyed on a sha1 DIGEST of the logits
# byte payloads (collision risk negligible), not the payloads — at the
# 100k-entry bound raw keys pinned hundreds of MB per long-lived python
# worker. dict preserves insertion order, so evicting next(iter()) is
# FIFO, bounding the memo without an all-or-nothing clear() that throws
# away the whole working set.
_BEAM_MEMO: dict[tuple, tuple] = {}
_BEAM_MEMO_MAX = 100_000


def _logits_digest(data, indices, indptr) -> bytes:
    h = hashlib.sha1()
    for a in (data, indices, indptr):
        h.update(np.asarray(a).tobytes())
    return h.digest()


def _memo_put(memo: dict, key: tuple, val: tuple) -> None:
    if len(memo) >= _BEAM_MEMO_MAX:
        memo.pop(next(iter(memo)))
    memo[key] = val


def decode_beam(
    logits_df: DataFrame,
    beam_size: int = 4,
    confidence_gate: float | None = None,
) -> DataFrame:
    """Prefix-beam-search decode with the reference's confidence-gated
    skip (``page_parser.py:96-156``): lines whose greedy confidence
    clears the gate keep the greedy transcript; only uncertain lines
    pay for beam search.

    Line contents follow a skewed vocabulary, so each distinct logits
    matrix decodes once per long-lived worker (``_BEAM_MEMO``).
    """

    def per_row(doc_id, line_id, t, c, data, indices, indptr):
        key = (
            _logits_digest(data, indices, indptr),
            int(t), int(c), beam_size, confidence_gate,
        )
        hit = _BEAM_MEMO.get(key)
        if hit is None:
            dense = kernels.sparse_to_dense(data, indices, indptr, int(t), int(c))
            conf = kernels.line_confidence(dense)
            if confidence_gate is not None and conf > confidence_gate:
                text, score = kernels.greedy_decode(dense, CHARSET)
            else:
                hyps, _ = kernels.ctc_beam_search(dense, CHARSET, beam_size=beam_size)
                text, score = hyps[0][0], hyps[0][1]
            hit = (text, conf, score)
            _memo_put(_BEAM_MEMO, key, hit)
        return [(doc_id, line_id, *hit)]

    return flat_map_in_pandas(
        logits_df.select("doc_id", "line_id", "t", "c", "data", "indices", "indptr"),
        per_row,
        _DECODE_SCHEMA,
    )


def decode_beam_lm_carry(
    logits_df: DataFrame,
    beam_size: int = 4,
    lm_scale: float = 0.2,
    lm_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Order-stateful decode: the LM hidden state of the best hypothesis
    is carried across lines within a document (the reference's
    ``carry_h_over`` path, ``document_ocr/page_parser.py:129-135`` +
    ``decoding/lm_wrapper.py:117-124``).

    ``lm_counts``: a char-bigram count table (``functions/lm.py`` —
    trained from a corpus, loaded from file); broadcast to executors
    and consumed through the same interface as the reference's RNN
    wrapper. None falls back to the uniform NGramLM stand-in.

    This is the one operator that cannot parallelize WITHIN a document:
    ``grouped_map_in_pandas`` groups by doc_id and scans lines in
    reading order inside the group. Parallelism across documents is
    unaffected (docs ≫ cores at any realistic scale).
    """
    bc = (
        logits_df.sparkSession.sparkContext.broadcast(lm_counts)
        if lm_counts is not None
        else None
    )

    lm_cache: dict[str, object] = {}

    def _lm():
        # one LM per task (per_doc runs once per GROUP; the closure
        # persists across groups within a task)
        if "lm" not in lm_cache:
            if bc is not None:
                from pero_ocr_spark.functions.lm import FileNGramLM

                lm_cache["lm"] = FileNGramLM(bc.value, CHARSET)
            else:
                lm_cache["lm"] = kernels.NGramLM(CHARSET)
        return lm_cache["lm"]

    # (logits digest, entry LM state) → (text, combined score, exit
    # state): the scan is sequential WITHIN a doc, but line contents
    # follow a skewed vocabulary and the LM state space is tiny (last
    # char index), so across a long-lived worker most (line, state)
    # pairs repeat — the beam search runs once per distinct pair.
    memo: dict[tuple, tuple] = {}

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.assign(_ord=pdf["line_id"].str.slice(1).astype(int)).sort_values(
            "_ord"
        )
        lm = _lm()
        state = lm.initial_state()
        texts, scores = [], []
        for t, c, data, indices, indptr in zip(
            pdf["t"], pdf["c"], pdf["data"], pdf["indices"], pdf["indptr"]
        ):
            key = (_logits_digest(data, indices, indptr), int(t), int(c), state)
            hit = memo.get(key)
            if hit is None:
                dense = kernels.sparse_to_dense(
                    data, indices, indptr, int(t), int(c)
                )
                hyps, new_state = kernels.ctc_beam_search(
                    dense,
                    CHARSET,
                    beam_size=beam_size,
                    lm=lm,
                    lm_scale=lm_scale,
                    init_lm_state=state,
                )
                hit = (
                    hyps[0][0],
                    hyps[0][1] + lm_scale * hyps[0][2],
                    new_state,
                )
                _memo_put(memo, key, hit)
            texts.append(hit[0])
            scores.append(hit[1])
            state = hit[2]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "line_id": pdf["line_id"],
                "transcription": texts,
                "score": scores,
            }
        )

    return grouped_map_in_pandas(
        logits_df, "doc_id", per_doc,
        schema="doc_id long, line_id string, transcription string, score double",
    )


def _ort_frame_pass(pdf: pd.DataFrame, model_bytes: bytes) -> pd.DataFrame:
    """Run every frame of one Arrow batch through the weights-backed
    ONNX net in ONE session call: densify each line's logits, stack
    all real frames into a single [sum_T, C] float32 tensor, forward
    through the cached per-worker session, split back per line and
    re-encode — the decode downstream consumes the NET's output, not
    the synth input (ref pytorch_ocr_engine.py:50-63 batch loop).
    Raises NotImplementedError naming onnxruntime when absent."""
    from pero_ocr_spark.functions import onnx_infer as OX

    ts = pdf["t"].to_numpy()
    c = int(pdf["c"].iloc[0])
    frames = np.concatenate(
        [
            kernels.sparse_to_dense(d, i, p, int(t), c)
            for t, d, i, p in zip(
                ts, pdf["data"], pdf["indices"], pdf["indptr"]
            )
        ]
    ).astype(np.float32)
    y = OX.session_forward(model_bytes, frames)
    splits = np.cumsum(ts)[:-1]
    out = {
        "doc_id": pdf["doc_id"],
        "line_id": pdf["line_id"],
        "t": pdf["t"],
        "c": pdf["c"],
        "data": [],
        "indices": [],
        "indptr": [],
    }
    for dense in np.split(y.astype(np.float64), splits):
        data, indices, indptr = kernels.dense_to_sparse(dense)
        out["data"].append(np.asarray(data, dtype=np.float32))
        out["indices"].append(np.asarray(indices, dtype=np.int32))
        out["indptr"].append(np.asarray(indptr, dtype=np.int32))
    return pd.DataFrame(out)


def recognize_lines(lines: DataFrame, backend: str = "synth") -> DataFrame:
    """Fused recognition fast path: synthesize logits AND greedy-decode
    inside ONE mapInPandas stage — no logits checkpoint, no shuffle of
    sparse-array columns (the store-then-decode path keeps those for
    resumability; this is the single-pass mode, reference analog: OCR
    without logits export, ``parse_folder.py`` default).

    Input: (doc_id, line_id, text). Lines are range-packed by text
    length BEFORE the python stage (length(text) is the frame-count
    proxy), so each Arrow batch holds similar-T lines — minimal padding
    in the batched decoder, only small string rows cross the wire.

    ``backend="onnx"`` routes every frame batch through the
    weights-backed ONNX passthrough net (one cached session per
    worker, one run per Arrow batch) before decoding — the full
    weights-backed dataflow of the reference's OCR stage, gated on
    onnxruntime (NotImplementedError naming it when absent). The
    passthrough weights make the output provably equal to
    ``backend="synth"``, which is the end-to-end oracle
    (tests/test_onnx_infer.py).
    """
    if backend not in ("synth", "onnx"):
        raise ValueError(f"unknown backend {backend!r}")
    packed = lines.repartitionByRange(
        shuffle_width(lines.sparkSession), F.length("text"), "doc_id", "line_id"
    ).sortWithinPartitions(F.length("text"))
    model_bytes = None
    if backend == "onnx":
        from pero_ocr_spark.functions import onnx_infer as OX

        model_bytes = OX.ctc_passthrough_model_bytes(len(CHARSET))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _synth_batches(batches):
            if len(pdf) == 0:
                continue
            if model_bytes is not None:
                pdf = _ort_frame_pass(pdf, model_bytes)
            yield _decoded_frame(pdf)

    return packed.mapInPandas(run, schema=_DECODE_SCHEMA)


def _greedy_texts_batch(
    denses: list[np.ndarray], slice_size: int = 2048
) -> list[str]:
    """Greedy-decode a list of dense logit matrices as padded tensors —
    texts only (no confidences; argmax is softmax-invariant, so no
    normalization either). Processes ``slice_size`` matrices per
    tensor to bound padding memory. Pad frames are masked out of the
    collapse (``_collapse_greedy``), so the blank column needs no
    touching."""
    texts: list[str] = []
    for s in range(0, len(denses), slice_size):
        chunk = denses[s : s + slice_size]
        ts = np.array([d.shape[0] for d in chunk])
        tmax = int(ts.max())
        c = chunk[0].shape[1]
        tensor = np.full((len(chunk), tmax, c), -80.0, dtype=np.float32)
        for k, d in enumerate(chunk):
            tensor[k, : d.shape[0]] = d
        ids = np.argmax(tensor, axis=2)
        texts += _collapse_greedy(ids, np.arange(tmax)[None, :] < ts[:, None])[1]
    return texts


def decode_chunked(
    lines: DataFrame, max_chars: int = 16, overlap: int | None = None
) -> DataFrame:
    """R4: transformer-style chunked decoding — long lines are split
    into overlapping windows, each window is recognized independently
    (bounding the autoregressive context length), and the chunk
    transcriptions are stitched by best-CER overlap
    (``line_ocr_engine.py:95-117,180-211`` semantics).

    One Arrow stage: chunking, batched synthesis+decode, and the merge
    all happen per batch — rows never multiply outside the UDF. The
    input is hash-repartitioned first so a single-row-group source
    (KB-sized sandbox parquet) doesn't serialize the stage.

    All chunks of a batch decode through ONE padded tensor
    (``_greedy_texts_batch``, sliced to bound padding memory) instead
    of a per-chunk kernel loop — the same batch-vectorization as
    ``_decode_batch_greedy``.

    Skew handling: decode cost ∝ text length, so the input is packed
    into partitions of ~equal cumulative length with
    ``lineage.repartition_weighted`` (bucketed cumsum + exact salt
    routing) — a heavy-tailed document can't straggle the stage. The
    measured cost/payoff of this choice (≈ +0.6-1.0 s at sf0.1
    uniform; ~21% faster with a 2048x skew doc, with a bounded — not
    linear-in-max-doc — straggler) is quantified in SCALE.md §2,
    "The cost and payoff of weighted repartitioning".
    """
    from pero_ocr_spark.operators.lineage import repartition_weighted

    # ~50k chars of decode work per pack; packs round-robin onto the
    # shuffle width, so any partition's load is within one pack of even
    lines = repartition_weighted(
        lines.withColumn("_w", F.length("text")),
        "_w",
        target_weight=50_000.0,
        key="doc_id",
    ).drop("_w")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            denses: list[np.ndarray] = []
            counts: list[int] = []
            for text in pdf["text"]:
                spans = kernels.chunk_sequence(len(text), max_chars, overlap)
                counts.append(len(spans))
                denses.extend(synth_line_logits(text[a:b]) for a, b in spans)
            texts = _greedy_texts_batch(denses)
            merged, pos = [], 0
            for nch in counts:
                merged.append(
                    kernels.merge_chunk_transcriptions(texts[pos : pos + nch])
                )
                pos += nch
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "line_id": pdf["line_id"],
                    "transcription": merged,
                    "n_chunks": counts,
                }
            )

    return lines.mapInPandas(
        run,
        schema="doc_id long, line_id string, transcription string, n_chunks int",
    )


def pack_by_length(logits_df: DataFrame) -> DataFrame:
    """Range-partition + sort lines by frame count so each Arrow batch
    holds similar-length lines — the table-scale analog of the
    reference's width-sorted pixel-budget batch packing
    (``line_ocr_engine.py:54-55,79-91``), which is its skew handling.

    The range keys include (doc_id, line_id) after ``t``: frame count
    alone can be LOW-CARDINALITY (short-word corpora have ~15 distinct
    values), and range partitioning on it collapses nearly all rows
    into a few partitions — measured as a 1.1x N→4N speedup instead of
    ~4x. The high-cardinality tiebreaks spread rows evenly while still
    clustering similar lengths per partition."""
    return logits_df.repartitionByRange(
        shuffle_width(logits_df.sparkSession), "t", "doc_id", "line_id"
    ).sortWithinPartitions("t")

