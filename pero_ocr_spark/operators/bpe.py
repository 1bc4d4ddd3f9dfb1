"""Distributed BPE tokenizer training + application.

Byte-pair-encoding merge learning re-expressed for Spark: the corpus is
scanned ONCE into a word-frequency table (vocabulary-sized — the classic
BPE trick: every later iteration is weighted by ``freq`` and never
rescans the corpus), each merge iteration is one vocabulary-sized
aggregation (pair → summed frequency, map-side combinable) plus a
one-row argmax collect, and merge application is a literal ``replace``
over the encoded word — pure Catalyst end to end, no UDFs.

Encoding trick: a word's symbol sequence is materialized as
``<s1><s2>...<sk>``. Angle-bracket framing makes the literal
``replace('<a><b>' → '<ab>')`` EXACTLY BPE's left-to-right
non-overlapping merge application: a symbol match can never straddle a
symbol boundary (``<a>`` cannot occur inside ``<xa>`` — the char before
``a`` there is ``x``, not ``<``), and both Spark's and ANSI ``replace``
substitute occurrences left-to-right without overlap, which is the
reference BPE semantics for self-overlapping pairs (``aaa`` under merge
``(a,a)`` → ``(aa, a)``).

Scale shape: the driver holds one ``(pair, count)`` row per iteration —
the broadcast-codebook pattern (cf. k-means in operators/similarity.py).
The loop-invariant base vocabulary (word, freq, initial encoding) is
persisted; per-iteration shuffles carry (pair, partial-count) pairs
only, bounded by the symbol-vocabulary squared, not the corpus. At
10^12 docs the word table is millions of rows — the one corpus-wide
shuffle is the initial word count, map-side combined.

Reference analog: none in pero-ocr (the OCR engine consumes a fixed
character vocabulary); this is the training-data-pipeline tier
(tokenizer learning over the extracted corpus), per the north rule's
"operations a large-scale training-data pipeline would need".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pero_ocr_spark.operators import materialize

MERGES_SCHEMA = (
    "merge_rank INT, left_sym STRING, right_sym STRING, "
    "merged STRING, pair_count BIGINT"
)


def _symbols(enc: Column) -> Column:
    """``'<a><bc><d>'`` → ``['a', 'bc', 'd']``."""
    return F.split(F.regexp_replace(enc, "^<|>$", ""), "><")


def _encode(word: Column) -> Column:
    """``'abc'`` → ``'<a><b><c>'`` (initial one-symbol-per-char form)."""
    return F.concat(
        F.lit("<"), F.concat_ws("><", F.split(word, "")), F.lit(">")
    )


def word_vocabulary(docs: DataFrame) -> DataFrame:
    """(word, freq, enc) — the corpus reduced to its word-frequency
    table with the initial character-level encoding. The ONLY
    corpus-wide aggregation in BPE training."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("enc", _encode(F.col("word")))
    )


def train_bpe(
    docs: DataFrame, n_merges: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges; returns ``(merges, vocab)``.

    ``merges``: (merge_rank, left_sym, right_sym, merged, pair_count),
    one row per learned merge in training order. Ties on pair count
    break on the lexicographically smallest ``left|right`` pair string,
    so training is fully deterministic. ``vocab``: (word, freq, enc)
    with ``enc`` reflecting all learned merges — the tokenizer's
    application table (broadcastable: vocabulary-sized).
    """
    spark = docs.sparkSession
    # loop-invariant base table materialized; the per-iteration
    # encodings are a (cheap) literal-replace chain layered on top of it
    vocab = materialize(word_vocabulary(docs))
    rows: list[tuple] = []
    for rank in range(1, n_merges + 1):
        syms = _symbols(F.col("enc"))
        cur = vocab.select("freq", syms.alias("syms"))
        pairs = cur.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.concat(a, F.lit("|"), b),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .first()
        )
        if best is None:  # every word fused to one symbol
            break
        left, right = best["pair"].split("|", 1)
        rows.append((rank, left, right, left + right, int(best["cnt"])))
        vocab = vocab.withColumn(
            "enc",
            F.replace(
                F.col("enc"),
                F.lit(f"<{left}><{right}>"),
                F.lit(f"<{left}{right}>"),
            ),
        )
    merges = spark.createDataFrame(rows, MERGES_SCHEMA)
    return merges, vocab


def subword_counts(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Tokenize the corpus with a trained vocabulary: per-doc word and
    subword counts. The trained word→encoding table BROADCASTS onto the
    exploded word stream (vocabulary-sized — never a corpus shuffle);
    the per-doc re-aggregation is the only exchange, map-side combined.
    """
    wv = vocab.select(
        "word", F.size(_symbols(F.col("enc"))).alias("word_subwords")
    )
    stream = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        stream.join(F.broadcast(wv), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_subwords").cast("long").alias("n_subwords"),
        )
    )
