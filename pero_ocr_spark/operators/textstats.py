"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions over the ``documents`` table (no UDFs):
token statistics, heuristic language ID, structural quality scoring,
and document fingerprinting with the engine's portable polynomial hash
(reproducible in ANSI SQL for oracle checks; at scale you'd swap in
xxhash64 — the plumbing is identical).

Scale notes: everything here is a narrow map over the scan plus one
optional groupBy — no joins, no explode except the shingle fingerprint
(bounded ×~n_words). Filters/projections push into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import materialize, poly_hash

# function-word list for the n-gram/stopword language heuristic
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _words(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counts: whitespace tokens, a BPE-style
    pre-tokenizer count (maximal letter runs / digit runs — the
    GPT-2-family pre-tokenization classes for this corpus's alphabet),
    a chars/4 subword-count ceiling, char count, mean token length.
    All pure Catalyst (regexp_count runs in codegen)."""
    w = _words()
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).cast("long").alias(
            "n_pretokens"
        ),
        F.ceil(F.length("text") / 4).cast("long").alias("n_subwords_est"),
        F.round(
            F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.size(w),
            6,
        ).alias("mean_token_len"),
    )


def language_id(docs: DataFrame, threshold: float = 0.04) -> DataFrame:
    """Heuristic language ID: share of English function words among
    tokens. (The real engine would use char-n-gram profiles per
    language — same shape: vectorized expression over tokens.)"""
    w = _words()
    ratio = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS))) / F.size(w)
    return docs.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("en_stopword_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("other")).alias(
            "lang_pred"
        ),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Structural quality: lexical diversity (distinct/total tokens),
    mean token length band, length band — combined 0..1 score.
    The analog of page-quality estimation (core/layout.py:778-847),
    re-based on text statistics instead of OCR confidences."""
    w = _words()
    n = F.size(w)
    diversity = F.size(F.array_distinct(w)) / n
    mean_len = F.aggregate(
        w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    ) / n
    len_band = F.when((n >= 50) & (n <= 5000), 1.0).otherwise(0.5)
    word_band = F.when((mean_len >= 3.0) & (mean_len <= 10.0), 1.0).otherwise(0.5)
    score = F.round((diversity + len_band + word_band) / 3.0, 6)
    return docs.select(
        "doc_id",
        F.round(diversity, 6).alias("lexical_diversity"),
        F.round(mean_len, 6).alias("mean_token_len"),
        score.alias("quality"),
    )


def fingerprints(docs: DataFrame, n: int = 3) -> DataFrame:
    """Document fingerprints: full-text polynomial hash plus the min
    word-n-gram hash (a 1-perm minhash — robust to local edits).
    Split hoisted into a projection (see :func:`char_bigrams` — an
    inlined split re-evaluates per transform element, O(n²)/row)."""
    from pero_ocr_spark.operators import word_gram_array

    d = docs.select(
        "doc_id", "text", _words().alias("ws")
    ).filter(F.size("ws") >= n)
    gram_hashes = F.transform(word_gram_array(F.col("ws"), n), poly_hash)
    return d.select(
        "doc_id",
        poly_hash(F.col("text")).alias("fp_text"),
        F.array_min(gram_hashes).alias("fp_min_shingle"),
    )


# count of the most frequent word 2-gram, as a run-length scan over the
# SORTED in-row gram array — a (prev, run, best) accumulator; expects the
# words array aliased `ws`
_TOP2_BEST_SQL = """
aggregate(
  sort_array(zip_with(slice(ws, 1, size(ws) - 1),
                      slice(ws, 2, size(ws) - 1),
                      (a, b) -> concat(a, ' ', b))),
  named_struct('prev', '', 'run', CAST(0 AS BIGINT),
               'best', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'prev', x,
    'run', IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
    'best', GREATEST(acc.best,
                     IF(x = acc.prev, acc.run + 1,
                        CAST(1 AS BIGINT)))),
  acc -> acc.best)
"""


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    duplicate-word fraction and the share of the most frequent word
    2-gram. Entirely within-row Catalyst — the 2-gram mode is computed
    by a run-length scan over the SORTED gram array (aggregate with a
    (prev, run, best) accumulator), so the operator is a narrow map
    with ZERO shuffles at any corpus size."""
    best = F.expr(_TOP2_BEST_SQL)
    return docs.select("doc_id", _words().alias("ws")).select(
        "doc_id",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("ws")) / F.size("ws"), 6
        ).alias("dup_word_frac"),
        F.when(
            F.size("ws") >= 2, F.round(best / (F.size("ws") - 1), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("top_2gram_frac"),
    )


def corpus_filter(
    docs: DataFrame,
    min_en_ratio: float = 0.04,
    min_quality: float = 0.6,
    max_dup_word_frac: float = 0.6,
    max_top_2gram_frac: float = 0.3,
) -> DataFrame:
    """Composite C4/Gopher-style keep/drop verdict per document: exact
    dedup (canonical = min doc_id per identical text), language gate,
    structural quality gate, and both repetition gates — with the FIRST
    failing rule as the drop reason.

    Scale shape: every feature is computed in ONE narrow select over
    the scan (the same expressions as language_id / quality_score /
    repetition_stats — no joins between feature passes); the only
    shuffle is the dedup-canonical window keyed on the text hash."""
    from pyspark.sql import Window

    w = _words()
    d = docs.select("doc_id", "text", w.alias("ws"))
    n = F.size("ws")
    en_ratio = (
        F.size(F.filter(F.col("ws"), lambda x: x.isin(*EN_STOPWORDS))) / n
    )
    diversity = F.size(F.array_distinct("ws")) / n
    mean_len = (
        F.aggregate(
            F.col("ws"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        / n
    )
    len_band = F.when((n >= 50) & (n <= 5000), 1.0).otherwise(0.5)
    word_band = F.when((mean_len >= 3.0) & (mean_len <= 10.0), 1.0).otherwise(0.5)
    quality = (diversity + len_band + word_band) / 3.0
    dup_frac = F.lit(1.0) - diversity
    top2 = F.when(n >= 2, F.expr(_TOP2_BEST_SQL) / (n - 1)).otherwise(F.lit(0.0))
    rn = F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
    feat = d.select(
        "doc_id",
        en_ratio.alias("_en"),
        quality.alias("_q"),
        dup_frac.alias("_dup"),
        top2.alias("_top2"),
        rn.alias("_rn"),
    )
    reason = (
        F.when(F.col("_rn") > 1, "exact_duplicate")
        .when(F.col("_en") < min_en_ratio, "language")
        .when(F.col("_q") < min_quality, "quality")
        .when(F.col("_dup") > max_dup_word_frac, "repetition_words")
        .when(F.col("_top2") > max_top_2gram_frac, "repetition_2gram")
        .otherwise("ok")
    )
    return feat.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )


def redact_pii(docs: DataFrame, col: str = "text") -> DataFrame:
    """PII scrubbing: mask email-shaped tokens and long digit runs
    (the standard pre-training redaction pass). Java and RE2 agree on
    these patterns (no lookaround, no backrefs), so the op is
    oracle-checkable; regexp_replace runs in whole-stage codegen —
    a narrow map, zero shuffles."""
    emails = F.regexp_replace(
        F.col(col), "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"
    )
    return docs.withColumn(
        col, F.regexp_replace(emails, "[0-9]{6,}", "<NUM>")
    )


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: word frequencies with a deterministic top-k
    (count desc, word asc). The 100 TB shape: explode → partial
    count (map-side combine) → one k-row ordered result; the global
    sort touches only the aggregated vocabulary, never the corpus."""
    return (
        docs.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(k)
    )


# ------------------------------------------------------- LM-based filtering

def char_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, bigram) — one row per character position (not
    distinct: the LM needs multiplicities). Docs shorter than two
    characters carry no bigram and drop out.

    The split is HOISTED into its own projection and the bigrams come
    from ``zip_with`` over two slices — ``element_at(chars, i)`` in a
    ``transform`` lambda re-inlines the split expression per element
    (O(n²) per row: measured 42 s to build 1.5 M bigrams at sf0.1,
    0.5 s this way). ``explode_outer`` avoids the implicit size>0
    pushdown re-evaluating the array expression; the length filter
    guarantees non-empty arrays so no null row can appear."""
    d = docs.filter(F.length("text") >= 2).select(
        "doc_id", F.split(F.col("text"), "").alias("cs")
    )
    n = F.size(F.col("cs"))
    grams = F.zip_with(
        F.slice(F.col("cs"), 1, n - 1),
        F.slice(F.col("cs"), 2, n - 1),
        lambda a, b: F.concat(a, b),
    )
    return d.select("doc_id", F.explode_outer(grams).alias("bigram"))


def lm_perplexity_scores(
    docs: DataFrame, keep_threshold: float = -4.3
) -> DataFrame:
    """Per-doc mean log-probability under a Laplace-smoothed character
    bigram LM trained on the corpus itself, plus a ``keep`` flag —
    the CCNet/Gopher-style "perplexity filter" that drops documents
    the corpus LM finds implausible (here self-trained; in production
    the count tables come from a trusted reference corpus and are just
    a parquet broadcast instead of the two tiny aggs).

    score(d) = mean_i ln( (c2(x_i x_{i+1}) + 1) / (c1(x_i) + V) )

    where c2/c1 are corpus bigram/context counts and V the corpus
    character-vocabulary size. Plan shape: one pass builds the bigram
    stream (narrow explode), two tiny aggregations produce c2 (≤ V²
    rows) and V; both BROADCAST back onto the stream, so the only
    corpus-wide shuffle is the final doc_id hash agg (map-side
    combinable). Complements functions/lm.py's driver-side bigram
    table (used by the CTC decoder) with a fully-relational variant
    that never collects counts to the driver.
    """
    g = char_bigrams(docs)
    c2 = g.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy(F.substring("bigram", 1, 1).alias("ctx")).agg(
        F.sum("n2").alias("n1")
    )
    v = docs.select(
        F.explode(F.split(F.col("text"), "")).alias("c")
    ).agg(F.countDistinct("c").alias("vsize"))
    scored = (
        g.join(F.broadcast(c2), "bigram")
        .join(
            F.broadcast(c1),
            F.substring("bigram", 1, 1) == F.col("ctx"),
        )
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(
                    F.log(
                        (F.col("n2") + F.lit(1.0))
                        / (F.col("n1") + F.col("vsize"))
                    )
                ),
                6,
            ).alias("avg_logprob")
        )
    )
    return scored.withColumn(
        "keep", F.col("avg_logprob") >= keep_threshold
    )


N_HASH_BUCKETS = 4096


def _bucket_weight(word: Column) -> Column:
    """Deterministic per-word weight in [-0.5, 0.5): the word's poly
    hash folded into a bucket, the bucket Knuth-multiplied into a
    pseudo-random rational. Stands in for trained coefficients (absent
    from the container); portable integer arithmetic end to end."""
    bucket = F.pmod(poly_hash(word), F.lit(N_HASH_BUCKETS))
    return (
        F.pmod(bucket * 2_654_435_761, F.lit(9_973)).cast("double") / 9_973.0
        - 0.5
    )


def quality_classifier_scores(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """fastText-style linear document-quality classifier: words hash
    into ``N_HASH_BUCKETS`` buckets, the doc logit is the mean bucket
    weight and the score its (scaled) sigmoid — the model-based
    quality filter tier above the heuristic `quality_score`.

    The weights here are synthesized deterministically from the bucket
    id (no trained model ships in this container); swapping in real
    coefficients is a broadcast map lookup with the identical plan.

    Scale shape: ZERO shuffles — the whole classifier is one in-row
    ``aggregate`` over the split words array (hash → weight → sum),
    evaluated interpreted like every higher-order function; nothing
    explodes, nothing joins. A
    10^12-doc scoring pass is a pure narrow map over the scan."""
    words = _words()
    logit = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, w: acc + _bucket_weight(w),
    ) / F.size(words)
    score = F.round(1.0 / (1.0 + F.exp(-4.0 * logit)), 6)
    return docs.select(
        "doc_id",
        score.alias("quality_prob"),
        (score >= threshold).alias("keep"),
    )


def chunk_documents(
    docs: DataFrame, max_tokens: int = 64, overlap: int = 8
) -> DataFrame:
    """Context-window chunking for long documents: overlapping
    word-boundary windows of ``max_tokens`` tokens advancing by
    ``max_tokens - overlap`` — every token is covered, consecutive
    chunks share ``overlap`` tokens, the final chunk may be short.

    Scale shape: the chunk list is built IN-ROW (one ``transform``
    over the split words array, evaluated interpreted) and exploded — a
    narrow ~(n/stride)× row amplification with no shuffle anywhere;
    column pruning keeps only (doc_id, text) in the scan.
    ``explode_outer`` + filter rather than plain ``explode``, so
    Catalyst does not re-evaluate the chunk expression below the
    stage boundary (the implicit size>0 pushdown rewrites the plan).
    """
    stride = max_tokens - overlap
    if stride <= 0:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than max_tokens "
            f"({max_tokens}); stride would be {stride} and every "
            "document would silently produce zero chunks"
        )
    # hoist the split into a projection: referenced inline from the
    # transform lambda below, the split(...) BUILDER would re-evaluate
    # once per chunk id (the lambda re-inlining trap)
    docs = docs.select("doc_id", F.split(F.col("text"), " ").alias("_ws"))
    words = F.col("_ws")
    n = F.size(words)
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((n - F.lit(max_tokens)).cast("double") / stride).cast("int"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(words, i * stride + 1, max_tokens), " "
            ).alias("chunk_text"),
            F.size(F.slice(words, i * stride + 1, max_tokens))
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    return (
        docs.select("doc_id", F.explode_outer(chunks).alias("c"))
        .filter(F.col("c").isNotNull())
        .select("doc_id", "c.chunk_id", "c.n_tokens", "c.chunk_text")
    )


def dedup_paragraphs(docs: DataFrame, para_words: int = 10) -> DataFrame:
    """Intra-document paragraph self-dedup (the within-doc half of
    exact-substring dedup à la "Deduplicating Training Data Makes
    Language Models Better"): segment each doc into fixed
    ``para_words``-word paragraphs, keep only the FIRST occurrence of
    each distinct paragraph, and reassemble the text in order.

    Scale shape: entirely IN-ROW — segmentation, first-occurrence
    filter (``array_position`` inside a ``filter`` lambda over a
    HOISTED paras column; an inline array expr would re-evaluate the
    builder per element, the O(n²)-per-row trap), and the rejoin are
    all codegen expressions; zero shuffles, zero Python. Per-row cost
    is O(paras²) with paras ≈ n_words/10 — fine up to ~10^4-word docs;
    beyond that a per-row hash-set kernel would take over.
    """
    words = F.split(F.col("text"), " ")
    step = docs.select("doc_id", words.alias("ws"))
    n = F.size(F.col("ws"))
    n_par = F.greatest(
        F.lit(1),
        F.ceil(n.cast("double") / para_words).cast("int"),
    )
    paras = F.transform(
        F.sequence(F.lit(0), n_par - 1),
        lambda i: F.array_join(
            F.slice(F.col("ws"), i * para_words + 1, para_words), " "
        ),
    )
    step = step.select("doc_id", paras.alias("paras"))  # hoist!
    kept = F.filter(
        F.col("paras"),
        lambda p, i: F.array_position(F.col("paras"), p) == (i + F.lit(1)).cast("long"),
    )
    return step.select(
        "doc_id",
        F.size("paras").cast("long").alias("n_paras"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("deduped_text"),
    )


def tfidf_keywords(docs: DataFrame, top_k: int = 5) -> DataFrame:
    """Per-document top-``top_k`` keywords by TF-IDF.

    Classic corpus-relative term salience: tf = in-doc term count,
    idf = ln((N + 1) / (df + 1)) with df = documents containing the
    term. The term stream is one explode of the tokenized corpus;
    tf aggregates map-side on (doc_id, term); df aggregates the
    (doc_id, term)-distinct stream on term alone, yielding a
    vocabulary-sized table that broadcasts back. Ranking is a window
    over (doc_id) on the scored frame — ties broken lexically so the
    result is a pure function of the corpus.
    """
    terms = docs.select(
        "doc_id", F.explode_outer(_words()).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(F.count_distinct("doc_id").alias("n"))
    df_t = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    scored = tf.join(F.broadcast(df_t), "term").select(
        "doc_id",
        "term",
        "tf",
        F.col("df").cast("long").alias("df"),
        F.round(
            F.col("tf") * F.log((F.col("n") + 1) / (F.col("df") + 1)), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    docs: DataFrame, query_terms: list[str], top_k: int = 50
) -> DataFrame:
    """Top-``top_k`` documents for a bag-of-words query under BM25.

    Okapi BM25 with the standard (k1, b) defaults and the
    non-negative idf variant idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    The per-term frequency stream is filtered to the query terms
    BEFORE any shuffle — the corpus-sized explode collapses to
    ~|query| rows per matching doc at the scan, so the aggregation
    and the final top-k sort touch only candidate documents. Document
    lengths ride the same tokenization pass; the corpus-wide avgdl is
    a one-row broadcast.

    Ranking sorts on the ROUNDED score (6 dp) with doc_id tiebreak,
    making the cut deterministic and engine-portable.
    """
    q = [t for t in query_terms if t]
    ws = _words()
    toks = docs.select(
        "doc_id", ws.alias("ws")
    ).select(
        "doc_id",
        F.size("ws").cast("double").alias("dl"),
        F.explode_outer(F.col("ws")).alias("term"),
    )
    hits = toks.filter(F.col("term").isin(q))
    tf = hits.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.first("dl").alias("dl"),
    )
    stats = docs.select(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.size(ws)).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (BM25_K1 + 1) / denom
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(top_k)
        .select("doc_id", "n_terms_hit", "score")
    )


def char_entropy(docs: DataFrame, threshold: float = 3.0) -> DataFrame:
    """Per-doc character-level Shannon entropy (bits/char) with a keep
    flag — the information-density quality signal (a cheap stand-in
    for the compression-ratio filters in Gopher/RefinedWeb: machine-
    generated or template junk is low-entropy, natural text sits
    around 4 bits/char for English).

    Computed IN-ROW with zero shuffles: the char array is sorted and a
    single ``aggregate`` fold walks its runs — a (prev, run, acc)
    accumulator whose finish step closes the last run. O(n log n) per
    row: a native ``sort_array`` of the chars, then the fold, which like
    every higher-order function runs interpreted (``CodegenFallback``),
    outside whole-stage codegen; a 10^12-doc scoring pass is a pure
    narrow map over the scan."""
    d = docs.select(
        "doc_id", F.sort_array(F.split(F.col("text"), "")).alias("cs")
    )
    n = F.size("cs").cast("double")
    term = lambda run: F.when(  # noqa: E731 — local closure, not a def
        run > 0, (run / n) * F.log2(run / n)
    ).otherwise(F.lit(0.0))
    ent = F.aggregate(
        F.col("cs"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0.0).alias("run"),
            F.lit(0.0).alias("acc"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1.0)).alias(
                "run"
            ),
            F.when(x == a["prev"], a["acc"])
            .otherwise(a["acc"] + term(a["run"]))
            .alias("acc"),
        ),
        lambda a: -(a["acc"] + term(a["run"])),
    )
    scored = d.select(
        "doc_id",
        F.round(F.when(F.size("cs") == 0, F.lit(0.0)).otherwise(ent), 6).alias(
            "char_entropy"
        ),
    )
    return scored.withColumn("keep", F.col("char_entropy") >= threshold)


def zipf_fit(docs: DataFrame, n: int = 3, top: int = 500) -> DataFrame:
    """Zipf-law fit of the corpus n-gram frequency distribution —
    least-squares slope/intercept of ln(freq) on ln(rank) over the top
    ranked grams. The healthy-corpus slope is ≈ -1; template/boilerplate
    corpora flatten it, spam inflates the tail — a standard one-row
    corpus diagnostic.

    Float-parity technique (the reason this regression can have a
    DuckDB oracle at all): each regression term (x, y, xy, xx) is
    rounded to 10 dp and cast to DECIMAL(38,12), so the distributed
    SUM is EXACT and order-independent — a plain double sum over 500
    log terms differs in final ulps between Spark's partial-aggregate
    tree and a sequential oracle. The closed form then runs on the
    decimal sums cast back to double (same few IEEE ops both sides).

    Scale shape: gram counting is the one corpus shuffle (map-side
    combine); ranking sorts the VOCABULARY only (the unpartitioned
    row_number window is over ≤ |vocab| rows, never the corpus); the
    regression is a single tiny aggregate.
    """
    from pero_ocr_spark.operators import spread_scan, word_gram_array
    from pyspark.sql import Window

    d = (
        spread_scan(docs)
        .select(F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= n)
    )
    grams = word_gram_array(F.col("ws"), n)
    counts = (
        d.select(F.explode(grams).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c"))
    )
    ranked = counts.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.col("c").desc(), F.col("g"))
        ),
    ).filter(F.col("r") <= top)
    xr = F.round(F.log(F.col("r").cast("double")), 10)
    yr = F.round(F.log(F.col("c").cast("double")), 10)
    pts = ranked.select(
        xr.cast("decimal(38,12)").alias("x"),
        yr.cast("decimal(38,12)").alias("y"),
        F.round(xr * yr, 10).cast("decimal(38,12)").alias("xy"),
        F.round(xr * xr, 10).cast("decimal(38,12)").alias("xx"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    nn = F.col("n")
    slope = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nn * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        nn.cast("long").alias("n_grams"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nn, 6).alias(
            "intercept"
        ),
    )


def corpus_drift(
    docs: DataFrame, snapshot: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Distribution-drift diagnostics between the current corpus and a
    previous snapshot: KL(current‖snapshot), Jensen-Shannon
    divergence, and total-variation distance over the ``group_col``
    composition — the standing monitor a continuous-crawl pipeline
    alarms on (a source suddenly flooding or vanishing moves all
    three; JS and TV stay bounded when a group disappears entirely).

    Distributions use add-one smoothing over the UNION of groups
    (p_i = (n_i + 1) / (N + G)), so KL is finite even for groups
    present on only one side. Each per-group term is 10dp-rounded and
    summed as DECIMAL(38,12) — the same float-parity technique as
    :func:`zipf_fit` — so the distributed sums are exact and
    order-independent.

    Scale shape: each side contributes ONE map-side-combinable count
    aggregate; everything downstream runs on ≤ |groups| rows (the
    full-outer join, the term arithmetic, the one-row final agg). The
    corpus is never shuffled.
    """
    cn = docs.groupBy(group_col).agg(F.count("*").alias("n_cur"))
    sn = snapshot.groupBy(group_col).agg(F.count("*").alias("n_snap"))
    j = materialize(
        cn.join(sn, group_col, "full_outer")
        .select(
            group_col,
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            F.coalesce("n_snap", F.lit(0)).alias("n_snap"),
        )
    )  # tiny; stops both count aggs re-running per consumer
    tot = j.agg(
        F.sum("n_cur").alias("nc"),
        F.sum("n_snap").alias("ns"),
        F.count("*").alias("g"),
    )
    t = j.crossJoin(F.broadcast(tot))
    p = (F.col("n_cur") + 1) / (F.col("nc") + F.col("g"))
    q = (F.col("n_snap") + 1) / (F.col("ns") + F.col("g"))
    m = (p + q) / 2
    dec = lambda c: F.round(c, 10).cast("decimal(38,12)")  # noqa: E731
    terms = t.select(
        dec(p * F.log(p / q)).alias("kl_t"),
        dec(p * F.log(p / m) / 2 + q * F.log(q / m) / 2).alias("js_t"),
        dec(F.abs(p - q) / 2).alias("tv_t"),
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.round(F.sum("kl_t").cast("double"), 6).alias("kl_div"),
        F.round(F.sum("js_t").cast("double"), 6).alias("js_div"),
        F.round(F.sum("tv_t").cast("double"), 6).alias("tv_dist"),
    )


def ngram_novelty(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-document n-gram novelty against crawl order: the fraction of
    a document's distinct word n-grams whose FIRST corpus occurrence is
    this document (first = min doc_id; doc_id is the crawl sequence).
    Low-novelty documents are near-copies, quote farms, or template
    spam — the complement of the dedup family's pairwise view, usable
    as a per-doc score without materializing pairs.

    Plan shape: one shuffle on the gram key (window ``min(doc_id)``
    over the gram partition — no gram↔doc join is ever built) and one
    map-side-combinable agg back on doc_id. At 10^12 docs the gram
    table is the big exchange; it is the same exchange every
    shingle-keyed dedup stage already pays, and nothing broadcasts.
    """
    from pero_ocr_spark.operators.dedup import shingles

    sh = shingles(docs, n)
    first = F.min("doc_id").over(Window.partitionBy("shingle"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        sh.withColumn("first_doc", first)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel) / F.count("*"), 6).alias("novelty"),
        )
    )


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail quality buckets: per LANGUAGE,
    documents are ranked by perplexity under the self-trained character
    bigram LM (``lm_perplexity_scores``) and split into exact terciles
    — head = most fluent third. CCNet publishes exactly this artifact
    (per-language perplexity buckets from a KenLM reference model);
    the bucket label then drives sampling weights downstream.

    Exactness over approximation: ``ntile(3)`` with a fully
    deterministic ordering (score, doc_id) — not ``percentile_approx``
    thresholds — so the oracle reproduces the split bit-for-bit. Plan
    shape: the LM scoring's one corpus shuffle, then ONE sort-shuffle
    partitioned by language (bounded partitions: languages are few;
    per-language skew is absorbed by the range sort within ntile). At
    10^12 docs a production variant would ntile within (lang, shard)
    and merge rank boundaries; the per-language exact sort is the
    correctness baseline.
    """
    scored = lm_perplexity_scores(docs).select("doc_id", "avg_logprob")
    langs = docs.select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    tile = F.ntile(3).over(w)
    return (
        scored.join(langs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tile
            ).alias("bucket"),
        )
    )


def word_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent word pair, with
    multiplicity (LM counts need it). Same zip_with-over-slices shape
    as :func:`char_bigrams` (the element_at-in-transform O(n²) trap is
    documented there)."""
    d = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    n = F.size(F.col("ws"))
    grams = F.zip_with(
        F.slice(F.col("ws"), 1, n - 1),
        F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return d.select("doc_id", F.explode_outer(grams).alias("g")).select(
        "doc_id", "g.w1", "g.w2"
    )


def kneser_ney_perplexity(
    docs: DataFrame, discount: float = 0.75, keep_threshold: float = 30.0
) -> DataFrame:
    """Per-doc perplexity under an interpolated Kneser-Ney word-bigram
    LM trained on the corpus itself — the standard smoothing upgrade
    over :func:`lm_perplexity_scores`'s add-one model (Kneser & Ney
    1995; Chen & Goodman 1999 empirical study):

        P(w2|w1) = max(c(w1 w2) − d, 0)/c(w1·)
                   + d · N1+(w1 ·)/c(w1·) · N1+(· w2)/N1+(· ·)

    The continuation probability N1+(· w2)/N1+(· ·) scores a word by
    how many CONTEXTS it follows, not how often it occurs — the fix
    for high-frequency-but-context-bound words that add-one smoothing
    overrates.

    Plan shape: one narrow bigram explode; the pair-count table joins
    the stream on (w1, w2) — a key hash join, never broadcast (pair
    vocab can be large); the two unigram-level tables (context counts
    + forward continuation fan-out, backward continuation counts) are
    vocabulary-sized and BROADCAST; the pair-total is a 1-row
    crossJoin. Final agg is one map-side-combinable doc_id shuffle.
    Float parity: per-bigram log2 terms are rounded to 9 dp and summed
    as DECIMAL so the distributed addition order cannot flip an ulp
    (the zipf_fit technique); everything upstream is exact integer
    counts flowing through an identically-parenthesized double
    expression on both engines.
    """
    g = word_bigrams(docs)
    # the pair table feeds FOUR consumers (stream join + three derived
    # aggregates); without materialization each one re-runs the corpus
    # bigram explode + groupBy (measured: 10 scans, 0 reused
    # exchanges). Materializing pins it after the first job — it is
    # the realized pair vocabulary, far smaller than the corpus.
    pair = materialize(
        g.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    )
    ctx = pair.groupBy("w1").agg(
        F.sum("n12").alias("c1"),
        F.count(F.lit(1)).alias("n1_fwd"),  # N1+(w1 ·)
    )
    cont = pair.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bwd"))  # N1+(· w2)
    npairs = pair.agg(F.count(F.lit(1)).alias("npairs"))  # N1+(· ·)
    p = (
        F.greatest(F.col("n12") - F.lit(discount), F.lit(0.0)) / F.col("c1")
        + F.lit(discount)
        * F.col("n1_fwd")
        / F.col("c1")
        * F.col("n1_bwd")
        / F.col("npairs")
    )
    scored = (
        g.join(pair, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(npairs))
        .select(
            "doc_id",
            F.round(F.log2(p), 9).cast("decimal(24,9)").alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.pow(
                    F.lit(2.0),
                    -(F.sum("lp").cast("double") / F.count(F.lit(1))),
                ),
                6,
            ).alias("ppl"),
        )
    )
    return scored.withColumn("keep", F.col("ppl") <= keep_threshold)


def pmi_collocations(
    docs: DataFrame, min_count: int = 5, min_pmi: float = 3.0
) -> DataFrame:
    """Adjacent-word collocations by pointwise mutual information
    (Church & Hanks 1990): PMI(w1,w2) = log2 p(w1,w2)/(p(w1)·p(w2)),
    bigram probability over the corpus bigram total, unigram
    probabilities over the corpus token total. High-PMI pairs are
    multiword units ("los angeles"), the standard collocation /
    phrase-mining signal; ``min_count`` guards the small-count PMI
    blowup (a hapax pair maxes PMI by construction).

    Scale shape: one narrow bigram explode + one token explode, each
    reduced by a map-side-combinable count agg; everything after runs
    on the vocabulary (pair joins the two unigram tables BROADCAST,
    totals are 1-row crossJoins). The log ratio is one identically-
    parenthesized expression on exact integer counts — cross-engine
    equal after the final 6 dp round.
    """
    g = word_bigrams(docs)
    pair = g.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uni = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    n_pairs = pair.agg(F.sum("n12").alias("n_bigrams"))
    n_toks = uni.agg(F.sum("nw").alias("n_tokens"))
    pmi = F.round(
        F.log2(
            (F.col("n12") / F.col("n_bigrams"))
            / (
                (F.col("n1") / F.col("n_tokens"))
                * (F.col("n2") / F.col("n_tokens"))
            )
        ),
        6,
    )
    return (
        pair.filter(F.col("n12") >= min_count)
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("nw").alias("n1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("nw").alias("n2"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_toks))
        .select(
            "w1",
            "w2",
            F.col("n12").cast("long").alias("n_pair"),
            pmi.alias("pmi"),
        )
        .filter(F.col("pmi") >= min_pmi)
    )


def heaps_fit(docs: DataFrame) -> DataFrame:
    """Heaps'-law fit of vocabulary growth — least-squares of
    ln(vocab) on ln(tokens) across the corpus's SOURCES, one
    (n_tokens, n_distinct_words) point per source:

        V(N) ≈ K · N^β      (β ≈ 0.4-0.6 for natural text)

    The companion diagnostic to :func:`zipf_fit`: a template-heavy
    source flattens β toward 0 (vocabulary saturates), OCR noise or
    spam inflates it toward 1 (every page mints "new" words). Sources
    double as the growth ladder because they differ in size; at 10^12
    docs you'd bucket by crawl snapshot for more points — same plan.

    Scale shape: ONE (source, word) distinct + count aggregation pair
    over the corpus (both map-side combinable); the regression runs on
    the |sources| frame with zipf_fit's exact-decimal term sums, so
    the distributed addition order is ulp-exact vs the oracle.
    """
    words = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    per_src = words.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_vocab"),
    )
    xr = F.round(F.log(F.col("n_tokens").cast("double")), 10)
    yr = F.round(F.log(F.col("n_vocab").cast("double")), 10)
    pts = per_src.select(
        xr.cast("decimal(38,12)").alias("x"),
        yr.cast("decimal(38,12)").alias("y"),
        F.round(xr * yr, 10).cast("decimal(38,12)").alias("xy"),
        F.round(xr * xr, 10).cast("decimal(38,12)").alias("xx"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    nn = F.col("n")
    beta = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nn * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        nn.cast("long").alias("n_sources"),
        F.round(beta, 6).alias("beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / nn), 6
        ).alias("k"),
    )


def word_trigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, w3) — one row per adjacent word triple, with
    multiplicity. Two chained ``zip_with`` over slices (the in-row
    O(n) shape :func:`word_bigrams` uses; the element_at-in-transform
    O(n²) trap is documented at :func:`char_bigrams`)."""
    d = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws")).filter(
        F.size("ws") >= 3
    )
    n = F.size(F.col("ws"))
    g12 = F.zip_with(
        F.slice(F.col("ws"), 1, n - 2),
        F.slice(F.col("ws"), 2, n - 2),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    g = F.zip_with(
        g12,
        F.slice(F.col("ws"), 3, n - 2),
        lambda p, c: F.struct(
            p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
        ),
    )
    return d.select("doc_id", F.explode_outer(g).alias("g")).select(
        "doc_id", "g.w1", "g.w2", "g.w3"
    )


def stupid_backoff_scores(docs: DataFrame, alpha: float = 0.4) -> DataFrame:
    """Per-doc trigram LM score under *stupid backoff* (Brants et al.,
    EMNLP 2007 "Large Language Models in Machine Translation") — the
    count-based scheme built FOR distributed training at web scale:
    no discount mass to renormalize, so every model table is a plain
    count aggregation and scoring is pure joins:

        S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2)            if trigram seen
                    = α · c(w2 w3)/c(w2)              elif bigram seen
                    = α² · (c(w3)+1)/(N+V)            else

    (Brants' S is a score, not a probability — hence "stupid"; the
    unigram floor here is add-one so an out-of-vocabulary word scores
    finitely and deterministically instead of −inf.) The model trains
    on the even-doc_id half and scores the odd half, so all three
    backoff branches actually fire on held-out text.

    Completes the LM-filter family: add-one char bigram
    (:func:`lm_perplexity_scores`, CCNet shape) → interpolated
    Kneser-Ney (:func:`kneser_ney_perplexity`, quality smoothing) →
    stupid backoff (THIS — the variant that scales to 10^12 tokens
    because the M-step is a count).

    Scale shape: the trigram count table is corpus-vocabulary sized
    and hash-joins the held-out trigram stream on its natural key
    (never broadcast); the bigram table is materialized once
    (``materialize``) and feeds BOTH the context join (w1,w2) and the
    backoff join (w2,w3); the unigram table and the 1-row totals
    broadcast. Float parity with the serial oracle: exact integer
    counts flow through one identically-parenthesized double CASE,
    per-term log10 rounded to 9 dp and summed as DECIMAL (the KN
    technique), so distributed addition order cannot flip an ulp.
    """
    train = docs.filter(F.col("doc_id") % 2 == 0)
    held = docs.filter(F.col("doc_id") % 2 == 1)
    uni = materialize(
        train.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    totals = uni.agg(
        F.sum("n1").alias("n_tokens"), F.count(F.lit(1)).alias("vsize")
    )
    big = materialize(
        word_bigrams(train)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    tri = word_trigrams(train).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("n3")
    )
    stream = word_trigrams(held)
    a = F.lit(float(alpha))
    score = (
        F.when(F.col("n3").isNotNull(), F.col("n3") / F.col("n2_ctx"))
        .when(
            F.col("n2_back").isNotNull(), a * F.col("n2_back") / F.col("c_w2")
        )
        .otherwise(
            a * a * (F.coalesce(F.col("c_w3"), F.lit(0)) + F.lit(1))
            / (F.col("n_tokens") + F.col("vsize"))
        )
    )
    terms = (
        stream.join(tri, ["w1", "w2", "w3"], "left")
        .join(
            big.select("w1", "w2", F.col("n2").alias("n2_ctx")),
            ["w1", "w2"],
            "left",
        )
        .join(
            big.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("n2").alias("n2_back"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            F.broadcast(
                uni.select(F.col("w").alias("w2"), F.col("n1").alias("c_w2"))
            ),
            "w2",
            "left",
        )
        .join(
            F.broadcast(
                uni.select(F.col("w").alias("w3"), F.col("n1").alias("c_w3"))
            ),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(F.log10(score), 9).cast("decimal(24,9)").alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_log10_score"),
    )


def nb_quality_classifier(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes text classifier, trained and applied in
    one distributed pass — the trainable tier of the quality-filter
    stack (heuristic gate → hashed linear scorer → THIS: a classifier
    whose weights come from the corpus itself, the CCNet/fastText
    bootstrap where a cheap model learns to imitate an expensive gate
    and generalizes it).

    ``labels`` is (doc_id, label boolean). Even doc_ids train; odd
    doc_ids are scored held-out. Training IS aggregation: one
    map-side-combinable (token) count pass yields per-class token
    counts; Laplace-1 smoothing; class scalars (token totals, vocab
    size, doc priors) are a bounded collect (5 numbers). Scoring
    explodes held-out docs to tokens, joins the vocab LLR table (hash
    join on token — broadcastable while the vocab is, never required
    to be), and sums per doc: ONE doc_id shuffle. Tokens unseen in
    training hit the smoothing floor of both classes via the left
    join's coalesce(0).

    Cross-engine exactness: each token's log-likelihood ratio is
    quantized to 6 dp AT THE TERM and summed as DECIMAL(28,6) with the
    6-dp prior — the score IS the exact decimal sum, no second
    rounding. A coarser per-term grain than the engine's usual 9 dp is
    deliberate: JVM ``Math.log`` and libm may disagree by an ulp, and
    a 9-dp term round flipped on this corpus (then landed a doc sum on
    a 6-dp half boundary). At 6 dp the flip margin is 1000× wider —
    measured ≥ 1.5e-9 absolute distance from every half boundary over
    all distinct (cp, cn) term inputs at sf0.001/0.01/0.1, vs ~1e-15
    transcendental disagreement.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    lab_tr = labels.filter(F.col("doc_id") % 2 == 0)
    tr = tok.join(lab_tr, "doc_id")
    # the vocab count table feeds TWO consumers (the class-scalar
    # collect here and the scoring join below) — pin it so the corpus
    # token explode + label join materializes once
    cnt = materialize(
        tr.groupBy("t").agg(
            F.sum(F.col("label").cast("long")).alias("cp"),
            F.sum((~F.col("label")).cast("long")).alias("cn"),
        )
    )
    np_, nn_, v_ = cnt.agg(
        F.sum("cp"), F.sum("cn"), F.count(F.lit(1))
    ).first()
    dp, dn = lab_tr.agg(
        F.sum(F.col("label").cast("long")),
        F.sum((~F.col("label")).cast("long")),
    ).first()
    if not (dp and dn):
        raise ValueError(
            "nb_quality_classifier needs both classes in the training "
            f"half (got {dp} positive / {dn} negative docs)"
        )
    import math

    prior = round(math.log(dp / dn), 6)
    llr = F.round(
        F.log((F.coalesce(F.col("cp"), F.lit(0)) + 1.0) / F.lit(float(np_ + v_)))
        - F.log(
            (F.coalesce(F.col("cn"), F.lit(0)) + 1.0) / F.lit(float(nn_ + v_))
        ),
        6,
    ).cast("decimal(28,6)")
    ho = tok.filter(F.col("doc_id") % 2 == 1)
    scored = (
        ho.join(cnt, "t", "left")
        .select("doc_id", llr.alias("lp"))
        .groupBy("doc_id")
        .agg(
            # the score IS the exact decimal sum — no final rounding
            # step, so there is no second boundary to disagree on
            (F.sum("lp") + F.lit(prior).cast("decimal(28,6)"))
            .cast("double")
            .alias("nb_score")
        )
    )
    out = scored.join(labels, "doc_id")
    return out.select(
        "doc_id",
        "nb_score",
        (F.col("nb_score") > 0).alias("predicted"),
        "label",
        ((F.col("nb_score") > 0) == F.col("label")).alias("correct"),
    )


MOJIBAKE_MARKERS = ("Ã", "Â", "â", "Ð", "Ñ")  # UTF-8 lead bytes read as latin-1


def fix_mojibake(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repair UTF-8-read-as-latin-1 mojibake ('naÃ¯ve' → 'naïve') —
    the single most common encoding corruption in web corpora (ftfy's
    headline case): a page served as UTF-8 but transcoded by a
    latin-1-assuming hop arrives with every multi-byte char smeared
    into 2-3 latin-1 chars.

    ENTIRELY inside Catalyst: detection is a marker scan (the latin-1
    images of UTF-8 lead bytes — 'Ã', 'Â', 'â', 'Ð', 'Ñ'), and a
    repair is ACCEPTED only when the whole string matches the
    UTF-8-read-as-latin-1 SHAPE (one regex: every char ≥ U+0080 sits
    in a correctly-formed lead/continuation sequence, overlongs and
    surrogates excluded, and no char exceeds U+00FF). That proof
    matters twice over: Spark 4's ``encode``/``decode`` THROW
    [MALFORMED_CHARACTER_CODING] on unmappable or invalid input — so
    legitimate French 'château' (real 'â' followed by ASCII: invalid
    as UTF-8 bytes) or a doc mixing mojibake with a raw '€'
    (> U+00FF: unencodable in latin-1) would otherwise KILL the job,
    not just mangle the row. The regex gate guarantees the inverse
    transcode ``decode(encode(s, latin-1), utf-8)`` is total and
    bijective on accepted rows (each char ≤ U+00FF is exactly its
    latin-1 byte), so accepted repairs are provably lossless and
    everything else passes through byte-identical.
    Fix-what-you-can-PROVE — the ftfy contract with a proof
    obligation. Zero Python, zero shuffle — a 100 TB fix pass is one
    narrow codegen map.

    Emits (all original columns, ``text_fixed``, ``was_mojibake``).
    """
    col = F.col(text_col)
    detected = F.lit(False)
    for m in MOJIBAKE_MARKERS:
        detected = detected | col.contains(m)
    # chars-as-bytes UTF-8 validity: the string decodes as latin-1 ->
    # valid UTF-8 iff it matches this shape (RFC 3629 table)
    utf8_shape = (
        "^(?:[\\x00-\\x7F]"
        "|[\\xC2-\\xDF][\\x80-\\xBF]"
        "|\\xE0[\\xA0-\\xBF][\\x80-\\xBF]"
        "|[\\xE1-\\xEC][\\x80-\\xBF]{2}"
        "|\\xED[\\x80-\\x9F][\\x80-\\xBF]"
        "|[\\xEE-\\xEF][\\x80-\\xBF]{2}"
        "|\\xF0[\\x90-\\xBF][\\x80-\\xBF]{2}"
        "|[\\xF1-\\xF3][\\x80-\\xBF]{3}"
        "|\\xF4[\\x80-\\x8F][\\x80-\\xBF]{3})*$"
    )
    accept = detected & col.rlike(utf8_shape)
    repaired = F.decode(F.encode(col, "ISO-8859-1"), "UTF-8")
    return docs.select(
        "*",
        F.when(accept, repaired).otherwise(col).alias("text_fixed"),
        accept.alias("was_mojibake"),
    )


def textrank_summary(
    docs: DataFrame, sent_words: int = 12, damping: float = 0.85,
    iters: int = 2,
) -> DataFrame:
    """Extractive summarization by TextRank (Mihalcea & Tarau 2004)
    computed ENTIRELY IN-ROW: the per-document sentence graph (12-word
    chunks as sentences, edge weight = distinct shared words), its
    degree normalization, and ``iters`` damped power-iteration steps
    are all higher-order-function expressions over one row — a graph
    algorithm with ZERO shuffles at any corpus size, because the graph
    never leaves the document (contrast `web_pagerank`, whose graph IS
    corpus-sized and must iterate shuffles).

    Cross-engine exactness: no transcendentals — the rank arithmetic
    is add/mul/div folded in ascending-index order on both engines
    (Spark ``aggregate``, DuckDB ``list_reduce`` with a prepended
    zero), so the doubles are bit-identical by construction; scores
    round to 6 dp only at the output. Ties argmax to the lowest
    sentence index via first-occurrence ``array_position``.

    Every intermediate (sents, matrix, degrees, ranks) is hoisted into
    a bound projection column — an INLINE array builder referenced
    from a nested lambda re-evaluates per element (the documented
    O(n²)-per-row re-inlining trap; here it would be O(m⁴)).

    Emits (doc_id, n_sents, top_ord, top_score, summary).
    """
    k = sent_words
    s0 = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).select(
        "doc_id", "ws",
        (F.floor((F.size("ws") - 1) / k) + 1).cast("int").alias("m"),
    )
    idx = F.sequence(F.lit(1), F.col("m"))
    s1 = s0.select(
        "doc_id", "ws", "m",
        F.transform(
            idx,
            lambda i: F.array_distinct(F.slice("ws", (i - 1) * k + 1, k)),
        ).alias("sents"),
    )
    s2 = s1.select(
        "doc_id", "ws", "m",
        F.transform(
            idx,
            lambda i: F.transform(
                idx,
                lambda j: F.when(i == j, F.lit(0.0)).otherwise(
                    F.size(
                        F.array_intersect(
                            F.element_at("sents", i), F.element_at("sents", j)
                        )
                    ).cast("double")
                ),
            ),
        ).alias("w"),
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    s3 = s2.select(
        "doc_id", "ws", "m", "w",
        F.transform(idx, lambda j: fold(F.element_at("w", j))).alias("deg"),
    )
    m = F.col("m")
    rank = s3.select(
        "doc_id", "ws", "m", "w", "deg",
        F.transform(idx, lambda _: F.lit(1.0) / m).alias("r"),
    )
    for _ in range(iters):
        step = F.transform(
            idx,
            lambda i: F.lit(1 - damping) / m
            + F.lit(damping)
            * fold(
                F.transform(
                    idx,
                    lambda j: F.when(
                        F.element_at("deg", j) > 0,
                        (
                            F.element_at(F.element_at("w", j), i)
                            / F.element_at("deg", j)
                        )
                        * F.element_at("r", j),
                    ).otherwise(F.lit(0.0)),
                )
            ),
        )
        rank = rank.select(
            "doc_id", "ws", "m", "w", "deg", step.alias("r")
        )
    final = rank.select(
        "doc_id", "ws", "m",
        F.transform("r", lambda x: F.round(x, 6)).alias("r"),
    ).select(
        "doc_id", "ws", "m", "r",
        F.array_position("r", F.array_max("r")).cast("int").alias("pos"),
    )
    return final.select(
        "doc_id",
        F.col("m").alias("n_sents"),
        (F.col("pos") - 1).alias("top_ord"),
        F.element_at("r", F.col("pos")).alias("top_score"),
        F.array_join(
            F.slice("ws", (F.col("pos") - 1) * k + 1, k), " "
        ).alias("summary"),
    )


def readability_scores(docs: DataFrame, sent_words: int = 12) -> DataFrame:
    """Flesch Reading Ease over the engine's 12-word pseudo-sentence
    model (the corpus carries no punctuation; the chunk grain matches
    the TextRank/HTML sentence model): syllables per word by the
    classic vowel-group heuristic (``[aeiouy]+`` runs, min 1 per
    word), then 206.835 − 1.015·(W/S) − 84.6·(syl/W). The education-
    level signal real quality filters bin on.

    Pure Catalyst: one narrow map (regexp_count in codegen), zero
    shuffles. Counts are integers, the two divisions and the final
    round are the only float ops — identically parenthesized in the
    SQL oracle, so the 6-dp score is exact cross-engine.
    """
    w = _words()
    n = F.size(w)
    syl = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda a, x: a + F.greatest(F.regexp_count(x, F.lit("[aeiouy]+")), F.lit(1)),
    )
    n_sent = F.ceil(n / F.lit(sent_words)).cast("long")
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n / n_sent)
        - F.lit(84.6) * (syl / n),
        6,
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
        flesch.alias("flesch"),
    )
