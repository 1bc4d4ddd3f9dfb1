"""Sampling / mixing / packing / corpus-statistics tier queries.

Split out of the monolithic queries.py (round 5); the package
__init__ imports tier modules in dependency order, so registration
order is deterministic and the registry machinery lives in _base.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract
from pero_ocr_spark.queries._base import (  # noqa: F401
    QueryFn, _EXTRACTED_CTE, _REGISTRY, _scratch, _t, register,
)
from pero_ocr_spark.queries._ctes import _DUCK_POLY, _KN_ORACLE, _SHINGLE_CTE, _bpe_oracle_ctes, _h48_sql  # noqa: F401


@register(
    "sample_stratified",
    """
SELECT doc_id, source,
       CAST(10 + (CAST(substr(source, 4) AS BIGINT) * 7) % 80 AS BIGINT)
         AS keep_quota
FROM documents
WHERE (doc_id * 69069 + 12345) % 2147483647 % 100
      < 10 + (CAST(substr(source, 4) AS BIGINT) * 7) % 80
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import sampling

    return sampling.sample_stratified(_t(spark, sf_dir, "documents"))


@register(
    "training_pack_sequences",
    """
WITH d AS (
  SELECT doc_id, doc_id % 32 AS bucket,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents),
c AS (
  SELECT *, sum(n_tokens) OVER (
    PARTITION BY bucket ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d),
p AS (SELECT *, (cum - n_tokens) // 512 AS pack FROM c)
SELECT doc_id,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(pack * 32 + bucket AS BIGINT) AS seq_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(row_number() OVER (
         PARTITION BY bucket, pack ORDER BY doc_id) - 1 AS BIGINT) AS seq_pos
FROM p
""",
)
def q_training_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import sampling

    return sampling.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=512, n_buckets=32
    )


@register(
    "corpus_filter_pipeline",
    """
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
f AS (
  SELECT doc_id, text, len(ws) AS n,
         len(list_filter(ws, x -> x IN
             ('the','a','of','and','to','in','is'))) * 1.0 / len(ws) AS en_ratio,
         len(list_distinct(ws)) * 1.0 / len(ws) AS diversity,
         list_sum(list_transform(ws, x -> length(x))) * 1.0 / len(ws) AS mean_len
  FROM d),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1])) AS gram
  FROM d WHERE len(ws) >= 2),
top AS (
  SELECT doc_id, max(c) AS best FROM (
    SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY 1),
feat AS (
  SELECT f.doc_id,
         f.en_ratio,
         (f.diversity
          + (CASE WHEN f.n BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.5 END)
          + (CASE WHEN f.mean_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
         ) / 3.0 AS quality,
         1.0 - f.diversity AS dup_frac,
         CASE WHEN f.n >= 2 THEN coalesce(t.best, 0) * 1.0 / (f.n - 1)
              ELSE 0.0 END AS top2,
         row_number() OVER (PARTITION BY f.text ORDER BY f.doc_id) AS rn
  FROM f LEFT JOIN top t USING (doc_id))
SELECT doc_id,
       CASE WHEN rn > 1 THEN 'exact_duplicate'
            WHEN en_ratio < 0.04 THEN 'language'
            WHEN quality < 0.6 THEN 'quality'
            WHEN dup_frac > 0.6 THEN 'repetition_words'
            WHEN top2 > 0.3 THEN 'repetition_2gram'
            ELSE 'ok' END AS reason,
       (rn = 1 AND en_ratio >= 0.04 AND quality >= 0.6
        AND dup_frac <= 0.6 AND top2 <= 0.3) AS keep
FROM feat
""",
)
def q_corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import textstats

    return textstats.corpus_filter(_t(spark, sf_dir, "documents"))


@register(
    "sample_temperature",
    """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
t AS (SELECT sum(pow(n, 0.5)) AS wtot, sum(n) AS ntot FROM c),
q AS (
  SELECT source,
         CAST(floor(10000 * least(1.0,
              0.3 * t.ntot * (pow(c.n, 0.5) / t.wtot) / c.n)) AS BIGINT)
           AS keep_threshold
  FROM c CROSS JOIN t)
SELECT d.doc_id, d.source, q.keep_threshold
FROM documents d JOIN q USING (source)
WHERE (d.doc_id * 69069 + 12345) % 2147483647 % 10000 < q.keep_threshold
""",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # alpha=0.5 tempering: small sources keep a larger share than their
    # corpus proportion, large sources a smaller one — total ~30%
    from pero_ocr_spark.operators import sampling

    return sampling.sample_temperature(_t(spark, sf_dir, "documents"))


@register(
    "corpus_shard_shuffle",
    """
SELECT doc_id,
       CAST((doc_id*69069 + 12345) % 2147483647 % 64 AS INT) AS shard,
       CAST(row_number() OVER (
              PARTITION BY (doc_id*69069 + 12345) % 2147483647 % 64
              ORDER BY (doc_id*48271 + 11) % 2147483647, doc_id) - 1
            AS BIGINT) AS pos
FROM documents
""",
)
def q_corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # training-data global shuffle without a total order: one hash
    # shuffle on shard, per-shard local rank over an independent LCG key
    from pero_ocr_spark.operators import sampling

    return sampling.shard_shuffle(_t(spark, sf_dir, "documents"), n_shards=64)


_HEAPS_ORACLE = """
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS wd FROM documents),
per AS (
  SELECT source, count(*) AS n_tokens, count(DISTINCT wd) AS n_vocab
  FROM w GROUP BY source),
pts AS (
  SELECT CAST(round(ln(n_tokens), 10) AS DECIMAL(38,12)) AS x,
         CAST(round(ln(n_vocab), 10) AS DECIMAL(38,12)) AS y,
         CAST(round(round(ln(n_tokens), 10) * round(ln(n_vocab), 10), 10)
              AS DECIMAL(38,12)) AS xy,
         CAST(round(round(ln(n_tokens), 10) * round(ln(n_tokens), 10), 10)
              AS DECIMAL(38,12)) AS xx
  FROM per),
s AS (
  SELECT count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(xy) AS DOUBLE) AS sxy,
         CAST(sum(xx) AS DOUBLE) AS sxx
  FROM pts)
SELECT CAST(n AS BIGINT) AS n_sources,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
       round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n), 6) AS k
FROM s
"""


@register("corpus_heaps_fit", _HEAPS_ORACLE)
def q_corpus_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Heaps'-law vocabulary-growth fit across sources (V ~ K·N^beta):
    # the zipf_fit companion — template-heavy sources flatten beta,
    # noise inflates it. One map-side-combinable (source, word)
    # aggregation pair; the regression runs on the |sources| frame
    # with exact-decimal term sums.
    from pero_ocr_spark.operators import textstats

    return textstats.heaps_fit(_t(spark, sf_dir, "documents"))


_DOREMI_ORACLE = (
    "WITH kn AS (" + _KN_ORACLE + """),
dl AS (
  SELECT d.source, CAST(round(log2(kn.ppl), 6) AS DECIMAL(18,6)) AS loss
  FROM kn JOIN documents d ON d.doc_id = kn.doc_id),
per AS (
  SELECT source, count(*) AS n_docs,
         round(CAST(sum(loss) AS DOUBLE) / count(*), 6) AS mean_loss
  FROM dl GROUP BY source),
b AS (SELECT min(mean_loss) AS best FROM per),
s AS (
  SELECT source, n_docs, mean_loss,
         round(mean_loss - b.best, 6) AS excess,
         CAST(round(exp(0.1 * (mean_loss - b.best)), 9) AS DECIMAL(20,9))
           AS e
  FROM per, b),
z AS (SELECT sum(e) AS z FROM s)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, mean_loss, excess,
       round(CAST(e AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS weight
FROM s, z
"""
)


@register("sample_doremi_mixture", _DOREMI_ORACLE)
def q_sample_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DoReMi-style domain reweighting (Xie et al. 2023, one honest EG
    # step without a trainable proxy): per-source mean Kneser-Ney
    # log2-perplexity, excess over the best source, exp(eta*excess)
    # normalized. One corpus aggregation; everything downstream runs
    # on the |sources| frame with DECIMAL sums for cross-engine
    # float parity.
    from pero_ocr_spark.operators import sampling, textstats

    docs = _t(spark, sf_dir, "documents")
    losses = (
        textstats.kneser_ney_perplexity(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.round(F.log2("ppl"), 6).alias("loss"))
    )
    return sampling.doremi_mixture(losses, eta=0.1)


@register(
    "training_render_interleaved",
    f"""
{_EXTRACTED_CTE}
SELECT doc_id,
       string_agg(CASE WHEN kind = 'media' THEN '<|image|>' ELSE text END,
                  ' ' ORDER BY ord) AS train_text,
       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_text_spans,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_media_spans
FROM extracted
GROUP BY doc_id
""",
)
def q_training_render_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    # serialization step between extraction and the tokenizer: text
    # spans verbatim, media spans as a sentinel, reading order kept;
    # reuses the documents' doc_id exchange (zero extra shuffles)
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract

    spans = corpus.extracted_spans(spark, sf_dir)
    return extract.render_training_text(spans)


@register(
    "training_chunk_documents",
    """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (
  SELECT doc_id, ws,
         CAST(unnest(generate_series(0,
              greatest(0, CAST(ceil((len(ws) - 64)*1.0/56) AS BIGINT))))
           AS BIGINT) AS chunk_id
  FROM w)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(ws, chunk_id*56+1, chunk_id*56+64)) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(ws, chunk_id*56+1, chunk_id*56+64), ' ')
         AS chunk_text
FROM c
""",
)
def q_training_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # context-window chunking: 64-token windows, 8-token overlap,
    # built in-row and exploded — no shuffle anywhere in the plan
    from pero_ocr_spark.operators import textstats

    return textstats.chunk_documents(
        _t(spark, sf_dir, "documents"), max_tokens=64, overlap=8
    )


@register(
    "corpus_train_val_split",
    """
SELECT doc_id, source,
       CASE WHEN (doc_id*69069 + 12345) % 2147483647 % 100 < 10 THEN 'test'
            WHEN (doc_id*69069 + 12345) % 2147483647 % 100 < 20 THEN 'val'
            ELSE 'train' END AS split
FROM documents
""",
)
def q_corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frozen eval splits: hash-residue assignment is stable under
    # corpus growth and stratifies by construction — a narrow CASE
    from pero_ocr_spark.operators import sampling

    return sampling.train_val_test_split(
        _t(spark, sf_dir, "documents"), val_pct=10, test_pct=10
    )


@register(
    "corpus_rollup_stats",
    """
SELECT coalesce(source, 'ALL') AS source,
       coalesce(lang, 'ALL') AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
FROM documents
GROUP BY ROLLUP (source, lang)
""",
)
def q_corpus_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus reporting cube: per-(source, lang) doc/char/token totals
    # with ROLLUP subtotals and grand total in ONE pass — Catalyst
    # expands grouping sets map-side, so the shuffle still carries
    # partial aggregates only (no per-level rescan)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", "lang", "n_chars",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
        .rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            "n_docs", "sum_chars", "sum_tokens",
        )
    )


@register(
    "sample_dsir_importance",
    f"""
WITH w AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
  FROM documents),
b AS (
  SELECT doc_id, source,
         {_DUCK_POLY.format(col="word")} % 64 AS b
  FROM w WHERE word <> ''),
t AS (SELECT b, CAST(count(*) AS DOUBLE) AS ct FROM b
      WHERE source = 'src0' GROUP BY 1),
r AS (SELECT b, CAST(count(*) AS DOUBLE) AS cr FROM b GROUP BY 1),
tt AS (SELECT sum(ct) AS tt FROM t),
tr AS (SELECT sum(cr) AS tr FROM r),
s AS (
  SELECT doc_id,
         round(avg(ln((coalesce(ct, 0) + 1) / (tt + 64))
                   - ln((cr + 1) / (tr + 64))), 6) AS avg_logratio
  FROM b LEFT JOIN t USING (b) JOIN r USING (b)
  CROSS JOIN tt CROSS JOIN tr
  GROUP BY 1)
SELECT doc_id, avg_logratio, avg_logratio > 0 AS keep FROM s
""",
)
def q_sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance resampling: hashed-unigram target/raw
    # log-likelihood ratio; distributions are two <=64-row broadcast
    # aggs, the only corpus shuffle is the per-doc mean
    from pero_ocr_spark.operators import sampling

    return sampling.sample_dsir(_t(spark, sf_dir, "documents"))


@register(
    "training_bpe_subword_counts",
    _bpe_oracle_ctes(4)
    + """,
wd AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
wsub AS (
  SELECT word,
         len(string_split(regexp_replace(enc, '^<|>$', '', 'g'),
             '><')) AS nsub
  FROM e4)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(nsub) AS BIGINT) AS n_subwords
FROM wd JOIN wsub USING (word) WHERE word <> '' GROUP BY 1
""",
)
def q_training_bpe_subword_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # tokenizer application: the trained word→encoding table broadcasts
    # onto the exploded word stream; per-doc re-agg is the only
    # exchange (map-side combined)
    from pero_ocr_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    _merges, vocab = bpe.train_bpe(docs, 4)
    return bpe.subword_counts(docs, vocab)


@register(
    "sample_epoch_mixing",
    """
WITH d AS (
  SELECT doc_id, source, CAST(substr(source, 4) AS BIGINT) AS sid,
         (doc_id * 69069 + 12345) % 2147483647 % 1000 AS res
  FROM documents),
w AS (SELECT *, 0.25 + (sid * 7 % 10) / 4.0 AS wt FROM d),
c AS (SELECT doc_id, source,
             CAST(floor(wt) + CASE WHEN res < (wt - floor(wt)) * 1000
                                   THEN 1 ELSE 0 END AS INT) AS n_copies
      FROM w)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, n_copies)) AS INT) AS epoch,
       n_copies
FROM c WHERE n_copies > 0
""",
)
def q_sample_epoch_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # epoch-weighted training mixture: per-source repetition factors
    # (fractional part = deterministic LCG-residue keep), zero-shuffle
    # in-row replication via a bounded explode
    from pero_ocr_spark.operators import sampling

    return sampling.sample_epoch_mixing(_t(spark, sf_dir, "documents"))


@register(
    "sample_weighted_aes",
    f"""
WITH keyed AS (
  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS w,
         ln((({_h48_sql()}) + 1) / CAST(281474976710656 AS DOUBLE))
           / CAST(n_chars AS DOUBLE) AS k
  FROM (SELECT source, doc_id, n_chars,
               sha256(CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE n_chars > 0) x),
r AS (
  SELECT source, doc_id, w,
         row_number() OVER (PARTITION BY source
                            ORDER BY k DESC, doc_id) AS rk
  FROM keyed)
SELECT source, doc_id, w AS weight, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 10
""",
)
def q_sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Efraimidis-Spirakis one-pass weighted sampling w/o replacement:
    # inclusion probability proportional to doc length, NO RNG state —
    # the same corpus yields the same sample at any partitioning or
    # cluster size (a per-task seeded RNG cannot promise that). Key
    # arithmetic is in-row; the only exchange is the per-source rank
    # window.
    from pero_ocr_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_sample_aes(
        docs, F.col("n_chars").cast("double"), k=10
    )


@register(
    "corpus_zipf_fit",
    """
WITH toks AS (
  SELECT string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT unnest(list_transform(
      generate_series(1, len(ws) - 2),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM toks WHERE len(ws) >= 3),
counts AS (SELECT g, count(*) AS c FROM sh GROUP BY g),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, g) AS r FROM counts),
pts AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)), 10) AS DECIMAL(38,12)) AS x,
         CAST(round(ln(CAST(c AS DOUBLE)), 10) AS DECIMAL(38,12)) AS y,
         CAST(round(round(ln(CAST(r AS DOUBLE)), 10)
                    * round(ln(CAST(c AS DOUBLE)), 10), 10)
              AS DECIMAL(38,12)) AS xy,
         CAST(round(round(ln(CAST(r AS DOUBLE)), 10)
                    * round(ln(CAST(r AS DOUBLE)), 10), 10)
              AS DECIMAL(38,12)) AS xx
  FROM ranked WHERE r <= 500),
s AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
  FROM pts)
SELECT CAST(n AS BIGINT) AS n_grams,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM s
""",
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf diagnostic: least-squares ln(freq)~ln(rank) over the top
    # 500 3-grams. Regression terms are 10dp-rounded and summed as
    # DECIMAL(38,12) so the distributed sum is exact and
    # order-independent — the float-parity technique that lets a
    # distributed regression match a sequential oracle bit-for-bit.
    from pero_ocr_spark.operators import textstats

    return textstats.zipf_fit(_t(spark, sf_dir, "documents"))


@register(
    "training_pack_interleaved",
    _EXTRACTED_CTE
    + """,
cost AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN kind = 'media' THEN 64
                       ELSE len(string_split(text, ' ')) END) AS BIGINT)
           AS n_tokens,
         CAST(SUM(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_media
  FROM extracted GROUP BY doc_id),
b AS (
  SELECT doc_id, n_tokens, n_media,
         CAST(doc_id % 32 AS BIGINT) AS bucket
  FROM cost),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
            AS cum
  FROM b),
p AS (
  SELECT *, CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack
  FROM c)
SELECT doc_id, bucket,
       CAST(pack * 32 + bucket AS BIGINT) AS seq_id,
       n_tokens, n_media,
       CAST(row_number() OVER (PARTITION BY bucket, pack
                               ORDER BY doc_id) - 1 AS BIGINT) AS seq_pos
FROM p
""",
)
def q_training_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal sequence packing: media spans cost the vision
    # encoder's fixed 64-token patch budget, text spans their word
    # count — the cost model a multimodal trainer actually packs
    # against. Reuses the extraction exchange for the per-doc cost
    # agg; packing adds only the bucket-window exchange.
    from pero_ocr_spark.operators import sampling

    spans = corpus.extracted_spans(spark, sf_dir)
    return sampling.pack_sequences_interleaved(spans)


@register(
    "corpus_drift_kl",
    """
WITH cur AS (
  SELECT source, count(*) AS n_cur FROM documents GROUP BY source),
snap AS (
  SELECT source, count(*) AS n_snap FROM documents
  WHERE (doc_id*69069 + 12345) % 2147483647 % 100 < 33
  GROUP BY source),
j AS (
  SELECT COALESCE(cur.source, snap.source) AS source,
         COALESCE(n_cur, 0) AS n_cur, COALESCE(n_snap, 0) AS n_snap
  FROM cur FULL OUTER JOIN snap ON cur.source = snap.source),
tot AS (
  SELECT sum(n_cur) AS nc, sum(n_snap) AS ns, count(*) AS g FROM j),
t AS (
  SELECT CAST(n_cur + 1 AS DOUBLE) / (nc + g) AS p,
         CAST(n_snap + 1 AS DOUBLE) / (ns + g) AS q
  FROM j CROSS JOIN tot),
terms AS (
  SELECT CAST(round(p * ln(p / q), 10) AS DECIMAL(38,12)) AS kl_t,
         CAST(round(p * ln(p / ((p + q) / 2)) / 2
                    + q * ln(q / ((p + q) / 2)) / 2, 10)
              AS DECIMAL(38,12)) AS js_t,
         CAST(round(abs(p - q) / 2, 10) AS DECIMAL(38,12)) AS tv_t
  FROM t)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       round(CAST(sum(kl_t) AS DOUBLE), 6) AS kl_div,
       round(CAST(sum(js_t) AS DOUBLE), 6) AS js_div,
       round(CAST(sum(tv_t) AS DOUBLE), 6) AS tv_dist
FROM terms
""",
)
def q_corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution-drift monitor: KL / Jensen-Shannon / total-variation
    # between the current corpus's source composition and a previous
    # snapshot's (deterministic LCG-residue 33% subset — the engine's
    # portable snapshot stand-in). Add-one smoothing over the union of
    # groups keeps KL finite when a source exists on one side only;
    # per-group terms are 10dp-rounded and decimal-summed (zipf_fit's
    # float-parity technique). The corpus contributes two count aggs;
    # everything else runs on |sources| rows.
    from pero_ocr_spark.operators import sampling, textstats

    docs = _t(spark, sf_dir, "documents")
    snapshot = docs.filter(sampling._residue(100) < 33)
    return textstats.corpus_drift(docs, snapshot)


@register(
    "corpus_balanced_shards",
    """
WITH t AS (
  SELECT CAST((sum(n_chars) + 63) // 64 AS BIGINT) AS target
  FROM documents),
c AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS cost,
         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           - n_chars AS cb
  FROM documents)
SELECT doc_id, cost, CAST(cb // target AS INT) AS shard
FROM c, t
""",
)
def q_corpus_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size-balanced contiguous sharding via the two-level distributed
    # prefix sum (bucket totals -> tiny offsets window -> parallel
    # within-bucket cumsum) — the oracle states the same function as
    # ONE global cumsum window, which is exactly the single-partition
    # plan the operator exists to avoid.
    from pero_ocr_spark.operators import sampling

    return sampling.balanced_shards(
        _t(spark, sf_dir, "documents"), n_shards=64
    )


@register(
    "corpus_leakage_safe_split",
    _SHINGLE_CTE
    + """
, sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT da AS doc_a, db AS doc_b
  FROM common JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
  WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.8),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
r AS (
  WITH RECURSIVE reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
  SELECT * FROM reach),
cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM r GROUP BY a),
g AS (
  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN cl USING (doc_id))
SELECT doc_id, group_id,
       CASE WHEN (group_id*69069 + 12345) % 2147483647 % 100 < 10
              THEN 'test'
            WHEN (group_id*69069 + 12345) % 2147483647 % 100 < 20
              THEN 'val'
            ELSE 'train' END AS split
FROM g
""",
)
def q_corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eval-leakage guard: the split residue is computed on the
    # duplicate-CLUSTER id (min doc_id of the connected component from
    # MinHash-LSH pairs at 0.8 jaccard), so near-duplicate docs can
    # never straddle train/val/test — plain per-doc hashing puts a
    # training doc's near-twin in the eval set ~20% of the time
    from pero_ocr_spark.operators import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    clusters = dedup.duplicate_clusters(pairs)
    return sampling.leakage_safe_split(docs, clusters)


@register(
    "corpus_skew_profile",
    """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_cost
  FROM documents GROUP BY 1),
t AS (SELECT sum(total_cost) AS tot, count(*) AS nkeys FROM per)
SELECT source, n_docs, total_cost,
       round(total_cost / tot, 6) AS cost_share,
       round(total_cost * nkeys / tot, 6) AS skew_factor,
       CAST(greatest(1, ceil(total_cost * 32 / tot)) AS INT) AS salt_factor
FROM per, t
""",
)
def q_corpus_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-flight shuffle-skew profiler for a candidate key: byte share,
    # skew factor vs uniform, and the salt factor a skew-aware job
    # feeds to its salted repartition — the measurement half of
    # "partitioning / shuffle / skew handled explicitly"
    from pero_ocr_spark.operators import sampling

    return sampling.skew_profile(_t(spark, sf_dir, "documents"))


_CCNET_BUCKETS_ORACLE = """
WITH ch AS (
  SELECT doc_id, string_split(text, '') AS cs FROM documents
  WHERE len(text) >= 2),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(cs) - 1),
                i -> cs[i] || cs[i+1])) AS bigram
  FROM ch),
c2 AS (SELECT bigram, count(*) AS n2 FROM g GROUP BY 1),
c1 AS (SELECT substr(bigram, 1, 1) AS ctx, sum(n2) AS n1 FROM c2 GROUP BY 1),
v AS (SELECT count(DISTINCT c) AS vsize
      FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)),
s AS (
  SELECT g.doc_id,
         round(avg(ln((c2.n2 + 1.0) / (c1.n1 + v.vsize))), 6) AS avg_logprob
  FROM g
  JOIN c2 USING (bigram)
  JOIN c1 ON substr(g.bigram, 1, 1) = c1.ctx
  CROSS JOIN v
  GROUP BY g.doc_id)
SELECT s.doc_id, d.lang, s.avg_logprob,
       (['head', 'middle', 'tail'])[
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id)] AS bucket
FROM s JOIN documents d ON d.doc_id = s.doc_id
"""


@register("corpus_ccnet_buckets", _CCNET_BUCKETS_ORACLE)
def q_corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet head/middle/tail terciles per language under the
    # self-trained char-bigram LM; EXACT ntile with a deterministic
    # (score, doc_id) ordering, not approx-percentile thresholds
    from pero_ocr_spark.operators import textstats

    return textstats.ccnet_buckets(_t(spark, sf_dir, "documents"))


@register(
    "training_span_corruption",
    """
WITH r AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
t AS (
  SELECT doc_id,
         unnest(generate_series(1, len(ws))) AS pos,
         unnest(ws) AS token
  FROM r),
m AS (
  SELECT doc_id, pos, token,
         ((doc_id*1103515245 + pos*69069 + 12345) % 2147483647) % 100 < 15
           AS masked
  FROM t),
s AS (
  SELECT *,
         masked AND NOT coalesce(
           lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
           AS span_start
  FROM m),
x AS (
  SELECT *,
         sum(CASE WHEN span_start THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS UNBOUNDED PRECEDING) AS span_idx
  FROM s),
p AS (
  SELECT doc_id, pos, span_idx,
         CASE WHEN NOT masked THEN token
              WHEN span_start
              THEN '<extra_id_' || (span_idx - 1) || '>' END AS ip,
         CASE WHEN masked AND span_start
              THEN '<extra_id_' || (span_idx - 1) || '>' || ' ' || token
              WHEN masked THEN token END AS tp
  FROM x)
SELECT doc_id,
       string_agg(ip, ' ' ORDER BY pos) AS input_text,
       CASE WHEN max(span_idx) = 0 THEN '<extra_id_0>'
            ELSE string_agg(tp, ' ' ORDER BY pos)
                 || ' <extra_id_' || max(span_idx) || '>' END AS target_text,
       CAST(max(span_idx) AS BIGINT) AS n_spans
FROM p
GROUP BY doc_id
""",
)
def q_training_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5 denoising pairs generated in-engine: LCG position mask,
    # consecutive masked tokens collapse to one sentinel; one doc_id
    # shuffle total (three windows share one sort)
    from pero_ocr_spark.operators import sampling

    return sampling.span_corruption(
        _t(spark, sf_dir, "documents"), mask_pct=15
    )


@register(
    "training_fim_transform",
    """
WITH w AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS INT) AS n
  FROM documents
),
c AS (
  SELECT doc_id, text, ws, n,
         ((doc_id*69069 + 12345) % 2147483647) % 100 AS r,
         CAST(((doc_id*1103515245 + 99991) % 2147483647) % (n + 1) AS INT) AS a
  FROM w
),
d AS (
  SELECT *, CAST(a + ((doc_id*69069 + 54321) % 2147483647) % (n - a + 1)
                 AS INT) AS b
  FROM c
)
SELECT doc_id, r < 50 AS fim_applied,
       CASE WHEN r < 50 THEN array_to_string(list_filter([
              '<fim_prefix>',
              array_to_string(list_slice(ws, 1, a), ' '),
              '<fim_suffix>',
              array_to_string(list_slice(ws, b + 1, n), ' '),
              '<fim_middle>',
              array_to_string(list_slice(ws, a + 1, b), ' ')
            ], x -> x <> ''), ' ')
            ELSE text END AS transformed,
       CASE WHEN r < 50 THEN a ELSE n END AS n_prefix,
       CASE WHEN r < 50 THEN b - a ELSE 0 END AS n_middle,
       CASE WHEN r < 50 THEN n - b ELSE 0 END AS n_suffix
FROM d
""",
)
def q_training_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FIM (fill-in-the-middle) PSM re-serialization at a 50% FIM rate:
    # LCG cut points, zero shuffles, zero Python — one narrow codegen
    # projection; identical arithmetic in the SQL oracle
    from pero_ocr_spark.operators import sampling

    return sampling.fim_transform(_t(spark, sf_dir, "documents"))
