"""Deduplication + decontamination tier queries.

Split out of the monolithic queries.py (round 5); the package
__init__ imports tier modules in dependency order, so registration
order is deterministic and the registry machinery lives in _base.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract, materialize
from pero_ocr_spark.queries._base import (  # noqa: F401
    QueryFn, _EXTRACTED_CTE, _REGISTRY, _scratch, _t, register,
)
from pero_ocr_spark.queries._ctes import _DUCK_POLY, _SHINGLE_CTE, _kmeans_cte  # noqa: F401


_JACCARD_ORACLE = f"""
{_SHINGLE_CTE}
, sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT da AS doc_a, db AS doc_b,
       round(c * 1.0 / (x.n + y.n - c), 6) AS jaccard
FROM common JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.8
"""


@register(
    "dedup_exact",
    """
    SELECT text, min(doc_id) AS canonical_doc,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


@register("dedup_minhash_lsh", _JACCARD_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "dedup_duplicate_clusters",
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
  SELECT * FROM reach)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM r GROUP BY a
""",
)
def q_dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    pairs = dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)
    return dedup.duplicate_clusters(pairs)


_PORTABLE_HASH_DUCK = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)), "
    "(a, b) -> (a * 31 + b) % 2147483647)"
)


_SIMHASH_FP_CTE = (
    _SHINGLE_CTE
    + f", hs AS (SELECT doc_id, {_PORTABLE_HASH_DUCK} AS h FROM sh)\n"
    + ", sums AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    + " FROM hs GROUP BY doc_id)\n"
    + ", fps AS (SELECT doc_id, CAST("
    + " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))
    + " AS BIGINT) AS simhash FROM sums)"
)


@register("dedup_simhash_fingerprints", _SIMHASH_FP_CTE + "\nSELECT doc_id, simhash FROM fps")
def q_dedup_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    return dedup.simhash_fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    _SIMHASH_FP_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    return dedup.simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Training-data pipeline, continued: cross-corpus repeated-passage dedup,
# Gopher-style repetition filters, deterministic stratified sampling, and
# greedy token-budget sequence packing.
# ---------------------------------------------------------------------------


@register(
    "dedup_common_passages",
    _SHINGLE_CTE
    + """
, common AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 3)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_common,
       round(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS common_frac
FROM sh LEFT JOIN common c ON sh.s = c.s
GROUP BY sh.doc_id
""",
)
def q_dedup_common_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    return dedup.common_passages(_t(spark, sf_dir, "documents"), n=3, min_docs=3)


@register(
    "dedup_substring_spans",
    """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         CAST(unnest(generate_series(0, len(ws) - 10)) AS INT) AS pos, ws
  FROM w WHERE len(ws) >= 10),
g2 AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(ws, pos + 1, pos + 10), ' ') AS gram
  FROM g),
d AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           min(doc_id) OVER (PARTITION BY gram) AS mn,
           max(doc_id) OVER (PARTITION BY gram) AS mx
    FROM g2) WHERE mn <> mx),
b AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
              THEN 1 ELSE 0 END AS brk
  FROM d),
i AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM b)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + 10 AS INT) AS span_end,
       CAST(max(pos) + 10 - min(pos) AS INT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM i GROUP BY doc_id, island
""",
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # substring-level exact dedup (ExactSubstr semantics, Lee et al.
    # 2022) without the suffix array: hashed k-token windows, cross-doc
    # flag via a min/max window on the hash (no join, no
    # count-distinct), gaps-and-islands merge to maximal spans — two
    # narrow-payload shuffles total
    from pero_ocr_spark.operators import dedup

    return dedup.duplicated_passage_spans(
        _t(spark, sf_dir, "documents"), k=10
    )


@register(
    "semantic_dedup",
    _kmeans_cte()
    + """
, ne AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM e),
va AS (SELECT a2.cell, ne.vec_id, ne.emb, ne.nrm
       FROM a2 JOIN ne USING (vec_id)),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM va a JOIN va b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) >= 0.35),
edges AS (
  SELECT doc_a AS x, doc_b AS y FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
r AS (
  WITH RECURSIVE reach(x, y) AS (
    SELECT x, y FROM edges
    UNION
    SELECT reach.x, e2.y FROM reach JOIN edges e2 ON reach.y = e2.x)
  SELECT * FROM reach),
comp AS (SELECT x AS vec_id, least(x, min(y)) AS canonical FROM r GROUP BY x)
SELECT a2.vec_id,
       CAST(a2.cell AS BIGINT) AS cell,
       CAST(coalesce(c.canonical, a2.vec_id) AS BIGINT) AS canonical,
       coalesce(c.canonical, a2.vec_id) = a2.vec_id AS keep
FROM a2 LEFT JOIN comp c USING (vec_id)
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023 shape): cluster the embedding space,
    # find near-duplicates WITHIN each semantic cell only (the cells
    # bound the quadratic — the corpus-wide all-pairs never exists),
    # keep the minimum id of each within-cell duplicate component
    from pero_ocr_spark.operators import dedup, similarity

    emb = _t(spark, sf_dir, "embeddings")
    # the assignment subtree (crossJoin + min_by over the corpus) fans
    # out into both pair sides, the CC iteration, and the final join —
    # materialize it once
    assign = materialize(similarity.kmeans_assign(emb, k=8, iters=3))
    # the norm+join frame feeds BOTH self-join sides — finalized plans
    # do not share the subtree, so without a checkpoint the embedding
    # parse + norm + join run once per side
    v = materialize(
        similarity.with_norm(emb)
        .join(assign, "vec_id")
        .select("vec_id", "cell", "embedding", "nrm")
    )
    a = v.select(
        "cell",
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        "cell",
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = similarity.cosine_col(
        F.col("ea"), F.col("na"), F.col("eb"), F.col("nb")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(cos >= 0.35)
        .select("doc_a", "doc_b")
    )
    comp = dedup.duplicate_clusters(pairs)
    return (
        assign.join(comp, assign.vec_id == comp.doc_id, "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(F.col("cluster_id"), F.col("vec_id"))
            .cast("long")
            .alias("canonical"),
            (
                F.coalesce(F.col("cluster_id"), F.col("vec_id"))
                == F.col("vec_id")
            ).alias("keep"),
        )
    )


@register(
    "decontam_benchmark_overlap",
    """
WITH r AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         (doc_id*69069 + 12345) % 2147483647 % 41 = 3 AS is_bench
  FROM documents),
g AS (
  SELECT doc_id, is_bench,
         unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - 4),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                  || ws[i+3] || ' ' || ws[i+4]))) AS shingle
  FROM r WHERE len(ws) >= 4),
b AS (SELECT DISTINCT shingle FROM g WHERE is_bench),
t AS (SELECT doc_id, shingle FROM g WHERE NOT is_bench)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(b.shingle) AS BIGINT) AS n_overlap,
       round(count(b.shingle) * 1.0 / count(*), 6) AS overlap_frac,
       round(count(b.shingle) * 1.0 / count(*), 6) >= 0.2 AS contaminated
FROM t LEFT JOIN b ON t.shingle = b.shingle
GROUP BY t.doc_id
""",
)
def q_decontam_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pretraining decontamination: word 5-gram collision of each
    # training doc against a held-out "benchmark" split (LCG-residue
    # selected); benchmark shingle set broadcast, corpus never shuffles
    from pero_ocr_spark.operators import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    is_bench = sampling._residue(41) == 3
    return dedup.decontaminate(
        docs.filter(~is_bench), docs.filter(is_bench), n=5, threshold=0.2
    )


_WINNOW_ORACLE = f"""
WITH wds AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, len(w) - 2),
           i -> {_DUCK_POLY.format(
               col="array_to_string(list_slice(w, i, i + 2), ' ')")}) AS hs
  FROM wds
  WHERE len(w) >= 3),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(hs) - 3, 1) - 1),
           j -> hs[j + list_max(list_filter(generate_series(0, 3),
                  p -> hs[j + p + 1] = list_min(list_slice(hs, j + 1, j + 4))))
                + 1])) AS fps
  FROM h),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
kept AS (
  SELECT doc_id, fp FROM fp
  WHERE fp IN (SELECT fp FROM fp GROUP BY fp
               HAVING count(DISTINCT doc_id) <= 100)),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= 5)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS fp_jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""


@register("dedup_winnowing", _WINNOW_ORACLE)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MOSS-style winnowing (Schleimer et al. 2003) at word
    # granularity: word-3-gram hashes, window-4 minima with rightmost
    # tie-break — any shared passage of >= 6 words yields a shared
    # fingerprint. Selection is all in-row codegen array math;
    # too-common fingerprints (corpus boilerplate) are dropped before
    # the inverted-index self-join, which bounds the worst posting
    # list.
    from pero_ocr_spark.operators import dedup

    return dedup.winnowing_pairs(
        _t(spark, sf_dir, "documents"), k=3, w=4, min_shared=5, max_df=100
    )


@register(
    "dedup_incremental",
    f"""
WITH __w AS (
  SELECT doc_id, text, string_split(text, ' ') AS w,
         (doc_id*69069 + 12345) % 2147483647 % 100 < 33 AS is_snap
  FROM documents),
keyed AS (
  SELECT doc_id, is_snap, sha256(text) AS h_exact,
         CASE WHEN len(w) >= 3 THEN
           list_min(list_transform(
             list_transform(generate_series(1, len(w) - 2),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
             s -> {_DUCK_POLY.format(col="s")}))
         END AS fp
  FROM __w),
se AS (SELECT DISTINCT h_exact FROM keyed WHERE is_snap),
sn AS (SELECT DISTINCT fp FROM keyed WHERE is_snap AND fp IS NOT NULL),
b AS (
  SELECT doc_id, h_exact, fp,
         row_number() OVER (PARTITION BY coalesce(fp::VARCHAR, h_exact)
                            ORDER BY doc_id) = 1 AS first_in_batch
  FROM keyed WHERE NOT is_snap)
SELECT b.doc_id,
       se.h_exact IS NOT NULL AS known_exact,
       sn.fp IS NOT NULL AS known_near,
       b.first_in_batch,
       sn.fp IS NULL AND se.h_exact IS NULL AND b.first_in_batch AS keep
FROM b
LEFT JOIN se ON b.h_exact = se.h_exact
LEFT JOIN sn ON b.fp = sn.fp
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # daily-crawl shape: dedup the new batch against a frozen snapshot
    # that contributes only two key columns (sha256 + 1-perm minhash)
    from pero_ocr_spark.operators import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    # NB: mod must be coprime-scattering with the LCG constants —
    # both 69069 and 12345 are divisible by 3, so _residue(3) is
    # constant 0 for small ids; mod 100 (69 coprime to 100) permutes
    return dedup.incremental_dedup(
        docs.filter(~(sampling._residue(100) < 33)),
        docs.filter(sampling._residue(100) < 33),
    )


@register(
    "dedup_keep_best",
    _SHINGLE_CTE
    + f"""
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
clus AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM r GROUP BY a),
member AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clus c USING (doc_id)),
q AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-4.0 *
           list_sum(list_transform(string_split(text, ' '),
             w -> ({_DUCK_POLY.format(col="w")} % 4096 * 2654435761) % 9973
                  / 9973.0 - 0.5))
           / len(string_split(text, ' ')))), 6) AS qp
  FROM documents),
win AS (
  SELECT cluster_id, doc_id AS keep_doc FROM (
    SELECT m.cluster_id, m.doc_id,
           row_number() OVER (PARTITION BY m.cluster_id
                              ORDER BY q.qp DESC, m.doc_id ASC) AS rn
    FROM member m JOIN q USING (doc_id)) WHERE rn = 1),
cnt AS (SELECT cluster_id, count(*) AS n_members FROM member GROUP BY 1)
SELECT m.doc_id, CAST(m.cluster_id AS BIGINT) AS cluster_id,
       CAST(cnt.n_members AS BIGINT) AS n_members,
       m.doc_id = win.keep_doc AS keep
FROM member m JOIN win USING (cluster_id) JOIN cnt USING (cluster_id)
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # retention-priority dedup: the cluster survivor is the cleanest
    # copy (classifier score), not the arbitrary min id
    from pero_ocr_spark.operators import dedup, textstats

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    quality = textstats.quality_classifier_scores(docs).select(
        "doc_id", "quality_prob"
    )
    return dedup.keep_best_per_cluster(docs, pairs, quality)


# ---------------------------------------------------------------------------
# Round-4 curation additions: Bloom-filter incremental dedup (broadcast
# bitset instead of a snapshot key join), canonical-URL dedup (crawl
# frontier), intra-doc paragraph self-dedup (exact-substring family).
# ---------------------------------------------------------------------------

# m = 1024 bits (not the 2^20 production default) so the filter is
# loaded enough at sf0.01 that FALSE POSITIVES actually occur and the
# oracle must reproduce them bit-for-bit; the batch replays every
# snapshot doc under a shifted id (a recrawl), so true hits occur too.
_BLOOM_ORACLE = f"""
WITH h0 AS (
  SELECT doc_id,
         (doc_id*69069 + 12345) % 2147483647 % 100 < 33 AS is_snap,
         {_DUCK_POLY.format(col="text")} AS h
  FROM documents),
h AS (
  SELECT doc_id, is_snap, h FROM h0
  UNION ALL
  SELECT doc_id + 1000000, FALSE, h FROM h0 WHERE is_snap),
seeds AS (SELECT * FROM (VALUES (40503, 9973), (69621, 30011),
                                (48271, 104729), (16807, 65537)) AS t(a, b)),
spos AS (
  SELECT DISTINCT (h.h * CAST(s.a AS BIGINT) + s.b) % 2147483647 % 1024 AS p
  FROM h, seeds s WHERE is_snap),
bpos AS (
  SELECT doc_id, (h.h * CAST(s.a AS BIGINT) + s.b) % 2147483647 % 1024 AS p
  FROM h, seeds s WHERE NOT is_snap)
SELECT b.doc_id,
       count(sp.p) = 4 AS maybe_dup,
       count(sp.p) <> 4 AS keep
FROM bpos b LEFT JOIN spos sp ON b.p = sp.p
GROUP BY b.doc_id
"""


@register("dedup_bloom_filter", _BLOOM_ORACLE)
def q_dedup_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # crawl-dedup with a BROADCAST Bloom bitset instead of a snapshot
    # key join: the batch side never shuffles, and the oracle
    # reproduces the exact false-positive set because bit positions
    # are portable BIGINT arithmetic on the polynomial text hash. The
    # batch = fresh docs + a replay of the snapshot under shifted ids
    # (recrawl): replays must flag maybe_dup (no false negatives).
    from pero_ocr_spark.operators import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    snap = docs.filter(sampling._residue(100) < 33)
    batch = docs.filter(~(sampling._residue(100) < 33)).unionByName(
        snap.withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    )
    return dedup.bloom_dedup(batch, snap, m=1024)


# URL synthesis shared by the Spark query and the oracle: deterministic
# from (doc_id, source), with case noise, duplicate slashes, tracking
# params and fragments that canonicalization must strip. Canonical key
# collapses to (source, doc_id%50, doc_id%25) -> real duplicate groups.
_URL_SQL = """
  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END
  || source || '.Example.COM'
  || CASE WHEN doc_id % 4 = 0 THEN '//p' ELSE '/p' END
  || CAST(doc_id % 50 AS VARCHAR)
  || CASE WHEN doc_id % 3 = 0
          THEN '/?utm_source=feed&utm_campaign=x&id='
          ELSE '/?id=' END
  || CAST(doc_id % 25 AS VARCHAR)
  || CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END
"""


_URL_CANON_SQL = """
  SELECT doc_id, url,
         regexp_replace(
           replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   lower(regexp_extract(url, '^([^:]+://[^/]*)', 1))
                   || regexp_replace(url, '^[^:]+://[^/]*', ''),
                   '#.*$', ''),
                 '(utm_[a-z]+|fbclid|gclid)=[^&]*&?', '', 'g'),
               '[?&]+$', ''),
             '://', ':~~'),
           '/{2,}', '/', 'g') AS c0
  FROM u
"""


@register(
    "dedup_canonical_url",
    f"""
WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
c AS ({_URL_CANON_SQL}),
canon AS (
  SELECT doc_id,
         regexp_replace(replace(c0, ':~~', '://'), '/$', '') AS canonical_url
  FROM c)
SELECT doc_id, canonical_url,
       row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) = 1
         AS keep
FROM canon
""",
)
def q_dedup_canonical_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pero_ocr_spark.operators import dedup

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(F.lit("https://www.")),
        F.col("source"), F.lit(".Example.COM"),
        F.when(d % 4 == 0, F.lit("//p")).otherwise(F.lit("/p")),
        (d % 50).cast("string"),
        F.when(d % 3 == 0, F.lit("/?utm_source=feed&utm_campaign=x&id="))
         .otherwise(F.lit("/?id=")),
        (d % 25).cast("string"),
        F.when(d % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    return dedup.canonical_url_dedup(docs).drop("url")


@register(
    "dedup_cdc_chunks",
    """
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
c AS (
  SELECT doc_id, text,
         list_concat(list_concat([0],
           list_filter(generate_series(8, n),
             i -> i < n AND
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(substr(text, i - 7, 8), ''),
                                   ch -> ascii(ch)::BIGINT)),
                    (a, b) -> (a * 31 + b) % 2147483647) % 32 = 0)),
           [n]) AS bounds
  FROM d),
ch AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(bounds) - 1),
                j -> substr(text, bounds[j] + 1,
                            bounds[j + 1] - bounds[j]))) AS chunk
  FROM c),
h AS (
  SELECT doc_id, length(chunk) AS clen,
         list_reduce(list_prepend(0::BIGINT,
           list_transform(string_split(chunk, ''),
                          ch2 -> ascii(ch2)::BIGINT)),
           (a, b) -> (a * 31 + b) % 2147483647) AS chash
  FROM ch),
f AS (
  SELECT *,
         min(doc_id) OVER (PARTITION BY chash)
           <> max(doc_id) OVER (PARTITION BY chash) AS dup
  FROM h)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(sum(CASE WHEN dup THEN clen ELSE 0 END) * 1.0 / sum(clen), 6)
         AS dup_char_frac
FROM f GROUP BY 1
""",
)
def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content-defined chunking: boundaries from a rolling k-char hash
    # move WITH the content, so early edits don't shift downstream
    # dedup hits (the property fixed-stride passage windows lack);
    # chunking/hashing fully in-row, two fixed-width shuffles
    from pero_ocr_spark.operators import dedup

    return dedup.cdc_chunk_dedup(_t(spark, sf_dir, "documents"))


@register(
    "decontam_span_mask",
    """
WITH r AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         (doc_id*69069 + 12345) % 2147483647 % 41 = 3 AS is_bench
  FROM documents),
g AS (
  SELECT doc_id, is_bench,
         CAST(unnest(generate_series(0, len(ws) - 4)) AS INT) AS pos, ws
  FROM r WHERE len(ws) >= 4),
g2 AS (
  SELECT doc_id, is_bench, pos,
         array_to_string(list_slice(ws, pos + 1, pos + 4), ' ') AS gram
  FROM g),
b AS (SELECT DISTINCT gram FROM g2 WHERE is_bench),
d AS (
  SELECT doc_id, pos FROM g2
  WHERE NOT is_bench AND gram IN (SELECT gram FROM b)),
bk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
              THEN 1 ELSE 0 END AS brk
  FROM d),
i AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM bk)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + 4 AS INT) AS span_end,
       CAST(max(pos) + 4 - min(pos) AS INT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM i GROUP BY doc_id, island
""",
)
def q_decontam_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    # span-level decontamination: the maximal word spans of each
    # training doc covered by a benchmark-colliding 4-gram — mask the
    # spans, keep the doc (vs decontam_benchmark_overlap's doc-level
    # flag). Benchmark split = the same LCG residue rule; bench gram
    # hashes broadcast, corpus shuffles once (doc_id islands).
    from pero_ocr_spark.operators import dedup, sampling

    docs = _t(spark, sf_dir, "documents")
    is_bench = sampling._residue(41) == 3
    return dedup.mask_contaminated_spans(
        docs.filter(~is_bench), docs.filter(is_bench), n=4
    )


@register(
    "dedup_containment_pairs",
    """
WITH r AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM r WHERE len(ws) >= 3),
sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
p AS (
  SELECT c.doc_a, c.doc_b, c.common, sa.n AS na, sb.n AS nb
  FROM c JOIN sz sa ON sa.doc_id = c.doc_a
         JOIN sz sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b,
       CAST(common AS BIGINT) AS n_common,
       CAST(na AS BIGINT) AS size_a,
       CAST(nb AS BIGINT) AS size_b,
       round(greatest(common * 1.0 / na, common * 1.0 / nb), 6)
         AS containment,
       round(common * 1.0 / (na + nb - common), 6) AS jaccard,
       CASE WHEN common * 1.0 / na >= common * 1.0 / nb
            THEN 'a_in_b' ELSE 'b_in_a' END AS direction
FROM p
WHERE round(greatest(common * 1.0 / na, common * 1.0 / nb), 6) >= 0.5
""",
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # asymmetric subsumption dedup: directional shingle containment
    # |A∩B|/|A| over the same inverted-index join as exact Jaccard —
    # catches truncated mirrors and boilerplate-wrapped copies that a
    # symmetric Jaccard threshold ignores
    from pero_ocr_spark.operators import dedup

    return dedup.containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, min_containment=0.5
    )


@register("dedup_prefix_filter", _JACCARD_ORACLE)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All-Pairs prefix filtering (Bayardo et al. WWW'07): EXACT
    # jaccard >= 0.8 pairs from an index holding only each document's
    # rarest ~20% of tokens (df-ascending global order) — prunes like
    # LSH, guarantees like the inverted index; shares the exact-pairs
    # oracle with the other two engines because all three MUST agree
    from pero_ocr_spark.operators import dedup

    return dedup.prefix_filter_pairs(_t(spark, sf_dir, "documents"))


@register(
    "dedup_incremental_near_dup",
    _SHINGLE_CTE
    + """
, sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT b.doc_id AS db, s.doc_id AS ds, count(*) AS c
  FROM sh b JOIN sh s ON b.s = s.s
  WHERE b.doc_id % 4 = 0 AND s.doc_id % 4 <> 0
  GROUP BY 1, 2),
pairs AS (
  SELECT db, ds, round(c * 1.0 / (x.n + y.n - c), 6) AS j
  FROM common JOIN sizes x ON db = x.doc_id JOIN sizes y ON ds = y.doc_id
  WHERE round(c * 1.0 / (x.n + y.n - c), 6) >= 0.8),
best AS (SELECT db, max(j) AS best_jaccard FROM pairs GROUP BY db),
pick AS (
  SELECT p.db, min(p.ds) AS dup_of
  FROM pairs p JOIN best b ON p.db = b.db AND p.j = b.best_jaccard
  GROUP BY 1)
SELECT d.doc_id,
       b.best_jaccard IS NOT NULL AS is_dup,
       pick.dup_of, b.best_jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
LEFT JOIN best b ON d.doc_id = b.db
LEFT JOIN pick ON d.doc_id = pick.db
""",
)
def q_dedup_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental minhash dedup: the ingest batch (doc_id % 4 = 0)
    # joins the SNAPSHOT's band-bucket index — never a corpus
    # self-join — then exact-jaccard verification; at 100 TB the
    # bucket table is the persisted dedup index and every ingest pays
    # O(batch + collisions)
    from pero_ocr_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    snapshot = docs.filter(F.col("doc_id") % 4 != 0)
    return dedup.incremental_near_dup(snapshot, batch, threshold=0.8)
