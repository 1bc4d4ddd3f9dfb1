"""Deduplication operators for training-data pipelines.

Four tiers, all Spark-first (JVM expressions end-to-end; no Python in
the hot path):

  * exact        — hash groupBy on the full text.
  * ngram-jaccard — EXACT word-3-gram Jaccard via an inverted-index
                    self-join (shingle → doc). The candidate join only
                    touches docs sharing a shingle; with n=3 over a
                    realistic vocabulary, random pairs share almost
                    nothing, so the join stays near-linear.
  * minhash+LSH  — the 100 TB path: 64 minhash permutations computed
                    as 64 map-side min-aggregates over murmur3 shingle
                    hashes; 32 bands × 2 rows; candidate pairs from a
                    band-key self-join; candidates verified with EXACT
                    jaccard so output = ngram-jaccard output (with
                    P[missing a 0.8-sim pair] ≈ 0.36^32 ≈ 6e-15).
  * simhash      — 32-bit fingerprint over shingles with a PORTABLE
                    polynomial hash (reproducible in ANSI SQL / DuckDB
                    for the oracle); near-dup pairs via 4×8-bit chunk
                    banding (pigeonhole: hamming ≤ 3 ⇒ some chunk
                    equal) + exact xor-popcount filter.

Scale notes: every stage is shuffle-on-key (shingle, band-key, doc
pair) with map-side partial aggregation; minhash aggregation is a
single groupBy(doc_id) producing 64 columns — no 64-fold explode. The
banding joins broadcast nothing and skew is bounded by bucket size;
pathological buckets (identical boilerplate across millions of docs)
would be capped with a per-bucket limit + salting, noted inline.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import HASH_P, materialize, poly_hash

N_PERM = 64
N_BANDS = 32  # rows per band = N_PERM // N_BANDS = 2


def _perm_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i — fixed LCG, no RNG state."""
    a = (1_103_515_245 * (i + 1) + 12_345) % HASH_P
    b = (6_364_136_223 * (i + 7) + 1_442_695_040) % HASH_P
    return (a or 1), b


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.

    The split is hoisted into its own projection (the O(n²) inline-
    split hazard is documented once on ``word_gram_array``). The gram
    fold runs in the scan stage, so a starved single-file local scan
    is spread first (no-op on a multi-split corpus scan)."""
    from pero_ocr_spark.operators import spread_scan, word_gram_array

    docs = spread_scan(docs)
    d = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws")).filter(
        F.size("ws") >= n
    )
    grams = word_gram_array(F.col("ws"), n)
    return d.select(
        "doc_id", F.explode_outer(F.array_distinct(grams)).alias("shingle")
    )


def doc_shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shs array<string>) — each document's DISTINCT word
    n-gram set as one bounded row, materialized.

    The shared substrate of the pair pipelines: every one of them
    consumes the shingle stream in 2-4 plan subtrees (signature pass +
    verification sides, frequency pass + join-backs), and Spark 4.1
    finalized plans do not reuse identical exchanges, so without
    materialization the split + gram fold re-runs once PER SUBTREE.
    Materializing the un-exploded per-doc arrays (one row per doc,
    array bounded by document length — the same bound the winnowing
    fingerprint arrays already use) runs the fold once; downstream
    explodes are cheap. The exploded stream itself is never persisted
    (that would be ~n_words × corpus rows).
    """
    from pero_ocr_spark.operators import spread_scan, word_gram_array

    d = (
        spread_scan(docs)
        .select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= n)
    )
    return materialize(
        d.select(
            "doc_id",
            F.array_distinct(word_gram_array(F.col("ws"), n)).alias("shs"),
        )
    )


def _explode_shingles(arr: DataFrame) -> DataFrame:
    """(doc_id, shs) → the (doc_id, shingle) stream of :func:`shingles`."""
    return arr.select("doc_id", F.explode("shs").alias("shingle"))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct text with canonical doc and
    multiplicity. A plain hash aggregation — Catalyst does map-side
    partial agg; at 100 TB, group on xxhash64(text) first to avoid
    shuffling full text bytes."""
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count("*").cast("long").alias("n_copies"),
    )


def _pair_jaccard(sh: DataFrame, sizes: DataFrame | None = None) -> DataFrame:
    """Exact jaccard for ALL doc pairs sharing ≥1 shingle — the
    inverted-index self-join. This is the exact baseline's engine; the
    LSH path verifies candidates pair-wise instead (``_verify_pairs``)
    so non-candidate pairs never enter a shuffle. ``sizes``: optional
    precomputed (doc_id, n) frame (derived in-row from the shingle
    arrays by callers on the :func:`doc_shingle_arrays` substrate —
    skips one corpus groupBy)."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("n", "na"), common.doc_a == sizes.doc_id)
        .drop("doc_id")
        .join(
            sizes.withColumnRenamed("n", "nb").withColumnRenamed("doc_id", "doc_id_b"),
            common.doc_b == F.col("doc_id_b"),
        )
        .drop("doc_id_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def _verify_pairs(
    arr: DataFrame, cands: DataFrame, arr_b: DataFrame | None = None
) -> DataFrame:
    """Exact jaccard for candidate pairs ONLY: join each side of the
    pair list to the per-doc shingle SET and intersect the two arrays.
    Cost ∝ |candidates|, never ∝ co-shingled pairs — the full
    inverted-index self-join is never built, so the LSH pruning
    actually prunes. Inputs are the (doc_id, shs) ARRAY frames from
    :func:`doc_shingle_arrays` — the set and its size are already
    in-row (the arrays are distinct by construction), so the former
    per-side collect_set groupBy shuffles are gone entirely.

    ``arr_b``: optional SEPARATE array frame for the ``doc_b`` side.
    When the two pair sides come from different corpora (incremental
    batch vs snapshot), each side MUST resolve its shingles in its own
    frame — unioning them double-counts any doc_id present in both
    (a recrawled page under its stable id), inflating n and deflating
    jaccard for every pair that doc touches."""

    def doc_sets(frame):
        return frame.select(
            "doc_id",
            F.col("shs").alias("sset"),
            F.size("shs").cast("long").alias("n"),
        )

    a = doc_sets(arr).select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("set_a"),
        F.col("n").alias("na"),
    )
    b = doc_sets(arr if arr_b is None else arr_b).select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("set_b"),
        F.col("n").alias("nb"),
    )
    common = F.size(F.array_intersect("set_a", "set_b")).cast("long")
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("common", common)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """EXACT near-duplicate pairs by word-n-gram jaccard ≥ threshold.
    Runs on the checkpointed array substrate: the gram fold runs once,
    not once per self-join side, and sizes come in-row."""
    arr = doc_shingle_arrays(docs, n)
    sizes = arr.select("doc_id", F.size("shs").cast("long").alias("n"))
    return _pair_jaccard(_explode_shingles(arr), sizes).filter(
        F.col("jaccard") >= threshold
    )


def common_passages(docs: DataFrame, n: int = 3, min_docs: int = 3) -> DataFrame:
    """Repeated-passage statistics across the corpus — the shingle-level
    analog of training-set substring deduplication: a passage is a word
    n-gram occurring in ≥ ``min_docs`` DISTINCT documents; per document,
    report its shingle count, how many are corpus-common, and the share.

    Scale shape: shingles are already distinct per doc, so one
    ``groupBy(shingle).count()`` IS the distinct-document frequency; the
    surviving common-gram set is the frequency tail (tiny relative to
    the corpus) and broadcasts back onto the per-doc shingle stream —
    no self-join, no pair blowup, two key-shuffles total. Both branches
    (frequency + join-back) explode the SAME checkpointed per-doc
    array substrate (:func:`doc_shingle_arrays`), so the split + gram
    fold runs once; the exploded stream itself is still never
    materialized (that would be ~n_words × corpus rows).
    """
    sh = _explode_shingles(doc_shingle_arrays(docs, n))
    common = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("shingle", F.lit(1).alias("is_common"))
    )
    flagged = sh.join(F.broadcast(common), "shingle", "left")
    n_common = F.sum(F.coalesce(F.col("is_common"), F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        n_common.cast("long").alias("n_common"),
        F.round(n_common / F.count("*"), 6).alias("common_frac"),
    )


def minhash_signatures(sh: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """(doc_id, m0..m{n-1}) minhash signature — one groupBy, n_perm
    min-aggregates over (a_i * h + b_i) mod p; h = murmur3(shingle)
    folded non-negative. All JVM, map-side combinable."""
    h = F.pmod(F.hash("shingle").cast("long"), F.lit(HASH_P))
    aggs = []
    for i in range(n_perm):
        a, b = _perm_params(i)
        aggs.append(
            F.min(F.pmod(h * F.lit(a) + F.lit(b), F.lit(HASH_P))).alias(f"m{i}")
        )
    return sh.groupBy("doc_id").agg(*aggs)


def _band_buckets(
    sig: DataFrame, n_perm: int = N_PERM, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, m0..m{n-1}) signatures → (doc_id, bk) band buckets:
    the LSH index rows. Shared by the corpus self-join path and the
    incremental batch-vs-snapshot path so both bucket identically."""
    rows_per_band = n_perm // n_bands
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            *[
                F.col(f"m{bi * rows_per_band + r}").alias(f"r{r}")
                for r in range(rows_per_band)
            ],
        )
        for bi in range(n_bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))


def _cap_buckets(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Keep each band bucket's ``max_bucket`` smallest doc ids — the
    shared degenerate-bucket guard (one policy; both LSH paths must
    truncate identically or they silently diverge)."""
    w = Window.partitionBy("bk").orderBy("doc_id")
    return (
        buckets.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs at scale: LSH banding for candidates, exact
    jaccard verification for the final answer (so results match
    ngram_jaccard_pairs while touching ~0 non-candidate pairs).

    ``max_bucket``: web-scale guard against degenerate buckets
    (identical boilerplate across millions of docs makes a bucket of B
    docs yield B²/2 candidate pairs). When set, each band bucket keeps
    only its ``max_bucket`` smallest doc ids before the self-join —
    bounded quadratic cost at the price of possibly missing pairs that
    ONLY co-bucket in oversized buckets (each true near-dup pair still
    has 31 other bands to meet in). Default None = exact candidates.
    """
    arr = doc_shingle_arrays(docs, n)
    # the signature frame feeds BOTH self-join sides of the band join;
    # one bounded row per doc — materialize it once like the substrate
    sig = materialize(minhash_signatures(_explode_shingles(arr), n_perm))
    buckets = _band_buckets(sig, n_perm, n_bands)
    if max_bucket is not None:
        buckets = _cap_buckets(buckets, max_bucket)
    left = buckets.select(F.col("doc_id").alias("doc_a"), "bk")
    right = buckets.select(F.col("doc_id").alias("doc_b"), "bk")
    cands = (
        left.join(right, "bk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_pairs(arr, cands).filter(F.col("jaccard") >= threshold)


# Largest pair count closed on the driver; above it the pair graph is
# closed by the distributed connected-components. ~16 bytes/pair, so
# the collect stays under ~64 MB.
DRIVER_EDGE_CAP = 4_000_000


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over the near-dup pair graph → canonical
    cluster ids (the dedup end-step: every document maps to the
    minimum doc_id of its duplicate component).

    Two regimes, picked by a measured pair count (the pair frame is
    materialized by that count, so the expensive upstream — shingling
    / minhash / LSH verify — runs exactly once either way):

    * ``n_pairs <= DRIVER_EDGE_CAP`` — ONE driver union-find pass over
      the collected edge list. The collect is bounded by the cap, never
      corpus-sized: dup PAIRS post-LSH-verify are a tiny fraction of
      documents at any healthy threshold, and the cap is checked, not
      assumed. No Spark job beyond the count and the collect.
    * above the cap — ``linkgraph.connected_components``
      (large-star / small-star, O(log n) rounds, so a long chain of
      pairwise near-dups does not cost a round per link).

    Both paths return identical rows: every node appearing in a pair,
    labeled with the minimum id of its component.
    """
    from pero_ocr_spark.operators.linkgraph import connected_components

    pairs = materialize(pairs.select("doc_a", "doc_b"))
    if pairs.count() <= DRIVER_EDGE_CAP:
        return _clusters_driver_union_find(pairs)
    nodes = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components(nodes, edges).withColumnRenamed(
        "component", "cluster_id"
    )


def _clusters_driver_union_find(pairs: DataFrame) -> DataFrame:
    """Small-graph CC path: ``geometry.union_find_roots`` on the
    driver over the ids' sorted ``np.unique`` indices, so each
    component's root is its minimum member — the same labeling as
    ``connected_components``."""
    from pyspark.sql import types as T

    from pero_ocr_spark.functions.geometry import union_find_roots

    ends = np.array(pairs.collect()).reshape(-1, 2)
    ids, idx = np.unique(ends, return_inverse=True)
    idx = idx.reshape(-1, 2)
    roots = union_find_roots(np.arange(len(ids)), idx[:, 0], idx[:, 1])
    id_type = pairs.schema["doc_a"].dataType
    out_schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("cluster_id", id_type),
        ]
    )
    rows = list(zip(ids.tolist(), ids[roots].tolist()))
    return pairs.sparkSession.createDataFrame(rows, out_schema)


# --------------------------------------------------------------- simhash

def simhash_fingerprints(docs: DataFrame, n: int = 3, bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — 32-bit simhash over word-n-gram shingles.

    Per-bit weighted sums as 32 conditional aggregates in ONE
    groupBy(doc_id) (no bit-explode); bit b of the portable shingle
    hash contributes +1/−1 to sum_b; fingerprint bit = sign.
    """
    sh = shingles(docs, n).withColumn("h", poly_hash(F.col("shingle")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = sh.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, n: int = 3, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via chunk
    banding: split 32 bits into 4 × 8-bit chunks; hamming ≤ 3 ⇒ at
    least one chunk equal (pigeonhole), so the equi-join on
    (chunk_idx, chunk_value) finds ALL qualifying pairs; exact
    xor-popcount filters false candidates."""
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    fp = simhash_fingerprints(docs, n, bits)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("ck"),
    )
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "ck"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "ck"
    )
    return (
        a.join(b, "ck")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------- decontamination

def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct word n-gram shingles that also occur anywhere in a
    held-out benchmark set, plus a ``contaminated`` flag at
    ``threshold`` — the n-gram-collision check run on pretraining
    corpora before training (13-gram windows in production; ``n`` is a
    parameter so the small-vocabulary test corpus stays meaningful).

    Plan shape for 10^12 docs: the benchmark side is tiny relative to
    the corpus, so its distinct shingle set is BROADCAST; every
    training doc's shingles stream through a broadcast hash join (the
    corpus side never shuffles) into one map-side-combinable hash agg
    on doc_id. At scale, join on ``xxhash64(shingle)`` instead of the
    string — identical plan, 8-byte keys (kept as strings here so the
    DuckDB oracle can mirror the arithmetic exactly). Docs with fewer
    than ``n`` words carry no shingles and are trivially clean; they
    are omitted (same rule as :func:`shingles`).
    """
    t_sh = shingles(train, n)
    b_sh = (
        shingles(bench, n)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    marked = t_sh.join(F.broadcast(b_sh), "shingle", "left")
    frac = F.round(F.col("n_overlap") / F.col("n_shingles"), 6)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
        )
        .withColumn("overlap_frac", frac)
        .withColumn("contaminated", F.col("overlap_frac") >= threshold)
    )


def mask_contaminated_spans(
    train: DataFrame, bench: DataFrame, n: int = 5, text_col: str = "text"
) -> DataFrame:
    """Span-level decontamination: the maximal word spans of each
    training doc covered by some ``n``-gram that also occurs in the
    benchmark set — the surgical alternative to :func:`decontaminate`'s
    doc-level drop (production pipelines null the matched spans and
    keep the rest of the document; dropping whole docs over one quoted
    benchmark sentence costs real data).

    Same relational skeleton as :func:`duplicated_passage_spans`, with
    the cross-doc min/max window replaced by a broadcast semi-join:

      1. every n-gram start of every training doc becomes
         (doc_id, pos, h) with h = xxhash64 of the window text, over a
         HOISTED split (in-row, no shuffle);
      2. the benchmark's distinct gram hashes — tiny vs the corpus by
         construction — BROADCAST; hit positions survive a left-semi
         hash join, so the corpus side never shuffles for the match;
      3. per doc, hit positions merge to maximal masked spans
         (gaps-and-islands; a new island when the gap exceeds ``n``)
         — the only shuffle, on doc_id, parallel per doc.

    A doc absent from the output is clean. Output: (doc_id,
    span_start, span_end, n_tokens, n_grams) with span_end exclusive —
    masking [span_start, span_end) removes every benchmark-colliding
    window while keeping the rest of the doc.

    Collisions at the 64-bit birthday bound can mask a clean span
    (false positive — safe direction for decontamination); they can
    never UNmask a contaminated one.
    """
    ws = F.col("ws")
    grams = train.select(
        "doc_id", F.split(F.col(text_col), " ").alias("ws")
    ).filter(F.size(ws) >= n).select(
        "doc_id",
        # explode_outer for the same Catalyst reason as
        # duplicated_passage_spans: plain explode's implicit size>0
        # filter re-evaluates the whole transform a second time
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda p: F.struct(
                    p.cast("int").alias("pos"),
                    F.xxhash64(
                        F.array_join(F.slice(ws, p + 1, n), " ")
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.h")

    bench_h = (
        bench.select(F.split(F.col(text_col), " ").alias("ws"))
        .filter(F.size(ws) >= n)
        .select(
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - n),
                    lambda p: F.xxhash64(
                        F.array_join(F.slice(ws, p + 1, n), " ")
                    ),
                )
            ).alias("h")
        )
        .distinct()
    )
    hits = grams.join(F.broadcast(bench_h), "h", "left_semi")

    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(by_doc).isNull()
        | (F.col("pos") - F.lag("pos").over(by_doc) > n),
        1,
    ).otherwise(0)
    islands = hits.withColumn("_brk", brk).withColumn(
        "island",
        F.sum("_brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    ).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        "n_grams",
    )


# ----------------------------------------------------- incremental dedup

def incremental_dedup(new_docs: DataFrame, snapshot: DataFrame) -> DataFrame:
    """Dedup a NEW ingest batch against a frozen corpus snapshot
    without touching the snapshot's layout — the daily-crawl shape:
    the 10^12-doc snapshot contributes only two key columns (an exact
    sha256 text hash and a 1-perm-minhash near-dup fingerprint, both
    computable incrementally at snapshot-write time), the new batch
    left-joins against them, and within-batch duplicates resolve by
    min-doc_id first-occurrence.

    Output per new doc: ``known_exact`` (byte-identical text already
    in the snapshot), ``known_near`` (shares its min-shingle
    fingerprint — robust to local edits), ``first_in_batch`` (earliest
    doc_id for its fingerprint within the batch), and the combined
    ``keep`` policy (not near-known AND first in batch).

    Scale shape: the snapshot is read as key columns only (column
    pruning to 2 × 8-byte-ish values), deduped by a map-side-combined
    distinct, and either broadcast (small delta corpora) or
    sort-merge-joined on the fingerprint — the batch side is the only
    side ever materialized with payloads. Docs shorter than the
    shingle width have no fingerprint and are kept verbatim.
    """
    from pero_ocr_spark.operators import spread_scan, textstats

    # both sides run the shingle-fingerprint fold (an interpreted
    # higher-order transform) in their scan stage — spread a starved
    # single-file local scan so the fold parallelizes (no-op at scale)
    new_docs = spread_scan(new_docs)
    snapshot = spread_scan(snapshot)

    def keys(df: DataFrame) -> DataFrame:
        fp = textstats.fingerprints(df, n=3).select("doc_id", "fp_min_shingle")
        return (
            df.select("doc_id", F.sha2("text", 256).alias("h_exact"))
            .join(fp, "doc_id", "left")
        )

    snap = keys(snapshot)
    snap_exact = snap.select(F.col("h_exact").alias("se")).distinct()
    snap_near = (
        snap.filter(F.col("fp_min_shingle").isNotNull())
        .select(F.col("fp_min_shingle").alias("sn"))
        .distinct()
    )
    batch = keys(new_docs)
    # first-occurrence key: the fingerprint where one exists, else the
    # exact hash — so sub-shingle-width docs still dedup within the
    # batch instead of all passing as "first"
    batch = batch.withColumn(
        "_fkey",
        F.coalesce(F.col("fp_min_shingle").cast("string"), F.col("h_exact")),
    )
    w = Window.partitionBy("_fkey").orderBy("doc_id")
    marked = (
        batch.join(snap_exact, batch.h_exact == F.col("se"), "left")
        .join(snap_near, batch.fp_min_shingle == F.col("sn"), "left")
        .select(
            "doc_id",
            F.col("se").isNotNull().alias("known_exact"),
            F.col("sn").isNotNull().alias("known_near"),
            (F.row_number().over(w) == 1).alias("first_in_batch"),
        )
    )
    return marked.select(
        "doc_id",
        "known_exact",
        "known_near",
        "first_in_batch",
        (
            ~F.col("known_near")
            & ~F.col("known_exact")
            & F.col("first_in_batch")
        ).alias("keep"),
    )


def keep_best_per_cluster(
    docs: DataFrame, pairs: DataFrame, quality: DataFrame
) -> DataFrame:
    """Quality-priority dedup: given near-dup ``pairs`` and a per-doc
    ``quality`` score, keep the HIGHEST-quality member of each
    duplicate cluster (ties broken by min doc_id) instead of the
    arbitrary min-id canonical — retention policy for curation, where
    the duplicate worth keeping is the cleanest copy.

    Scale shape: reuses :func:`duplicate_clusters` (driver union-find,
    or distributed connected components above its cap); the winner per cluster is one ``max_by``
    aggregation on a (quality, -doc_id) struct — map-side combinable,
    no sort. Singleton docs (no pair) keep themselves.
    """
    comp = duplicate_clusters(pairs)  # (doc_id, cluster_id)
    member = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .join(quality, "doc_id")
    )
    rank_key = F.struct(
        F.col("quality_prob").alias("q"), (-F.col("doc_id")).alias("nid")
    )
    winners = member.groupBy("cluster_id").agg(
        F.max_by("doc_id", rank_key).alias("keep_doc"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return member.join(winners, "cluster_id").select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "n_members",
        (F.col("doc_id") == F.col("keep_doc")).alias("keep"),
    )


# ------------------------------------------------------------------
# Bloom-filter incremental dedup — the broadcast-compact alternative
# to the snapshot key join (RefinedWeb-style crawl dedup)
# ------------------------------------------------------------------

# k independent affine re-hashes of the portable polynomial text hash;
# multipliers are odd and coprime to BLOOM_M so positions scatter.
BLOOM_SEEDS: tuple[tuple[int, int], ...] = (
    (40503, 9973),
    (69621, 30011),
    (48271, 104729),
    (16807, 65537),
)
BLOOM_M = 1 << 20  # bits; ~131 KB packed — broadcastable at any scale


def _bloom_positions(h, m: int = BLOOM_M) -> list:
    """The k bit positions of a text-hash column. Everything is plain
    BIGINT arithmetic (h < 2^31, a < 2^17 → products < 2^48), so the
    oracle reproduces positions — and therefore the exact
    false-positive set — in ANSI SQL."""
    return [
        F.pmod(F.pmod(h * F.lit(a) + F.lit(b), F.lit(HASH_P)), F.lit(m))
        for a, b in BLOOM_SEEDS
    ]


def bloom_build(snapshot: DataFrame, m: int = BLOOM_M) -> bytes:
    """Build the packed Bloom bitarray from a snapshot's text hashes.

    Runs as ONE distributed aggregation: per doc the k positions, then
    a distinct on the (at most n·k ≤ a few million) positions; only
    the position list — never a document — reaches the driver, which
    packs it into a numpy bitarray. At 10^12 docs the filter would be
    sized up (m = n·k/ln2) and built incrementally at snapshot-write
    time; the packing step is identical.
    """
    import numpy as np

    h = poly_hash(F.col("text"))
    pos_rows = (
        snapshot.select(F.explode(F.array(*_bloom_positions(h, m))).alias("p"))
        .distinct()
        .collect()
    )
    bits = np.zeros(max(1, m // 8), dtype=np.uint8)
    pos = np.fromiter((r["p"] for r in pos_rows), dtype=np.int64)
    if len(pos):
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    return bits.tobytes()


def bloom_dedup(
    new_docs: DataFrame, snapshot: DataFrame, m: int = BLOOM_M
) -> DataFrame:
    """Mark each new-batch doc ``maybe_dup`` iff ALL k of its Bloom
    positions are set in the snapshot's filter — the classic Bloom
    membership test: no false negatives, deterministic false positives
    (which the DuckDB oracle reproduces bit-for-bit, since positions
    are portable integer arithmetic).

    Scale shape vs :func:`incremental_dedup`'s key join: the snapshot
    contributes a ~100 KB-per-2^20-bits broadcast ARRAY instead of a
    join side — the batch never shuffles at all, membership is an
    in-memory bit test per row inside one Arrow stage. The trade is
    the false-positive rate (n·k/m tuned, here exact-reproducible),
    which a crawl pipeline accepts for dropping the join entirely.
    """
    import numpy as np
    import pandas as pd

    filt = np.frombuffer(bloom_build(snapshot, m), dtype=np.uint8)
    bc = new_docs.sparkSession.sparkContext.broadcast(filt)

    h = poly_hash(F.col("text"))
    keyed = new_docs.select(
        "doc_id", F.array(*_bloom_positions(h, m)).alias("pos")
    )

    def run(batches):
        bits = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            pos = np.vstack([np.asarray(p, dtype=np.int64) for p in pdf["pos"]])
            hit = (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "maybe_dup": hit.all(axis=1)}
            )

    out = keyed.mapInPandas(run, schema="doc_id long, maybe_dup boolean")
    return out.select(
        "doc_id", "maybe_dup", (~F.col("maybe_dup")).alias("keep")
    )


def canonical_url_dedup(docs_with_url: DataFrame) -> DataFrame:
    """URL-canonicalization dedup (crawl-frontier shape): normalize
    each doc's URL — lowercase scheme+host, strip the fragment, strip
    tracking params (``utm_*``/``fbclid``/``gclid``), drop a trailing
    ``?``/``&``, collapse duplicate slashes in the path, drop a
    trailing slash — then keep the earliest doc per canonical URL.

    Pure Catalyst (regexp chains + one window); the canonical form is
    reproduced verbatim in the DuckDB oracle (regexps carry the 'g'
    flag there — DuckDB replaces first-match-only by default).
    """
    # lowercase scheme://host (split at the first '/' after '://'),
    # keep the path/query case-sensitive
    url = F.concat(
        F.lower(F.regexp_extract("url", r"^([^:]+://[^/]*)", 1)),
        F.regexp_replace("url", r"^[^:]+://[^/]*", ""),
    )
    url = F.regexp_replace(url, r"#.*$", "")  # fragment
    url = F.regexp_replace(url, r"(utm_[a-z]+|fbclid|gclid)=[^&]*&?", "")
    url = F.regexp_replace(url, r"[?&]+$", "")
    url = F.regexp_replace(url, r"(?<!:)//+", "/")  # dup slashes in path
    url = F.regexp_replace(url, r"/$", "")
    canon = url.alias("canonical_url")
    keyed = docs_with_url.select("doc_id", "url", canon)
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    return keyed.select(
        "doc_id",
        "canonical_url",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def duplicated_passage_spans(
    docs: DataFrame, k: int = 10, text_col: str = "text"
) -> DataFrame:
    """Maximal cross-document duplicated passages of ≥ ``k`` tokens.

    Substring-level exact dedup (the ExactSubstr semantics of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — there via a monolithic suffix array) re-expressed
    relationally so it distributes:

      1. every k-token window of every doc becomes (doc_id, pos, h)
         with h = a 64-bit hash of the window text — an in-row
         transform over a HOISTED split (no lambda re-inlining);
      2. a window over h flags grams seen in ≥2 DISTINCT docs via
         ``min(doc_id) != max(doc_id)`` — one hash shuffle, no join,
         no count-distinct;
      3. per doc, surviving positions merge into maximal runs
         (gaps-and-islands: a new island when the gap to the previous
         duplicated position exceeds k) — second shuffle on doc_id;
      4. each island aggregates to [span_start, span_end).

    Scale shape: rows ≈ token count (the k-gram stream), both shuffles
    carry (long, int, long) triples — the window texts themselves
    never shuffle. Skew on h is bounded: a gram repeated across
    millions of docs concentrates one key, but the min/max window is
    an order-free full-partition frame Spark computes with partial
    aggregation buffers, not a sort. Collisions merge unrelated grams
    (false duplicated positions) at the 64-bit birthday bound —
    negligible below ~10^9 distinct grams per partition-key domain.

    Returns (doc_id, span_start, span_end, n_tokens, n_grams); a doc
    absent from the output has no ≥k-token passage shared with any
    other doc.
    """
    ws = F.col("ws")
    grams = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("ws")
    ).filter(F.size(ws) >= k).select(
        "doc_id",
        # explode_outer: plain explode injects an implicit size>0 filter
        # that Catalyst can push into the narrow stage and re-evaluate
        # the whole transform a second time (size(ws)>=k already
        # guarantees non-emptiness, so the row sets are identical)
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - k),
                lambda p: F.struct(
                    p.cast("int").alias("pos"),
                    F.xxhash64(F.array_join(F.slice(ws, p + 1, k), " ")).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.h")

    over_h = Window.partitionBy("h")
    dup = grams.withColumn(
        "_cross",
        F.min("doc_id").over(over_h) != F.max("doc_id").over(over_h),
    ).filter("_cross")

    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(by_doc).isNull()
        | (F.col("pos") - F.lag("pos").over(by_doc) > k),
        1,
    ).otherwise(0)
    islands = dup.withColumn("_brk", brk).withColumn(
        "island", F.sum("_brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k).alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
    ).select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        "n_grams",
    )


def _cdc_doc_kernel(
    text: str, k: int, mask: int, pows: "np.ndarray"
) -> tuple["np.ndarray", "np.ndarray"]:
    """numpy twin of the Catalyst CDC chunker row expression (kept
    as ``_cdc_stream_catalyst`` in tests/test_dedup.py, which
    fuzz-pins the two equal) — same boundary rule (cut after
    every 1-based position ``i`` in ``[k, n)`` whose k-char window
    polynomial hash ≡ 0 mod ``mask``), same per-chunk polynomial hash
    (fold (a·31 + codepoint) mod p). Vectorized: window hashes are one
    sliding-window matmul; chunk hashes are one weighted segment sum
    (codepoint · 31^(r−1−t) mod p, ``np.add.reduceat`` over the chunk
    bounds — congruent to the serial Horner fold because every partial
    product is reduced mod p before summing, and a 4·10^9-char chunk
    still fits the int64 accumulator). ``pows`` is the caller's
    31^e mod p table, at least len(text)+1 long. Returns (clen, chash)
    int64 arrays, one entry per chunk; the empty text yields the single
    empty chunk (len 0, hash 0) like the expression form."""
    if not text:
        z = np.zeros(1, dtype=np.int64)
        return z, z.copy()
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    n = len(cps)
    if n >= k:
        sw = np.lib.stride_tricks.sliding_window_view(cps, k)
        if k <= 9:
            # direct dot with un-reduced 31^(k-1)..31^0 weights: the
            # geometric sum of 0x10FFFF·31^j terms stays < 2^63 up to
            # k = 9 (k = 9 peaks ≈ 9.8e17), and one mod at the end is
            # congruent to the per-step fold
            kp = 31 ** np.arange(k - 1, -1, -1, dtype=np.int64)
            h = (sw @ kp) % HASH_P
        else:
            # larger windows would overflow the direct dot (31^9 ·
            # 0x10FFFF ≈ 3e19 > 2^63): run the exact Horner fold, one
            # vectorized mod-reduced step per window column
            h = np.zeros(sw.shape[0], dtype=np.int64)
            for j in range(k):
                h = (h * 31 + sw[:, j]) % HASH_P
        ends = np.arange(k, n + 1, dtype=np.int64)
        cuts = ends[(h % mask == 0) & (ends < n)]
    else:
        cuts = np.empty(0, dtype=np.int64)
    bounds = np.concatenate(
        (np.zeros(1, dtype=np.int64), cuts, np.array([n], dtype=np.int64))
    )
    lo, hi = bounds[:-1], bounds[1:]
    clen = hi - lo
    r_end = np.repeat(hi, clen)
    w_ = pows[r_end - 1 - np.arange(n, dtype=np.int64)]
    prod = (cps * w_) % HASH_P
    chash = np.add.reduceat(prod, lo) % HASH_P
    return clen, chash


def _cdc_stream(docs: DataFrame, k: int, mask: int) -> DataFrame:
    """(doc_id, clen, chash) — one row per CDC chunk, computed in the
    vectorized Arrow kernel (:func:`_cdc_doc_kernel`): the per-window
    interpreted Catalyst hash fold (O(n·k) lambda steps per document)
    was the dominant cost of ``dedup_cdc_chunks``; the original
    expression formulation lives on in tests/test_dedup.py as the
    fuzz-pinned semantics twin."""
    import pandas as pd

    from pero_ocr_spark.operators import spread_scan

    id_type = docs.schema["doc_id"].dataType.simpleString()

    def gen(batches):
        pows = np.ones(1, dtype=np.int64)  # 31^e mod p, e = 0..len-1
        for pdf in batches:
            if not len(pdf):
                continue
            need = max((len(t) for t in pdf["text"] if t), default=0) + 1
            while len(pows) < need:
                # 31^(L+e) = 31^e · 31^L: each step at least doubles the
                # table; both factors < 2^31, so the product fits int64
                step = pows[-1] * 31 % HASH_P
                pows = np.concatenate(
                    (pows, pows[: need - len(pows)] * step % HASH_P)
                )
            lens, hashes = zip(
                *(_cdc_doc_kernel(text, k, mask, pows) for text in pdf["text"])
            )
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(
                        pdf["doc_id"].to_numpy(), [len(c) for c in lens]
                    ),
                    "clen": np.concatenate(lens),
                    "chash": np.concatenate(hashes),
                }
            )

    return spread_scan(docs.select("doc_id", "text")).mapInPandas(
        gen, schema=f"doc_id {id_type}, clen long, chash long"
    )


def cdc_chunk_dedup(
    docs: DataFrame, k: int = 8, mask: int = 32
) -> DataFrame:
    """Content-defined-chunking dedup (the Rabin-fingerprint family,
    cf. LBFS/restic/storage dedup and shift-resistant corpus dedup):
    a chunk boundary falls AFTER every position whose rolling ``k``-
    char hash ≡ 0 (mod ``mask``), so boundaries move WITH the content
    — an insertion early in a document shifts every fixed-window
    passage but leaves all downstream CDC chunks (and their dedup
    hits) intact, the property fixed-stride chunking
    (``duplicated_passage_spans``) lacks.

    Per doc: split into CDC chunks, hash each, flag chunks whose hash
    occurs in ≥2 docs (min≠max window on the chunk hash — no join, no
    count-distinct), report per-doc chunk totals and the duplicated
    char fraction.

    Plan shape: chunking + hashing are fully IN-ROW — one vectorized
    per-document Arrow stage (:func:`_cdc_doc_kernel`; the interpreted
    Catalyst fold it replaced is the fuzz-pinned twin in
    tests/test_dedup.py); then exactly two fixed-width
    shuffles, (chash) for the cross-doc flag and (doc_id) for the
    re-agg, both map-side combinable. Chunk texts never shuffle — only
    64-bit hashes and lengths. The rolling-hash kernel runs in the
    SCAN stage, so a single-file local input is spread first (no-op on
    a real multi-split corpus scan)."""
    stream = _cdc_stream(docs, k, mask)
    w = Window.partitionBy("chash")
    flagged = stream.withColumn(
        "dup", F.min("doc_id").over(w) != F.max("doc_id").over(w)
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("dup").cast("int")).cast("long").alias("n_dup_chunks"),
        F.round(
            F.sum(F.when(F.col("dup"), F.col("clen")).otherwise(0))
            / F.sum("clen"),
            6,
        ).alias("dup_char_frac"),
    )


def containment_pairs(
    docs: DataFrame, n: int = 3, min_containment: float = 0.5
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by shingle CONTAINMENT
    C(A→B) = |A∩B| / |A|: high containment with modest Jaccard means
    one document is (nearly) a subset of the other — quote expansions,
    boilerplate-wrapped copies, truncated mirrors — pairs the
    symmetric Jaccard threshold deliberately ignores. Emits every pair
    whose LARGER directional containment clears ``min_containment``,
    with the direction that achieved it.

    Plan shape: identical to the exact-Jaccard engine — inverted-index
    self-join on the shingle key (only co-shingled pairs enter the
    shuffle), one per-doc size agg joined twice on the pair's doc keys.
    Nothing broadcasts (sizes are corpus-sized at 10^12 docs); at scale
    the candidate set comes from the MinHash/LSH band join instead and
    this verification runs per-candidate, exactly like
    ``minhash_lsh_pairs`` — containment is just a different final
    expression over the same (common, na, nb) triple.
    """
    arr = doc_shingle_arrays(docs, n)
    sh = _explode_shingles(arr)
    sizes = arr.select("doc_id", F.size("shs").cast("long").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    paired = (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
    )
    c_ab = F.col("common") / F.col("na")  # A contained in B
    c_ba = F.col("common") / F.col("nb")  # B contained in A
    return (
        paired.select(
            "doc_a",
            "doc_b",
            F.col("common").cast("long").alias("n_common"),
            F.col("na").cast("long").alias("size_a"),
            F.col("nb").cast("long").alias("size_b"),
            F.round(F.greatest(c_ab, c_ba), 6).alias("containment"),
            F.round(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).alias("jaccard"),
            # ties (equal sizes) resolve to the a→b direction
            F.when(c_ab >= c_ba, F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
        .filter(F.col("containment") >= min_containment)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003)
# ---------------------------------------------------------------------------

def _winnow_doc_kernel(text: str, k: int, w: int):
    """numpy twin of the Catalyst winnowing row expression (kept
    as ``_doc_fingerprints_catalyst`` in tests/test_dedup.py) — same word k-gram polynomial
    hashes (fold (a·31 + codepoint) mod p over the gram's characters,
    grams taken as exact substrings of the text since a split-on-space
    rejoin reconstructs it), same window minima with rightmost
    tie-break, same first-occurrence dedup. Vectorized: gram hashes
    advance one character position per step across ALL grams at once;
    the window min/rightmost-argmin is one sliding-window pass.
    Returns None when the doc has no grams (caller drops the row, like
    the size>0 filter). Fuzz-pinned equal to the Catalyst path by
    tests/test_dedup.py."""
    import pandas as pd

    words = text.split(" ")
    ng = len(words) - k + 1
    if ng <= 0:
        return None
    lens = np.fromiter(
        (len(wd) for wd in words), dtype=np.int64, count=len(words)
    )
    starts = np.zeros(len(words), dtype=np.int64)
    if len(words) > 1:
        np.cumsum(lens[:-1] + 1, out=starts[1:])
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )
    g_start = starts[:ng]
    g_len = (starts[k - 1 : k - 1 + ng] + lens[k - 1 : k - 1 + ng]) - g_start
    h = np.zeros(ng, dtype=np.uint64)
    p_ = np.uint64(HASH_P)
    t31 = np.uint64(31)
    for t in range(int(g_len.max())):
        m = g_len > t
        hm = h[m]
        hm *= t31
        hm += cps[g_start[m] + t]
        hm %= p_
        h[m] = hm
    n_win = max(ng - w + 1, 1)
    if ng >= w:
        win = np.lib.stride_tricks.sliding_window_view(h, w)[:n_win]
    else:
        win = h.reshape(1, ng)
    rev = win[:, ::-1]
    j = win.shape[1] - 1 - np.argmin(rev, axis=1)
    return pd.unique(h[np.arange(n_win) + j]).astype(np.int64)


def _doc_fingerprints(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, fps array) — the per-doc distinct winnowing
    fingerprint ARRAY. Kept un-exploded so callers with several
    consumers can materialize ONE bounded row per document.

    Robust winnowing: hash every word k-gram, slide a window of ``w``
    consecutive hashes, and in each window select the MINIMUM hash,
    breaking ties by the RIGHTMOST position (the Schleimer et al.
    rule that guarantees at least one fingerprint per window while
    keeping the selected set stable under edits elsewhere — the MOSS
    document-fingerprinting scheme, at word granularity). Guarantee:
    any shared passage of ≥ k + w − 1 words between two documents
    yields at least one shared fingerprint. The identical list
    arithmetic runs in the DuckDB oracle.

    The selection runs in the vectorized Arrow kernel
    (:func:`_winnow_doc_kernel`): the per-character interpreted hash
    fold was the dominant cost of every winnowing consumer (guide
    §4.2 — hand whole batches to vectorized native code). The original
    Catalyst formulation is kept in tests/test_dedup.py as the
    fuzz-pinned semantics twin."""
    from pero_ocr_spark.operators import flat_map_in_pandas, spread_scan

    id_type = docs.schema["doc_id"].dataType.simpleString()

    def per_row(did, text):
        out = None if text is None else _winnow_doc_kernel(text, k, w)
        return () if out is None else [(did, out.tolist())]

    return flat_map_in_pandas(
        spread_scan(docs.select("doc_id", "text")),
        per_row,
        f"doc_id {id_type}, fps array<bigint>",
    )


def winnowing_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 100,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints,
    with fingerprint-set jaccard — near-dup / plagiarism detection on
    the MOSS scheme.

    Fingerprints occurring in more than ``max_df`` documents are
    dropped before the self-join (corpus boilerplate: headers,
    licenses — exactly what MOSS's common-code filter does); this also
    bounds the inverted-index join's worst posting list, the same
    hot-key guard the shingle pipeline uses. One groupBy(fp), one
    equi-self-join on fp restricted to surviving postings, one
    pair-count aggregation — never all-pairs.
    """
    # the selection expression is the expensive part (nested lambda
    # array math over every doc) and feeds THREE consumers (posting
    # counts, per-doc sizes, the join) — Spark 4.1 finalized plans do
    # not reuse identical exchanges, so materialize the bounded
    # one-row-per-doc fingerprint arrays once (measured 16.5 s -> the
    # selection runs once instead of three times at sf0.1)
    doc_fps = materialize(_doc_fingerprints(docs, k, w))
    fps = doc_fps.select("doc_id", F.explode("fps").alias("fp"))
    df_counts = fps.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("__df")
    )
    kept = fps.join(
        df_counts.filter(F.col("__df") <= max_df).select("fp"), "fp"
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("fp_jaccard"),
        )
    )


def prefix_filter_pairs(
    docs: DataFrame, n: int = 3, num: int = 4, den: int = 5
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ num/den via prefix filtering (the
    All-Pairs / PPJoin candidate scheme, Bayardo et al. WWW'07) — the
    third engine for the same question: the inverted-index self-join
    (:func:`ngram_jaccard_pairs`) joins on EVERY token, MinHash+LSH
    prunes but is probabilistic; prefix filtering prunes AND stays
    exact. Under any one consistent global token order, a pair with
    Jaccard ≥ t shares at least ⌈t·|d|⌉ tokens with each member d, so
    all of its common tokens cannot hide in a suffix of length
    ⌈t·|d|⌉ − 1 — indexing only each document's first
    |d| − ⌈t·|d|⌉ + 1 tokens (20% at t = 0.8) cannot miss a true
    pair. The order is (document frequency asc, token): the indexed
    prefixes hold each document's RAREST tokens, so the candidate
    join's posting lists are the short ones — the frequent tokens
    that blow up the naive self-join are exactly the ones the prefix
    excludes.

    The threshold is carried as the rational num/den and every
    pruning bound is integer arithmetic (⌈t·n⌉ = (num·n + den − 1)
    div den; the length filter num·max ≤ den·min) — float ceil() of
    0.8·n is off-by-one at multiples of 5, which would break the
    no-false-negative guarantee. Candidates then verify through the
    same exact set-intersection as the LSH path (cost ∝ candidates),
    and the final filter applies the rounded-jaccard rule shared with
    the other two engines.

    Scale shape: one token-df aggregation (map-side combinable), one
    df attach join, one per-doc sort (bounded by document length),
    and a candidate equi-join over ~(1−t) of the posting volume with
    its heaviest lists removed by construction. Nothing is
    probabilistic and nothing is all-pairs."""
    arr = doc_shingle_arrays(docs, n)
    sh = _explode_shingles(arr)
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("toks"))
    )
    nsz = F.size("toks")
    min_overlap = F.floor(
        (F.lit(num) * nsz + F.lit(den - 1)) / F.lit(den)
    ).cast("int")
    posting = per_doc.select(
        "doc_id",
        nsz.cast("long").alias("nd"),
        F.explode(
            F.slice(
                F.transform("toks", lambda s: s["shingle"]),
                1,
                nsz - min_overlap + 1,
            )
        ).alias("token"),
    )
    a = posting.select(
        "token", F.col("doc_id").alias("doc_a"), F.col("nd").alias("la")
    )
    b = posting.select(
        "token", F.col("doc_id").alias("doc_b"), F.col("nd").alias("lb")
    )
    cands = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.lit(den) * F.col("la") >= F.lit(num) * F.col("lb"))
            & (F.lit(den) * F.col("lb") >= F.lit(num) * F.col("la"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_pairs(arr, cands).filter(
        F.col("jaccard") >= F.lit(num) / F.lit(den)
    )


def incremental_near_dup(
    snapshot: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate check of an ingest BATCH against the existing
    corpus SNAPSHOT — the minhash analog of the exact-hash
    ``incremental_dedup``: at 100 TB you never re-run the corpus
    self-join per ingest; you keep the band-bucket table as a
    persistent index and join only the delta against it.

    Candidates come from batch-bucket ⋈ snapshot-bucket on the band
    key (NEVER batch×snapshot — the join volume is bucket-collisions
    only), then exact jaccard verification, so the reported duplicates
    are EXACTLY the ≥ threshold pairs (signatures are per-document,
    hence identical to what a full-corpus run computes; the existing
    engine-equality pytest pins LSH = exact on this corpus, and a
    batch-vs-snapshot restriction is a subset of those pairs).

    Emits one row per batch doc: (doc_id, is_dup, dup_of,
    best_jaccard) — dup_of is the best-matching snapshot doc
    (max jaccard, ties to the smallest snapshot id), null when clean.

    ``max_bucket`` (default None = exact) truncates SNAPSHOT bucket
    membership: a batch doc whose only near-dup ranks past the cap in
    EVERY shared band is silently reported clean — the same bounded
    trade minhash_lsh_pairs documents, acceptable only because a true
    pair has 32 bands to meet in. Leave None unless a boilerplate
    bucket measurably dominates the join.
    """
    arr_s = doc_shingle_arrays(snapshot, n)
    arr_b = doc_shingle_arrays(batch, n)
    bk_s = _band_buckets(
        minhash_signatures(_explode_shingles(arr_s), n_perm), n_perm, n_bands
    )
    bk_b = _band_buckets(
        minhash_signatures(_explode_shingles(arr_b), n_perm), n_perm, n_bands
    )
    if max_bucket is not None:
        # same degenerate-bucket guard as minhash_lsh_pairs: a
        # boilerplate bucket of B snapshot docs joined by b batch docs
        # costs b*B candidates — cap the SNAPSHOT side (the unbounded
        # one; the batch is ingest-sized by definition)
        bk_s = _cap_buckets(bk_s, max_bucket)
    cands = (
        bk_b.select(F.col("doc_id").alias("doc_a"), "bk")
        .join(bk_s.select(F.col("doc_id").alias("doc_b"), "bk"), "bk")
        .select("doc_a", "doc_b")
        .distinct()
    )
    # two-sided verify: a doc_id present in BOTH frames (stable-id
    # recrawl) resolves each pair side in its own corpus — the union
    # would double-count its shingles and a true dup could fall below
    # threshold (jaccard 1.0 computed as 0.33)
    verified = _verify_pairs(arr_b, cands, arr_b=arr_s).filter(
        F.col("jaccard") >= threshold
    )
    best = verified.groupBy("doc_a").agg(
        F.max("jaccard").alias("best_jaccard"),
        F.max_by(
            F.col("doc_b"), F.struct(F.col("jaccard"), (-F.col("doc_b")))
        ).alias("dup_of"),
    )
    return (
        batch.select("doc_id")
        .join(best.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            "best_jaccard",
        )
    )
