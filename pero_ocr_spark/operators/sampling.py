"""Corpus sampling and training-sequence packing.

The table-scale data-prep stages a training pipeline runs after
dedup/quality filtering: deterministic stratified sampling by source
(per-stratum keep quotas applied through a doc-id residue rule — no
RNG, rerun-stable, reproducible in ANSI SQL), and greedy token-budget
sequence packing (the corpus-level generalization of width-sorted
batch packing, ``ocr_engine/line_ocr_engine.py:79-91``: documents are
packed into fixed-token training sequences).

Scale shape: sampling is a pure filter — the predicate pushes into the
parquet scan and no shuffle happens at all. Packing windows partition
by a doc-derived bucket, so the cumulative sums run parallel per
bucket and never serialize into one global sort — the same distributed
design as ``lineage.repartition_weighted``, expressed as a reusable
table operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import HASH_P, poly_hash


def _residue(mod: int) -> F.Column:
    """Deterministic pseudo-random residue of doc_id in [0, mod) —
    an LCG step mod a Mersenne prime, then mod ``mod``. Portable
    integer arithmetic (reproducible in ANSI SQL, no overflow for
    doc_id < 2^47) and DECORRELATED from any doc_id % k stratum
    structure (the raw residue is not: e.g. source = src(doc_id % 20)
    makes doc_id % 100 take only 5 values per stratum). ``mod`` must
    be coprime with the multiplier 69069 (= 3·7·11·13·23): for ids
    below ~31k the LCG value never wraps mod 2^31-1, so a shared
    factor makes whole residue classes unreachable (mod 3 is CONSTANT
    — both constants divide by 3)."""
    import math

    if math.gcd(mod, 69_069) != 1:
        raise ValueError(
            f"residue mod {mod} shares a factor with the LCG multiplier "
            "69069 (3·7·11·13·23) and would be degenerate; pick a "
            "coprime mod (e.g. 16, 64, 100)"
        )
    return F.pmod(F.col("doc_id") * 69_069 + 12_345, F.lit(HASH_P)) % mod


def sample_stratified(docs: DataFrame, mod: int = 100) -> DataFrame:
    """Deterministic stratified sampling: each source stratum keeps a
    quota of ``10 + (stratum_index * 7) % 80`` docs per ``mod`` — a doc
    survives iff its hashed id residue falls under its stratum's quota.
    The hash residue is uniform and independent of the stratum, so the
    realized rate converges to quota/mod per stratum."""
    quota = (
        F.lit(10)
        + (F.substring("source", 4, 10).cast("long") * 7) % 80
    ).cast("long")
    return (
        docs.select("doc_id", "source", quota.alias("keep_quota"))
        .filter(_residue(mod) < F.col("keep_quota"))
    )


def _pack_by_cost(
    cost: DataFrame, budget: int, n_buckets: int, extra: list[str]
) -> DataFrame:
    """Shared greedy-packing machinery over a per-document cost frame
    (doc_id, n_tokens, *extra): within each doc bucket, documents (in
    deterministic doc_id order) go to the training sequence their
    cumulative-token START offset falls into — every sequence holds
    ≤ budget + one document of tokens. seq_id encodes (pack, bucket)
    as ``pack * n_buckets + bucket`` — collision-free for unbounded
    pack counts (a fixed per-bucket stride would alias adjacent
    buckets once a bucket exceeds stride·budget tokens). seq_pos is
    the document's position inside its sequence. The packing
    invariants live HERE once; both public packers delegate."""
    d = cost.withColumn(
        "bucket", (F.col("doc_id") % n_buckets).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = d.withColumn(
        "pack",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget).cast(
            "long"
        ),
    )
    wp = Window.partitionBy("bucket", "pack").orderBy("doc_id")
    return d.select(
        "doc_id",
        "bucket",
        (F.col("pack") * n_buckets + F.col("bucket")).cast("long").alias(
            "seq_id"
        ),
        "n_tokens",
        *extra,
        (F.row_number().over(wp) - 1).cast("long").alias("seq_pos"),
    )


def pack_sequences(
    docs: DataFrame, budget: int = 512, n_buckets: int = 32
) -> DataFrame:
    """Greedy token-budget packing of whole documents (cost = word
    count); see :func:`_pack_by_cost` for the packing invariants."""
    nt = F.size(F.split(F.col("text"), " ")).cast("long")
    return _pack_by_cost(
        docs.select("doc_id", nt.alias("n_tokens")), budget, n_buckets, []
    )


def sample_temperature(
    docs: DataFrame,
    alpha: float = 0.5,
    target_frac: float = 0.3,
    mod: int = 10_000,
) -> DataFrame:
    """Temperature-based data mixing (the multilingual/multi-source
    pretraining reweighting: sampling weight ∝ n_s^alpha, alpha < 1
    up-weights small sources): the corpus keeps ~target_frac of its
    rows, allocated across sources by the tempered weights, applied
    through the same deterministic hash residue as sample_stratified.

    Scale: source counts are a tiny aggregate broadcast back onto the
    scan; the keep decision is a per-row integer comparison."""
    c = docs.groupBy("source").agg(F.count("*").alias("n"))
    tot = c.agg(
        F.sum(F.pow("n", alpha)).alias("wtot"), F.sum("n").alias("ntot")
    )
    quota = (
        c.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.floor(
                mod
                * F.least(
                    F.lit(1.0),
                    target_frac
                    * F.col("ntot")
                    * (F.pow("n", alpha) / F.col("wtot"))
                    / F.col("n"),
                )
            )
            .cast("long")
            .alias("keep_threshold"),
        )
    )
    return (
        docs.join(F.broadcast(quota), "source")
        .filter(_residue(mod) < F.col("keep_threshold"))
        .select("doc_id", "source", "keep_threshold")
    )


def shard_shuffle(docs: DataFrame, n_shards: int = 64) -> DataFrame:
    """Deterministic global pseudo-random shuffle + sharding for
    training-data serving: every doc gets a shard in [0, n_shards) and
    a dense position within its shard, both pure functions of doc_id.

    shard = LCG residue (uniform, decorrelated from id structure);
    pos  = rank of a SECOND, independent LCG key within the shard —
    so reading shards in position order replays a stable pseudo-random
    permutation of the corpus without ever materializing one.

    Scale shape: this is the 10^12-row answer to "shuffle the corpus
    for training" — a single total-order sort is the classic driver
    bottleneck; here the only wide op is one hash shuffle on shard
    (each shard sorts locally and independently; with
    ``repartition(n_shards, shard).sortWithinPartitions(key)`` +
    ``partitionBy(shard)`` at write time the plan stays identical and
    the window disappears entirely). Ties broken by doc_id so the
    permutation is total and reproducible."""
    from pyspark.sql import Window

    shard = _residue(n_shards).cast("int")
    pos_key = F.pmod(F.col("doc_id") * 48_271 + 11, F.lit(HASH_P))
    w = Window.partitionBy("shard").orderBy("pos_key", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), pos_key.alias("pos_key"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def train_val_test_split(
    docs: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test assignment, stratified by
    construction: the split is a pure function of the hashed doc_id
    (LCG residue in [0,100)), so every source stratum receives the
    same expected proportions without a shuffle or a quota table —
    and the assignment is stable under corpus growth (adding docs
    never moves an existing doc between splits, the property that
    keeps eval sets frozen across corpus versions).

    Scale shape: a narrow projected CASE over the scan. Nothing else.
    """
    r = _residue(100)
    split = (
        F.when(r < test_pct, F.lit("test"))
        .when(r < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "source", split.alias("split"))


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Train/val/test assignment that near-duplicate clusters can never
    straddle: the split residue is computed on the doc's duplicate-
    CLUSTER id (its cluster's min doc_id), not the doc itself, so two
    near-identical documents always land in the same split.

    This is the guard :func:`train_val_test_split` lacks — with plain
    per-doc hashing, a training doc's near-twin lands in the eval set
    ~(val+test)% of the time, and the eval score silently measures
    memorization. Standard practice after fuzzy dedup clustering.

    ``clusters`` is the (doc_id, cluster_id) frame from
    :func:`pero_ocr_spark.operators.dedup.duplicate_clusters`; docs in
    no cluster are their own singleton group. The join is on doc_id
    (the cluster frame is duplicate-pairs-only, tiny vs the corpus —
    broadcast); the residue arithmetic is the same portable LCG as
    every other split rule here, applied to group_id.

    Output: (doc_id, group_id, split).
    """
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    r = F.pmod(group * 69_069 + 12_345, F.lit(HASH_P)) % 100
    split = (
        F.when(r < test_pct, F.lit("test"))
        .when(r < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.select("doc_id")
        .join(F.broadcast(clusters), "doc_id", "left")
        .select("doc_id", group.alias("group_id"), split.alias("split"))
    )


def sample_dsir(
    docs: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 64,
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio of a TARGET hashed
    n-gram distribution vs the RAW corpus distribution, keep documents
    that look more target-like than corpus-like.

    Features are hashed word unigrams (``n_buckets`` buckets of the
    portable polynomial hash); both distributions are Laplace-smoothed
    bucket frequencies estimated from the corpus itself — the target
    here is one source stratum, standing in for the curated reference
    corpus (Wikipedia/books) a production run would broadcast from a
    table instead.

        score(d) = mean_w [ ln p_t(b(w)) − ln p_r(b(w)) ],  keep ⇔ > 0

    Plan shape: the two distributions are vocabulary-bounded aggs
    (≤ ``n_buckets`` rows each) that BROADCAST back onto the exploded
    word stream together with the two one-row totals; the only
    corpus-wide shuffle is the final per-doc mean (map-side combined).
    Nothing corpus-sized is ever collected or broadcast.
    """
    stream = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .select(
            "doc_id",
            "source",
            F.pmod(poly_hash(F.col("word")), F.lit(n_buckets)).alias("b"),
        )
    )
    targ = (
        stream.filter(F.col("source") == target_source)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    raw = stream.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("cr")
    )
    tot_t = targ.agg(F.sum("ct").alias("tt"))
    tot_r = raw.agg(F.sum("cr").alias("tr"))
    logratio = F.log(
        (F.coalesce(F.col("ct"), F.lit(0.0)) + 1.0)
        / (F.col("tt") + F.lit(float(n_buckets)))
    ) - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.lit(float(n_buckets))))
    scored = (
        stream.join(F.broadcast(targ), "b", "left")
        .join(F.broadcast(raw), "b")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .groupBy("doc_id")
        .agg(F.round(F.avg(logratio), 6).alias("avg_logratio"))
    )
    return scored.withColumn("keep", F.col("avg_logratio") > 0)


def sample_epoch_mixing(docs: DataFrame, mod: int = 1000) -> DataFrame:
    """Epoch-weighted source mixing: replicate each document by its
    source's repetition factor — the training-mixture stage where
    high-quality sources run >1 epoch (e.g. Wikipedia x2.5) and bulk
    crawl runs <1 (the fractional part becomes a deterministic
    keep-probability via the portable LCG residue, so reruns are
    stable and no RNG is involved).

        w(source) ∈ {0.25, 0.5, …, 2.5};  n_copies = ⌊w⌋ + [res < frac·mod]

    The weights here are synthesized from the source id (no curated
    mixture table ships in this sandbox); production swaps in a
    broadcast (source → weight) lookup with the identical plan.

    Scale shape: ZERO shuffles — weight lookup, residue, and the
    epoch explode are all in-row; output size is the token budget
    (Σ n_copies), and the explode is bounded by max weight. Epoch
    index is materialized so downstream shard-shuffle can decorrelate
    copies across the training order.
    """
    sid = F.substring("source", 4, 10).cast("long")
    w = 0.25 + (sid * 7 % 10) / 4.0
    n_full = F.floor(w)
    frac = w - n_full
    extra = (_residue(mod) < frac * mod).cast("long")
    n_copies = (n_full + extra).cast("int")
    return (
        docs.select("doc_id", "source", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1), F.col("n_copies"))
            ).alias("epoch"),
            "n_copies",
        )
    )


def weighted_sample_aes(
    docs: DataFrame,
    weight: F.Column,
    k: int = 10,
    group_col: str = "source",
) -> DataFrame:
    """One-pass weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES, 2006): inclusion probability proportional to
    ``weight``, no RNG state — the reservoir-sampling analog that
    actually distributes.

    Each doc gets key = ln(u)/w with u a deterministic uniform from
    the first 48 bits of sha-256(doc_id) (shifted by +1 so u is never
    0); the k largest keys per group are the sample — provably the
    same distribution as sequential weighted sampling w/o replacement.
    Deterministic: same corpus → same sample, any partitioning, any
    cluster size (the property a seeded RNG per task does NOT have).

    Scale shape: key computation is in-row; selection is a rank<=k
    window per group (one exchange on group). The DuckDB oracle runs
    the identical arithmetic (ln of an exact 48-bit/2^48 dyadic
    rational, double division, same tiebreak).

    Non-positive weights are excluded BEFORE keying: A-ES assigns a
    doc with w <= 0 inclusion probability 0, but ln(u)/w would rank it
    FIRST (negative w flips the sign of a negative log) or null the
    key (w = 0 under non-ANSI division) — both silently corrupt the
    sample, so the guard is part of the operator's semantics.
    """
    from pyspark.sql import Window

    from pero_ocr_spark.operators.sketch import _hash48

    u = (_hash48(F.sha2(F.col("doc_id").cast("string"), 256)) + 1) / F.lit(
        float(1 << 48)
    )
    key = F.log(u) / weight
    w = Window.partitionBy(group_col).orderBy(
        F.col("aes_key").desc(), F.col("doc_id")
    )
    return (
        docs.filter(weight > 0)
        .select(group_col, "doc_id", weight.alias("w"), key.alias("aes_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            group_col,
            "doc_id",
            F.col("w").cast("double").alias("weight"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def pack_sequences_interleaved(
    spans: DataFrame,
    budget: int = 512,
    n_buckets: int = 32,
    media_tokens: int = 64,
) -> DataFrame:
    """Token-budget packing over INTERLEAVED text+media documents.

    Same greedy bucket packing as :func:`pack_sequences` (shared
    :func:`_pack_by_cost` machinery), but the per-document cost is
    modality-aware: text spans cost their word count, media spans a
    fixed ``media_tokens`` budget (the vision encoder's patch-token
    count — the constant a multimodal trainer actually reserves per
    image). Input is the extracted spans table (doc_id, kind, text,
    media_ref, ord); the per-doc cost agg reuses its existing doc_id
    partitioning, so packing adds only the bucket-window exchange.

    Output: (doc_id, bucket, seq_id, n_tokens, n_media, seq_pos).
    """
    cost = spans.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("kind") == "media", F.lit(media_tokens)).otherwise(
                F.size(F.split(F.col("text"), " "))
            )
        )
        .cast("long")
        .alias("n_tokens"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
        .cast("long")
        .alias("n_media"),
    )
    return _pack_by_cost(cost, budget, n_buckets, ["n_media"])


def balanced_shards(
    docs: DataFrame,
    n_shards: int = 64,
    cost_col: str = "n_chars",
    bucket_width: int = 4096,
) -> DataFrame:
    """Size-balanced shard assignment: documents (in doc_id order) are
    cut into ``n_shards`` contiguous shards of ~equal total cost, so
    output files come out uniform regardless of the document-size
    distribution — the sharding a corpus writer actually wants (hash
    sharding balances COUNTS; a 64x-skewed size distribution then
    yields 64x-skewed file sizes).

    shard(doc) = exclusive_prefix_sum(cost) DIV ceil(total/n_shards) —
    a pure function of the corpus, reproducible in ANSI SQL. The naive
    expression is a global cumulative-sum window (ORDER BY with no
    PARTITION BY — a single-partition sort, the classic scale killer).
    Here it is the textbook two-level distributed prefix sum instead:

      1. bucket = doc_id DIV bucket_width; per-bucket cost totals are
         one map-side-combined hash agg (rows/4096 output rows);
      2. EXCLUSIVE bucket offsets via a cum-sum window over that tiny
         bucket frame only (10^12 docs -> ~2.4e8 bucket rows; still a
         thousand-fold reduction, and the level can be repeated if the
         bucket frame itself ever needs it);
      3. offsets broadcast-join back; within each bucket the local
         exclusive cum-sum window runs PARALLEL per bucket.

    All arithmetic is integer (BIGINT sums, DIV) so Spark and the SQL
    oracle agree bit-for-bit at any scale. A document larger than the
    target shard size simply spans the budget of several shard ids
    (later docs land in higher shards); every shard's realized total
    stays < target + max_doc_cost.

    Output: (doc_id, cost, shard).
    """
    cost = F.col(cost_col).cast("long")
    base = docs.select(
        "doc_id",
        cost.alias("cost"),
        F.expr(f"doc_id DIV {bucket_width}").alias("bucket"),
    )
    target = base.agg(
        F.expr(f"CAST((sum(cost) + {n_shards} - 1) DIV {n_shards} AS BIGINT)")
        .alias("target")
    )
    bucket_tot = base.groupBy("bucket").agg(F.sum("cost").alias("btot"))
    over_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    offsets = bucket_tot.select(
        "bucket",
        (F.sum("btot").over(over_buckets) - F.col("btot")).alias("boff"),
    )
    in_bucket = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        base.withColumn(
            "cum_before", F.sum("cost").over(in_bucket) - F.col("cost")
        )
        .join(F.broadcast(offsets), "bucket")
        .crossJoin(F.broadcast(target))
        .select(
            "doc_id",
            "cost",
            F.expr("CAST((cum_before + boff) DIV target AS INT)").alias(
                "shard"
            ),
        )
    )


def skew_profile(
    docs: DataFrame,
    key: str = "source",
    cost_col: str = "n_chars",
    target_partitions: int = 32,
) -> DataFrame:
    """Pre-flight shuffle-skew profiler: per join/groupBy key, its row
    and byte share of the corpus, the skew factor vs a uniform key
    (share x n_keys), and the salt factor a skew-aware job would apply
    (how many sub-keys to split this key into so no reducer holds more
    than ~1/target_partitions of the data).

    This is the measurement HALF of explicit skew handling: run it on
    the candidate key BEFORE launching the 100 TB job, feed
    ``salt_factor`` to the salted repartition (the apply half —
    ``lineage.repartition_weighted`` for size skew, AQE skew-join for
    the rest). One map-side-combinable agg over the corpus; everything
    downstream (shares, window max) runs on |keys| rows.

    Output: (key, n_docs, total_cost, cost_share, skew_factor,
    salt_factor).
    """
    per = docs.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(cost_col).cast("long")).alias("total_cost"),
    )
    tot = per.agg(
        F.sum("total_cost").alias("_tot"),
        F.count(F.lit(1)).alias("_nkeys"),
    )
    share = F.col("total_cost") / F.col("_tot")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            key,
            "n_docs",
            "total_cost",
            F.round(share, 6).alias("cost_share"),
            F.round(share * F.col("_nkeys"), 6).alias("skew_factor"),
            F.greatest(
                F.lit(1),
                F.ceil(share * target_partitions).cast("int"),
            ).alias("salt_factor"),
        )
    )


def span_corruption(docs: DataFrame, mask_pct: int = 15) -> DataFrame:
    """T5-style span-corruption pair generation: ~``mask_pct``% of each
    document's tokens are masked by a deterministic position hash,
    CONSECUTIVE masked tokens collapse into one sentinel, and the doc
    becomes an (input, target) pair —

        input  = unmasked tokens with ``<extra_id_k>`` at each span
        target = ``<extra_id_k> span tokens ...`` + final sentinel

    exactly the denoising objective's data layout, generated in the
    engine instead of the training loader. The mask is a pure LCG over
    (doc_id, position) — no RNG state, identical in ANSI SQL — so every
    epoch regenerates the same pairs and resume is trivial.

    Plan shape: posexplode → three windows on the SAME (doc_id, pos)
    ordering (one sort, no extra exchange: lag, span-start running sum)
    → one groupBy(doc_id) reassembly via sorted-struct array_join. One
    shuffle on doc_id total; per-doc state is bounded by document
    length, the same bound every reassembly stage in the engine
    already carries.
    """
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    masked = (
        F.pmod(
            F.col("doc_id") * 1_103_515_245 + F.col("pos") * 69_069 + 12_345,
            F.lit(HASH_P),
        )
        % 100
        < mask_pct
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    t = (
        tok.withColumn("masked", masked)
        .withColumn(
            "span_start",
            F.col("masked")
            & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
        )
        .withColumn(
            "span_idx",
            F.sum(F.col("span_start").cast("long")).over(wrun),
        )
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("span_idx") - 1).cast("string"), F.lit(">")
    )
    t = t.select(
        "doc_id",
        "pos",
        "span_idx",
        F.when(~F.col("masked"), F.col("token"))
        .when(F.col("span_start"), sentinel)
        .alias("ip"),
        F.when(
            F.col("masked") & F.col("span_start"),
            F.concat(sentinel, F.lit(" "), F.col("token")),
        )
        .when(F.col("masked"), F.col("token"))
        .alias("tp"),
    )
    g = t.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("pos", "ip", "tp"))
        ).alias("arr"),
        F.max("span_idx").cast("long").alias("n_spans"),
    )
    final_sentinel = F.concat(
        F.lit("<extra_id_"), F.col("n_spans").cast("string"), F.lit(">")
    )
    return g.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("arr"), lambda s: s["ip"]), " "
        ).alias("input_text"),
        F.when(F.col("n_spans") == 0, F.lit("<extra_id_0>"))
        .otherwise(
            F.concat(
                F.array_join(
                    F.transform(F.col("arr"), lambda s: s["tp"]), " "
                ),
                F.lit(" "),
                final_sentinel,
            )
        )
        .alias("target_text"),
        "n_spans",
    )


def doremi_mixture(
    doc_losses: DataFrame, eta: float = 0.1
) -> DataFrame:
    """Domain-reweighting mixture from per-source loss — one
    exponentiated-gradient step of the DoReMi idea (Xie et al. 2023):
    up-weight domains where the model's loss EXCEEDS the best
    domain's, so the next training mix spends more tokens where
    learning headroom remains.

        excess(s) = mean_loss(s) − min_t mean_loss(t)
        weight(s) ∝ exp(η · excess(s)),  normalized over sources

    (Full DoReMi alternates proxy-model retraining with these steps;
    without a trainable model only the first step is honest, and one
    step is exactly what the published method contributes per round.)

    Input: (doc_id, source, loss) — e.g. the Kneser-Ney perplexity
    tier's per-doc ppl. Scale shape: ONE map-side-combinable source
    aggregation over the corpus (losses ride DECIMAL so partition
    order is ulp-exact); everything after runs on the |sources| frame:
    the min is a 1-row broadcast crossJoin, the normalizer a DECIMAL
    sum of 9-dp-rounded exp terms. No windows, no corpus second pass.
    """
    per_src = doc_losses.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("loss").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_loss"),
    )
    best = per_src.agg(F.min("mean_loss").alias("best_loss"))
    scored = per_src.crossJoin(F.broadcast(best)).select(
        "source",
        "n_docs",
        "mean_loss",
        F.round(F.col("mean_loss") - F.col("best_loss"), 6).alias("excess"),
        F.round(
            F.exp(F.lit(eta) * (F.col("mean_loss") - F.col("best_loss"))), 9
        )
        .cast("decimal(20,9)")
        .alias("__e"),
    )
    z = scored.agg(F.sum("__e").alias("__z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "mean_loss",
            "excess",
            F.round(
                F.col("__e").cast("double") / F.col("__z").cast("double"), 6
            ).alias("weight"),
        )
    )


def fim_transform(docs: DataFrame, fim_pct: int = 50) -> DataFrame:
    """FIM (fill-in-the-middle) document transform, PSM layout
    (Bavarian et al. 2022): for a deterministic ``fim_pct``% of
    documents, two LCG-derived cut points 0 ≤ a ≤ b ≤ n split the
    token sequence into prefix/middle/suffix and the document is
    re-serialized as

        <fim_prefix> P <fim_suffix> S <fim_middle> M

    so the model learns to infill conditioned on both sides; the rest
    pass through verbatim (the FIM-rate mixture of the paper). Cut
    points come from the same portable LCG family as every sampler in
    the engine — pure integer arithmetic on (doc_id, constants), no
    RNG state, bit-identical in ANSI SQL and at ANY partitioning, so
    every epoch regenerates the same corpus and resume is trivial.

    Plan shape: zero shuffles, zero Python — one narrow codegen
    projection (split → two slices → filtered join). Empty segments
    drop their slot instead of leaving double separators, so
    degenerate cuts (a=0, b=n, a=b) still serialize canonically.
    """
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    r = F.pmod(F.col("doc_id") * 69_069 + 12_345, F.lit(HASH_P)) % 100
    a = (
        F.pmod(F.col("doc_id") * 1_103_515_245 + 99_991, F.lit(HASH_P))
        % (n + 1)
    ).cast("int")
    b = (
        a
        + F.pmod(F.col("doc_id") * 69_069 + 54_321, F.lit(HASH_P))
        % (n - a + 1)
    ).cast("int")
    staged = docs.select(
        "doc_id", "text", words.alias("ws"), n.alias("n"),
        (r < fim_pct).alias("fim_applied"), a.alias("a"), b.alias("b"),
    )
    parts = F.array(
        F.lit("<fim_prefix>"),
        F.array_join(F.slice("ws", 1, F.col("a")), " "),
        F.lit("<fim_suffix>"),
        F.array_join(
            F.slice("ws", F.col("b") + 1, F.col("n") - F.col("b")), " "
        ),
        F.lit("<fim_middle>"),
        F.array_join(
            F.slice("ws", F.col("a") + 1, F.col("b") - F.col("a")), " "
        ),
    )
    fim_text = F.array_join(F.filter(parts, lambda x: x != ""), " ")
    return staged.select(
        "doc_id",
        "fim_applied",
        F.when(F.col("fim_applied"), fim_text).otherwise(F.col("text")).alias(
            "transformed"
        ),
        F.when(F.col("fim_applied"), F.col("a")).otherwise(F.col("n")).alias(
            "n_prefix"
        ),
        F.when(F.col("fim_applied"), F.col("b") - F.col("a"))
        .otherwise(F.lit(0))
        .alias("n_middle"),
        F.when(F.col("fim_applied"), F.col("n") - F.col("b"))
        .otherwise(F.lit(0))
        .alias("n_suffix"),
    )
