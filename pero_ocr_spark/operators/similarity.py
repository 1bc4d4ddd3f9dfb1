"""Similarity search over embedding columns (array<float>).

Training-data-pipeline operators:

  * brute-force cosine top-k — the correctness baseline. Norms are
    precomputed per row (one pass), the query side is broadcast
    (queries ≪ corpus), the dot product is a JVM fold
    (zip_with + aggregate) — no Python, no UDF.
  * bucketed ANN top-k — the 100 TB path: sign-of-projection LSH with
    DETERMINISTIC hyperplanes (arithmetic ±1 weights, reproducible in
    ANSI SQL so the oracle can replicate the bucketing exactly);
    candidates = same bucket → equi-join instead of cross join.
  * embedding near-dup pairs — pairs with cosine ≥ threshold among
    LSH-bucket candidates (bucket signatures within hamming ≤
    multi_probe); the bucketing prunes the self-join to an
    explode + equi-join — no cross join is ever built. Recall is
    banded (a qualifying pair whose signatures differ in more than
    multi_probe bits is missed); raise n_planes + multi_probe or
    run repeated independent plane sets to push recall up.

Scale notes: brute force is O(|Q|·|C|) — fine for |Q| small since the
corpus side never shuffles (broadcast hash join on nothing = cross
join with tiny right side). The ANN variant turns it into a shuffle on
bucket id; recall is tested against brute force separately (recall is
a property, not an oracle-equality target).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pero_ocr_spark.operators import materialize, spread_scan

N_PLANES = 8


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    d = _to_double(F.col(col))
    return spread_scan(emb).withColumn("nrm", F.sqrt(_dot(d, d)))


def cosine_col(ea: Column, na: Column, eb: Column, nb: Column, decimals: int = 6) -> Column:
    """The rounded cosine every oracle mirrors (round(dot/(|a||b|), 6))
    — defined once so precision changes propagate to all consumers."""
    return F.round(_dot(_to_double(ea), _to_double(eb)) / (na * nb), decimals)


def plane_weight_sql(i: str, j: int) -> str:
    """Deterministic ±1 hyperplane weight for dim i (1-based), plane j —
    plain arithmetic, identical in Spark SQL and DuckDB."""
    return f"(CASE WHEN ({i} * 31 + {j} * 17) % 7 < 3 THEN 1.0 ELSE -1.0 END)"


def _bucket_expr(col: str, n_planes: int = N_PLANES) -> str:
    """Spark SQL expression: LSH bucket id = sign bits of n_planes
    deterministic projections."""
    bits = []
    for j in range(n_planes):
        proj = (
            f"aggregate(zip_with(sequence(1, size({col})), {col}, "
            f"(i, x) -> {plane_weight_sql('i', j)} * cast(x AS double)), "
            f"cast(0.0 AS double), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def with_bucket(emb: DataFrame, col: str = "embedding", n_planes: int = N_PLANES) -> DataFrame:
    return emb.withColumn("bucket", F.expr(_bucket_expr(col, n_planes)))


def _ranked_topk(joined: DataFrame, k: int) -> DataFrame:
    """Rank candidates per query by rounded cosine desc, id asc
    (deterministic tiebreak), keep top k."""
    sim = F.round(
        _dot(_to_double(F.col("q_emb")), _to_double(F.col("c_emb")))
        / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        joined.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Brute-force cosine top-k: exact baseline."""
    base = with_norm(emb)
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    joined = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _ranked_topk(joined, k)


def ann_bucketed_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id",
    n_planes: int = N_PLANES, multi_probe: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN with multi-probe: candidates = corpus rows in
    any bucket within hamming ≤ multi_probe of the query's bucket
    (probing is an explode + equi-join — the cross join never
    happens). Ranking semantics identical to cosine_topk over the
    candidate set."""
    base = with_bucket(with_norm(emb), n_planes=n_planes)
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    if multi_probe > 0:
        # probe list: own bucket + all buckets at hamming 1 (xor each bit)
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("long")
                for j in range(n_planes)
            ],
        )
        queries = queries.withColumn("bucket", F.explode(probes))
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        "bucket",
    )
    # no distinct needed: probe values are distinct per query and a
    # corpus row has exactly one bucket, so each (query, neighbor)
    # pair matches at most once
    joined = corpus.join(F.broadcast(queries), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _ranked_topk(joined, k)


def _probe_buckets(n_planes: int, multi_probe: int) -> Column:
    """Array of all bucket ids within hamming ≤ multi_probe of the
    row's bucket (own bucket, then xor of every 1- and 2-bit mask)."""
    masks = [0]
    if multi_probe >= 1:
        masks += [1 << j for j in range(n_planes)]
    if multi_probe >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if multi_probe >= 3:
        raise ValueError("multi_probe > 2 not supported; raise n_planes instead")
    return F.array(
        *[F.col("bucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks]
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
    multi_probe: int = 2,
) -> DataFrame:
    """Pairs with cosine ≥ threshold among LSH candidates: signatures
    within hamming ≤ multi_probe. One side explodes its probe list and
    the pair space is an equi-join on bucket — the O(n²) cross join
    never exists in the plan. Each qualifying pair matches exactly
    once (probe values are distinct; the other side has one bucket).
    """
    base = with_bucket(with_norm(emb), n_planes=n_planes)
    a = base.select(
        F.col(id_col).alias("doc_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    ).withColumn("bucket", F.explode(_probe_buckets(n_planes, multi_probe)))
    b = base.select(
        F.col(id_col).alias("doc_b"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        "bucket",
    )
    sim = F.round(
        _dot(_to_double(F.col("q_emb")), _to_double(F.col("c_emb")))
        / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    centroid_offset: int = 100,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN — the coarse-quantizer scale path complementing the LSH
    variant: every corpus row is assigned to its nearest centroid cell
    (argmax cosine, ties to the lowest cell id), queries probe their
    ``n_probe`` best cells, and the exact ranking runs over the probed
    cells only. Candidates arrive through an equi-join on cell id with
    the tiny probe side broadcast — the cross join never exists.

    Centroids are a deterministic corpus sample (``vec_id ∈ [offset,
    offset+n_cells)``) standing in for a trained k-means codebook: the
    data flow (assign → inverted cells → probe) is exactly the
    production IVF shape; swap the centroid frame for trained
    centroids at scale. Assignment is ONE shuffle (groupBy vec_id with
    map-side partial max_by); at 10^12 rows the scored frame is a
    broadcast nested-loop against n_cells rows — linear, no pairwise
    blowup."""
    base = with_norm(emb)
    cents = base.filter(
        (F.col(id_col) >= centroid_offset)
        & (F.col(id_col) < centroid_offset + n_cells)
    ).select(
        (F.col(id_col) - centroid_offset).alias("cell"),
        F.col("embedding").alias("cent"),
        F.col("nrm").alias("cnrm"),
    )
    cs = _dot(_to_double(F.col("embedding")), _to_double(F.col("cent"))) / (
        F.col("nrm") * F.col("cnrm")
    )
    scored = base.crossJoin(F.broadcast(cents)).withColumn("cs", cs)
    assign = (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct("cell", "embedding", "nrm"),
                F.struct(F.col("cs").alias("s"), (-F.col("cell")).alias("nc")),
            ).alias("b")
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("b.cell").alias("cell"),
            F.col("b.embedding").alias("c_emb"),
            F.col("b.nrm").alias("c_nrm"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cs").desc(), F.col("cell"))
    probes = (
        scored.filter(F.col(id_col).isin(query_ids))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= n_probe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            "cell",
        )
    )
    joined = assign.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _ranked_topk(joined, k)


def kmeans_assign(
    emb: DataFrame, k: int = 8, iters: int = 3, id_col: str = "vec_id",
    with_dist: bool = False,
) -> DataFrame:
    """Lloyd k-means over the embedding column — the trained coarse
    quantizer ``ivf_topk`` documents swapping in, and the clustering
    step of cluster-then-dedup curation (SemDeDup shape: dedup within
    semantic clusters, not across the whole corpus).

    Deterministic end to end: init centroids are the first ``k`` ids,
    assignment ties break to the lowest cell, and per-dim means are
    rounded to 6 decimals each iteration so the fixed point does not
    depend on floating summation order (both the engine and any SQL
    replica agree bit-for-bit on the rounded codebook).

    Scale shape: the classic distributed k-means loop — per iteration
    ONE broadcast of k·dim doubles, one map-side-combinable argmin
    (``min_by`` groupBy), one per-(cell, dim) mean aggregate. The
    corpus is never shuffled on anything but ``id_col``; centroids
    (k·dim values) are the only driver-side state.
    """
    if iters < 1:
        raise ValueError("kmeans_assign needs iters >= 1")
    spark = emb.sparkSession
    # the per-iteration distance fold re-runs over the scan
    # partitioning — spread a starved single-file local scan once so
    # every Lloyd iteration parallelizes (no-op on a multi-split scan);
    # persist the parsed doubles: the loop scans them ~3x per iteration
    # (argmin, means join, init collect) and the interpreted array cast
    # dominates re-reads (classic k-means "cache the points")
    base = materialize(
        spread_scan(emb.select(id_col, _to_double(F.col("embedding")).alias("e")))
    )
    # round init centroids ENGINE-side: SQL round is half-away-from-zero
    # in both Spark and DuckDB, while Python's round is half-even — a
    # float32 multiple of 1/128 lands exactly on a 5e-7 boundary and
    # would diverge
    inits = (
        base.filter(F.col(id_col) < k)
        .orderBy(id_col)
        .select(
            id_col,
            F.transform(F.col("e"), lambda x: F.round(x, 6)).alias("c"),
        )
        .collect()
    )
    cent_pairs = [(int(r[id_col]), [float(v) for v in r["c"]]) for r in inits]
    assign = None
    for it in range(iters):
        cent_df = spark.createDataFrame(
            cent_pairs, "cell long, cent array<double>"
        )
        dist = F.aggregate(
            F.zip_with(F.col("e"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = base.crossJoin(F.broadcast(cent_df)).withColumn("d", dist)
        assign = scored.groupBy(id_col).agg(
            F.min_by("cell", F.struct("d", "cell")).alias("cell"),
            # the argmin's own distance, for the outlier tier; the
            # in-row fold adds dims IN ORDER, so the 6-dp round is the
            # same bits as the serial oracle's list_sum by construction
            F.round(F.min("d"), 6).alias("dist"),
        )
        if it == iters - 1:
            break  # the final assignment IS the result; no means needed
        # per-dim avg expressions instead of posexplode + a second
        # (cell, pos) shuffle + the collect_list rebuild: the SAME
        # Average aggregate over the same values (partial-agg order is
        # nondeterministic in both forms; the 6-dp round is the
        # established order-robust fixed point), two fewer shuffles
        # per Lloyd barrier job
        dims_n = len(cent_pairs[0][1])
        means = (
            assign.join(base, id_col)
            .groupBy("cell")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at("e", i + 1)), 6)
                        for i in range(dims_n)
                    ]
                ).alias("cent")
            )
            .collect()
        )
        # emptied cells simply drop out; surviving cells KEEP their ids
        cent_pairs = sorted(
            (int(r["cell"]), list(r["cent"])) for r in means
        )
    if with_dist:
        return assign.select(
            F.col(id_col), F.col("cell").cast("long").alias("cell"), "dist"
        )
    return assign.select(
        F.col(id_col), F.col("cell").cast("long").alias("cell")
    )


# ---------------------------------------------------------- quantization

def with_sq8(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization (SQ8): per-vector scale = max|x|/127,
    q_i = round(x_i / scale) ∈ [-127, 127].

    The 100 TB storage/bandwidth lever for the similarity family: an
    int8 vector is 4× smaller than float32, so the candidate scan
    reads a quarter of the bytes, and cosine over the QUANTIZED
    vectors needs no dequantization at all — the per-vector scales
    cancel in dot/(|a||b|). Pure Catalyst (transform/aggregate), stays
    in codegen; no UDF, no Python."""
    d = _to_double(F.col(col))
    amax = F.aggregate(d, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    q = F.transform(d, lambda x: F.round(x / scale, 0).cast("int"))
    return emb.withColumn("q_emb", q).withColumn("q_scale", scale)


def quantized_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Brute-force top-k over SQ8 vectors: ranking runs entirely on
    int8 codes (scales cancel in the cosine), same deterministic
    (cosine desc, id asc) tiebreak as the exact baseline."""
    qd = _to_double(F.col("q_emb"))
    base = with_sq8(emb).withColumn("qn", F.sqrt(_dot(qd, qd)))
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("q_emb").alias("q_emb_q"),
        F.col("qn").alias("qn_q"),
    )
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("q_emb").alias("q_emb_c"),
        F.col("qn").alias("qn_c"),
    )
    sim = F.round(
        _dot(_to_double(F.col("q_emb_q")), _to_double(F.col("q_emb_c")))
        / (F.col("qn_q") * F.col("qn_c")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id")
    )
    return (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qcosine", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcosine", "rank")
    )


def hard_negative_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    dup_gate: float = 0.98,
    n_planes: int = N_PLANES,
    multi_probe: int = 2,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k MOST-similar vectors carrying a DIFFERENT label — the
    negatives that actually move a contrastive loss (random negatives
    are trivially separable; the informative ones live just outside
    the class boundary). Candidates above ``dup_gate`` cosine are
    excluded as probable false negatives (near-duplicate twins whose
    label disagrees by annotation noise — mining them as negatives is
    the classic way to poison the loss).

    Same LSH candidate generation as :func:`ann_bucketed_topk`
    (anchor probes every bucket within hamming ≤ ``multi_probe``;
    candidates arrive through an equi-join on bucket — no cross join
    in the plan), with the label inequality and the dup gate applied
    to the candidate stream before ranking. Deterministic
    (cosine desc, id asc) tiebreak.

    Output: (query_id, neighbor_id, cosine, rank).
    """
    base = with_bucket(with_norm(emb), n_planes=n_planes)
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col(label_col).alias("q_label"),
        "bucket",
    ).withColumn("bucket", F.explode(_probe_buckets(n_planes, multi_probe)))
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col(label_col).alias("c_label"),
        "bucket",
    )
    sim = F.round(
        _dot(_to_double(F.col("q_emb")), _to_double(F.col("c_emb")))
        / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        corpus.join(F.broadcast(queries), "bucket")
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("c_label") != F.col("q_label"))
        )
        .withColumn("cosine", sim)
        .filter(F.col("cosine") < dup_gate)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def margin_topk(
    emb: DataFrame,
    query_ids: list[int],
    k_nn: int = 4,
    k_out: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Margin-based pair mining (the Artetxe & Schwenk bitext-mining
    criterion): candidate score is the RATIO of the pair's cosine to
    the mean cosine of each side's k-NN neighborhood,

        margin(q, c) = cos(q, c) / ((avgk(q) + avgk(c)) / 2)

    which suppresses hub vectors — points globally close to everything
    score no margin even at high raw cosine. Emits the top ``k_out``
    candidates per query by margin (deterministic tiebreak on id).

    Neighborhoods are defined over the query↔corpus candidate pairs
    themselves: avgk(q) over the corpus, avgk(c) over the query set —
    both computable from the ONE broadcast cross product, so the plan
    is: corpus ⋈ broadcast(queries) → two windows (query_id;
    neighbor_id) → final top-k window. The corpus never self-joins. At
    10^12 docs mining runs per query-chunk with exactly this plan; the
    neighbor-keyed window shuffles |corpus|×|Q| rows, bounded by the
    chunk size |Q|.
    """
    base = with_norm(emb)
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    pairs = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            cosine_col(
                F.col("q_emb"), F.col("q_nrm"), F.col("c_emb"), F.col("c_nrm")
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    wc = Window.partitionBy("neighbor_id").orderBy(
        F.col("cosine").desc(), F.col("query_id")
    )
    ranked = pairs.withColumn("rq", F.row_number().over(wq)).withColumn(
        "rc", F.row_number().over(wc)
    )
    avg_q = ranked.filter(F.col("rq") <= k_nn).groupBy("query_id").agg(
        F.avg("cosine").alias("avgk_q")
    )
    avg_c = ranked.filter(F.col("rc") <= k_nn).groupBy("neighbor_id").agg(
        F.avg("cosine").alias("avgk_c")
    )
    scored = (
        pairs.join(F.broadcast(avg_q), "query_id")
        .join(avg_c, "neighbor_id")
        .withColumn(
            "margin",
            F.round(
                F.col("cosine") * 2 / (F.col("avgk_q") + F.col("avgk_c")), 6
            ),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.col("margin").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wm).cast("long"))
        .filter(F.col("rank") <= k_out)
        .select("query_id", "neighbor_id", "cosine", "margin", "rank")
    )


def _round_half_away(x: float, nd: int = 6) -> float:
    """Round-half-away-from-zero — matches Spark's F.round / DuckDB
    round, NOT Python's banker's round (driver-side normalization must
    agree with the plan-side rounding everywhere else)."""
    import math

    p = 10.0 ** nd
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def top_component(
    emb: DataFrame, iterations: int = 3, id_col: str = "vec_id"
) -> DataFrame:
    """Top principal direction of the embedding cloud by DISTRIBUTED
    power iteration, and each vector's projection onto it — the
    1-component PCA every embedding-curation stack wants first
    (outlier scoring along the dominant axis, de-biasing the dominant
    direction before cosine dedup à la all-but-the-top).

    v ← Σ_rows x·(xᵀv), normalized by max|v_i| per step (direction-
    preserving, FP-order-independent). The Gram matrix is never
    materialized: each step is ONE map-side-combinable aggregation of
    dim partial sums; the driver holds dim scalars (the k-means
    codebook pattern). Float parity: the per-row terms are rounded and
    summed as DECIMAL(38,12) — exact, order-independent — so Spark's
    partial-agg tree and the oracle's serial sum agree bit-for-bit
    (zipf_fit's technique); the normalized vector re-rounds to 6.

    Scale: 1 pass over the corpus per iteration, shuffle-free (the agg
    reduces to one row); dims² never appears, so it holds at any
    corpus size and any dim where dim doubles fit one driver row.
    """
    # the frame is scanned iterations+2 times (dim probe, one agg per
    # power step, final projection) — persist the parsed doubles once
    # so the parquet read + array cast don't repeat per iteration
    base = materialize(
        spread_scan(emb.select(id_col, _to_double(F.col("embedding")).alias("d")))
    )
    n_dims = len(base.select("d").first()["d"])
    v = [1.0] * n_dims
    for _ in range(iterations):
        lit_v = F.array(*[F.lit(float(x)) for x in v])
        dot = F.round(_dot(F.col("d"), lit_v), 9)
        sums = base.agg(
            *[
                F.sum(
                    F.round(F.element_at("d", i + 1) * dot, 9).cast(
                        "decimal(38,12)"
                    )
                ).alias(f"s{i}")
                for i in range(n_dims)
            ]
        ).collect()[0]
        raw = [float(sums[f"s{i}"]) for i in range(n_dims)]
        m = max(abs(x) for x in raw)
        v = [_round_half_away(x / m, 6) for x in raw]
    lit_v = F.array(*[F.lit(float(x)) for x in v])
    return base.select(
        id_col, F.round(_dot(F.col("d"), lit_v), 6).alias("projection")
    )


def rank_fusion(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k_rrf: int = 60,
    top_k: int = 20,
    list_k: int = 50,
) -> DataFrame:
    """Reciprocal-rank fusion of a LEXICAL retriever (Okapi BM25 over
    the documents table) and a SEMANTIC retriever (cosine against a
    query embedding): rrf = Σ 1/(k + rank) over the lists that
    retrieved the doc — the standard hybrid-search combiner, rank-only
    so the two incomparable score scales never mix.

    Plan shape: both retrievers produce a top-``list_k`` list (BM25's
    explode collapses to query-term hits at the scan; the cosine side
    is one broadcast of the single query vector over the embedding
    scan), fused with ONE full-outer join on tiny lists. The corpus is
    scanned twice — once per modality — and nothing corpus-sized
    shuffles. The rrf terms are exact rationals in double (1/(60+r)),
    so cross-engine determinism is free.
    """
    from pero_ocr_spark.operators.textstats import bm25_search

    lex = bm25_search(docs, query_terms, top_k=list_k).select(
        F.col("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .cast("long")
        .alias("lex_rank"),
    )
    base = with_norm(emb)
    q = base.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    sem = (
        base.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            cosine_col(
                F.col("q_emb"), F.col("q_nrm"), F.col("embedding"), F.col("nrm")
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "cosine")
        # distributed top-k (TakeOrdered — per-partition heads, no
        # global sort); the rank window then runs on list_k rows only
        .orderBy(F.col("cosine").desc(), F.col("doc_id"))
        .limit(list_k)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("cosine").desc(), F.col("doc_id")))
            .cast("long")
            .alias("sem_rank"),
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").withColumn(
        "rrf_score",
        F.round(
            F.coalesce(1.0 / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("sem_rank")), F.lit(0.0)),
            9,
        ),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= top_k)
        .select("doc_id", "lex_rank", "sem_rank", "rrf_score", "fused_rank")
    )


def _lloyd_multi(
    subs: DataFrame, k: int, iters: int, id_col: str = "vec_id"
) -> tuple[DataFrame, list[tuple[int, int, list[float]]]]:
    """Lloyd loop over a combined (id, j, e: array<double>) frame that
    holds EVERY subspace slice, keyed by subspace index ``j`` — all m
    quantizers advance in one job chain instead of m concurrent
    driver-thread chains (3 collect barriers total vs 3·m; on a real
    cluster with m=8..64 subspaces the per-loop job-submission and
    shuffle count would otherwise scale with m). Arithmetic per
    subspace is kmeans_assign's exactly: init = first k ids rounded to
    6, ties to the lowest cell, per-dim means re-rounded to 6 per
    step. Returns the final (id, j, cell) assignment and the codebook
    [(j, cell, centroid)] (product quantization needs the codebook for
    the ADC tables)."""
    spark = subs.sparkSession
    inits = (
        subs.filter(F.col(id_col) < k)
        .select(
            "j",
            F.col(id_col).alias("cell"),
            F.transform(F.col("e"), lambda x: F.round(x, 6)).alias("c"),
        )
        .collect()
    )
    cent_pairs = sorted(
        (int(r["j"]), int(r["cell"]), [float(v) for v in r["c"]])
        for r in inits
    )
    assign = None
    for it in range(iters):
        cent_df = spark.createDataFrame(
            cent_pairs, "j long, cell long, cent array<double>"
        )
        dist = F.aggregate(
            F.zip_with(F.col("e"), F.col("cent"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = subs.join(F.broadcast(cent_df), "j").withColumn("d", dist)
        assign = scored.groupBy(id_col, "j").agg(
            F.min_by("cell", F.struct("d", "cell")).alias("cell")
        )
        if it == iters - 1:
            break
        # same per-dim avg shape as kmeans_assign's means job (two
        # fewer shuffles per barrier; identical Average aggregates)
        w_n = len(cent_pairs[0][2])
        means = (
            assign.join(subs, [id_col, "j"])
            .groupBy("j", "cell")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at("e", i + 1)), 6)
                        for i in range(w_n)
                    ]
                ).alias("cent")
            )
            .collect()
        )
        cent_pairs = sorted(
            (int(r["j"]), int(r["cell"]), list(r["cent"])) for r in means
        )
    return assign, cent_pairs


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC — Jégou et al.): the vector splits into ``m`` subspaces, each
    trained with its own ``ksub``-cell Lloyd quantizer, and a vector's
    code is the m-tuple of nearest cells — dim·4 bytes collapse to m
    codes. Search never decodes: per query, an m×ksub lookup table of
    exact query↔centroid subdistances is built once, and a candidate's
    distance is m table lookups summed.

    This is the missing third leg of the quantization suite (IVF cells
    route, SQ8 shrinks scans, PQ compresses residual geometry); at
    10^12 vectors PQ codes are what actually fits in memory.

    Plan shape: training = ONE combined Lloyd loop over the exploded
    (id, subspace, slice) frame — all m quantizers advance together
    (broadcast codebook keyed by subspace, min_by argmin, rounded
    means; 3 collect barriers total instead of 3·m); encoding = one
    pivot of the final (id, j, cell) assignment into the m-code row
    (one shuffle, not m joins); search = m broadcast LUT joins onto
    the code table — the corpus side carries only (id, m codes),
    never the vectors. Driver state: m·ksub·(dim/m) centroid doubles
    + the LUTs. Float parity: LUT entries are python-summed then
    rounded to 9 (matching the oracle's sequential list_sum), and the
    final ADC sum is a FIXED-ORDER 4-term addition rounded to 6.
    """
    # base feeds three consumers (the dim probe, the query collect, the
    # subspace explode) — checkpoint so the array cast parses once
    base = materialize(
        spread_scan(emb.select(id_col, _to_double(F.col("embedding")).alias("e")))
    )
    dims = len(base.select("e").first()["e"])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    w = dims // m
    spark = emb.sparkSession

    q_rows = {
        int(r[id_col]): [float(v) for v in r["e"]]
        for r in base.filter(F.col(id_col).isin(query_ids)).collect()
    }
    # one row per (vector, subspace) with the slice — every Lloyd
    # step scans this, so persist the parsed/sliced form once
    subs = materialize(
        base.select(
            id_col,
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).cast("long").alias("j"),
                        F.slice("e", j * w + 1, w).alias("e"),
                    )
                    for j in range(m)
                ])
            ).alias("s"),
        )
        .select(id_col, F.col("s.j").alias("j"), F.col("s.e").alias("e"))
    )

    assign, cents = _lloyd_multi(subs, ksub, iters, id_col)

    # ONE combined (query_id, j, code, l) LUT instead of m per-subspace
    # frames: a single broadcast join onto the (id, j, cell) assignment
    # attaches every subdistance, and ONE pivot rebuilds the m-wide row
    # (the former shape — m broadcast joins after a codes pivot —
    # computed the identical l values but paid m join subtrees of plan
    # + codegen, the dominant cold cost of this query's suite row)
    lut_rows = []
    for qid, qv in q_rows.items():
        for cj, cell, cent in cents:
            qs = qv[cj * w : (cj + 1) * w]
            d = 0.0
            for i in range(w):
                d += (qs[i] - cent[i]) * (qs[i] - cent[i])
            lut_rows.append((qid, cj, cell, _round_half_away(d, 9)))
    lut = spark.createDataFrame(
        lut_rows, "query_id long, j long, code long, l double"
    )
    per = assign.join(
        F.broadcast(lut),
        (assign["j"] == lut["j"]) & (assign["cell"] == lut["code"]),
    ).select(id_col, "query_id", assign["j"].alias("j"), "l")
    # exactly one l per (id, query_id, j), so first() is deterministic
    out = (
        per.groupBy(id_col, "query_id")
        .pivot("j", list(range(m)))
        .agg(F.first("l"))
        .select(
            id_col, "query_id",
            *[F.col(str(j)).alias(f"l{j}") for j in range(m)],
        )
    )
    adc = F.round(
        F.col("l0") + F.col("l1") + F.col("l2") + F.col("l3"), 6
    ) if m == 4 else F.round(
        sum((F.col(f"l{j}") for j in range(1, m)), F.col("l0")), 6
    )
    scored = (
        out.filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adc.alias("adc_dist"),
        )
    )
    wnd = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wnd).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


BIN_WORD_BITS = 32


def binary_word_sql(col: str, word: int, lo: int, hi: int) -> str:
    """Spark SQL expression for sign-pattern word ``word``: bit ``i-lo``
    set iff dimension ``i`` (0-based, ``lo <= i < hi``) is positive.

    32 bits per BIGINT word, not 64: DuckDB raises Out-of-Range on
    ``(1::BIGINT) << 63`` (signed overflow), so the portable packing
    keeps every shift <= 31 and every word non-negative — the oracle
    runs the IDENTICAL arithmetic. OR-fold, so there is no carry and
    no overflow in either engine."""
    return (
        f"aggregate(transform(sequence({lo}, {hi - 1}), "
        f"i -> CASE WHEN cast(element_at({col}, i + 1) AS double) > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), CAST(i - {lo} AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc | v)"
    )


def binary_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    cands: int = 40,
    id_col: str = "vec_id",
) -> DataFrame:
    """Binary (1-bit sign) quantization ANN with exact rerank — the
    fourth leg of the quantization suite (IVF routes cells, SQ8
    shrinks scans, PQ compresses geometry, BINARY collapses a vector
    to dim/8 bytes of sign pattern; Charikar's SRP hash degenerated to
    the identity hyperplanes).

    A 64-dim float vector becomes two BIGINT words (16 bytes vs 256),
    and the candidate scan ranks by Hamming distance — ``bit_count(
    xor(word, word))`` summed in fixed word order, all integer, so
    cross-engine exact. The top ``cands`` per query by (hamming asc,
    id asc) are then reranked by exact cosine over the full vectors.

    Plan shape at 10^12 vectors: the corpus side of the scan carries
    ONLY (id, code words) — the full vector never shuffles; the tiny
    query code set broadcasts; the rerank fetches full vectors for
    just cands x |queries| rows through one equi-join back to the
    embedding table. Everything is codegen array/bit arithmetic — no
    UDF, no Python."""
    base = with_norm(emb)
    dims = len(base.select("embedding").first()["embedding"])
    n_words = (dims + BIN_WORD_BITS - 1) // BIN_WORD_BITS
    code = F.array(*[
        F.expr(binary_word_sql(
            "embedding", w, w * BIN_WORD_BITS,
            min((w + 1) * BIN_WORD_BITS, dims),
        ))
        for w in range(n_words)
    ])
    coded = base.withColumn("code", code)
    queries = coded.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("code").alias("q_code"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # Hamming scan over codes only — fixed-order integer word sum
    ham = F.aggregate(
        F.zip_with(
            "q_code", "c_code",
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        coded.select(
            F.col(id_col).alias("neighbor_id"), F.col("code").alias("c_code")
        )
        .crossJoin(F.broadcast(queries.select("query_id", "q_code")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham)
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("hamming"), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= cands)
        .select("query_id", "neighbor_id", "hamming")
    )
    cvec = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    joined = cand.join(cvec, "neighbor_id").join(
        F.broadcast(queries.select("query_id", "q_emb", "q_nrm")), "query_id"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        joined.withColumn(
            "cosine",
            cosine_col(
                F.col("q_emb"), F.col("q_nrm"), F.col("c_emb"), F.col("c_nrm")
            ),
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    )


def kmeans_outlier_scores(
    emb: DataFrame, k: int = 8, iters: int = 3, z_thresh: float = 1.5
) -> DataFrame:
    """Embedding-space outlier scoring — the curation complement of
    SemDeDup: where near-dups are the points too CLOSE to their
    semantic cluster's members, noise/mislabeled/off-distribution docs
    are the points too FAR from their own centroid. Emits per vector
    (cell, dist, z, is_outlier) with z the within-cell standard score
    of the squared L2 distance to the assigned centroid.

    Cross-engine exactness: dist is the k-means fold's 6-dp round
    (bit-stable, see kmeans_assign); the per-cell moments sum EXACT
    decimals (d as DECIMAL(18,6), d² as its exact decimal square), so
    mean/variance come from order-independent sums; the only float ops
    after that — divide, subtract, sqrt — are IEEE-correctly-rounded,
    so both engines compute the identical double before the final 6-dp
    z round. Zero-variance cells disable the rule (z = 0) instead of
    dividing by zero.

    Scale shape: the k-means loop's cost dominates; the outlier pass
    adds ONE map-side-combinable per-cell aggregate (3 numbers per
    cell) broadcast back onto the assignment — nothing corpus-sized
    moves.
    """
    # the final-assignment subtree (crossJoin + min_by argmin over the
    # corpus) is consumed TWICE — the per-cell moment aggregate and the
    # score join — and finalized plans do not share it; materialize once
    assign = materialize(kmeans_assign(emb, k=k, iters=iters, with_dist=True))
    d6 = F.col("dist").cast("decimal(18,6)")
    stats = assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6).alias("s1"),
        F.sum(d6 * d6).alias("s2"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    var = (s2 - s1 * s1 / n) / n
    mean = s1 / n
    z = F.when(
        var > 0, F.round((F.col("dist") - mean) / F.sqrt(var), 6)
    ).otherwise(F.lit(0.0))
    return assign.join(F.broadcast(stats), "cell").select(
        "vec_id", "cell", "dist", z.alias("z"),
        (z > z_thresh).alias("is_outlier"),
    )
