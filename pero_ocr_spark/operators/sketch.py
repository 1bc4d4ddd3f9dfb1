"""Cardinality sketches — HyperLogLog with portable arithmetic.

Distinct-count ESTIMATION without a corpus-wide distinct: at 10^12
documents a ``count(DISTINCT shingle)`` shuffles every unique shingle
string once (tens of TB of shuffle just to plan a dedup pass), while
the HLL register table shuffles at most ``m`` fixed-width rows per
group AFTER map-side combine — the classic Flajolet-Fuchs-Gandouet-
Meunier 2007 estimator, built from scratch on Catalyst expressions.

Portability contract (the DuckDB oracle runs the IDENTICAL
arithmetic): the entity hash is sha-256 (lowercase hex in both
engines), the register index is the first three hex nibbles mod m,
and the rank is 1 + the number of leading zero bits in the next
twelve nibbles (48 bits, rank capped at 49). Register max-aggregation
makes the sketch MERGEABLE: the union of two corpora's sketches is
the element-wise register max, which the ``ALL`` row demonstrates by
deriving the global estimate from the per-group register table rather
than from a second pass over the data.

Float-parity note: every ``2^-rank`` term is an exact power of two and
realistic ranks stay far below 43, so the register sum is exact in
binary64 regardless of summation order — the one place a distributed
double sum could diverge from a single-threaded oracle.

Scale shape: the gram fold and hashing are in-row; the only corpus
shuffle carries (scope, idx, rank) triples with map-side combine
(≤ m rows per scope reach the reducer); estimates aggregate a
register table of ``m × n_scopes`` rows. Nothing broadcasts, nothing
collects. The reference engine ships no sketch — this is a north-rule
scale operator (cardinality planning for dedup/vocab sizing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pero_ocr_spark.operators import materialize

# 2^10 registers: relative std error 1.04/sqrt(m) ~= 3.3%. The
# small-range (linear-counting) branch engages below 2.5*m = 2560
# distinct — at sf0.01 the per-source shingle counts (~1.2-1.5k) take
# that branch while the merged ALL row (~24k) takes the raw estimator,
# so one query exercises both code paths against the oracle.
M_REGISTERS = 1024
_ALPHA = 0.7213 / (1 + 1.079 / M_REGISTERS)
# rank is computed over 12 hex nibbles = 48 bits; all-zero tail -> 49
_RANK_NIBBLES = 12


def _nibble(h: Column, i: int) -> Column:
    """Value of 1-based hex nibble ``i`` of a lowercase hex string."""
    a = F.ascii(F.substring(h, i, 1))
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def hll_idx_rank(h: Column) -> tuple[Column, Column]:
    """(register index, rank) expressions over a lowercase-hex sha-256.

    ``idx`` uses hex nibbles 1-3 (12 bits) mod m (exact for m a power
    of two ≤ 4096); the rank tail uses nibbles 4-15, so index and rank
    bits never overlap (an overlap correlates registers with ranks and
    biases the estimator).
    """
    idx = (
        _nibble(h, 1) * 256 + _nibble(h, 2) * 16 + _nibble(h, 3)
    ) % M_REGISTERS
    tail = F.regexp_replace(F.substring(h, 4, _RANK_NIBBLES), "^0*", "")
    first = F.substring(tail, 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = F.when(tail == "", F.lit(4 * _RANK_NIBBLES + 1)).otherwise(
        4 * (_RANK_NIBBLES - F.length(tail)) + extra + 1
    )
    return idx, rank


def hll_registers(
    df: DataFrame, entity_col: str, scope_col: str
) -> DataFrame:
    """(scope, idx, m) register table — one map-side-combinable shuffle."""
    idx, rank = hll_idx_rank(F.sha2(F.col(entity_col), 256))
    return (
        df.select(
            F.col(scope_col).alias("scope"),
            idx.alias("idx"),
            rank.alias("rnk"),
        )
        .groupBy("scope", "idx")
        .agg(F.max("rnk").alias("m"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """(scope, hll_distinct) from a register table.

    Raw estimator alpha*m^2 / sum(2^-M_j) (absent registers contribute
    2^0 = 1 each), replaced by linear counting m*ln(m/V) when the raw
    estimate is ≤ 2.5m and V = m - used registers is positive.
    """
    m = float(M_REGISTERS)
    agg = regs.groupBy("scope").agg(
        F.count("*").alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s"),
    )
    raw = _ALPHA * m * m / (F.col("s") + (F.lit(m) - F.col("used")))
    zeros = F.lit(m) - F.col("used")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), F.lit(m) * F.log(F.lit(m) / zeros)
    ).otherwise(raw)
    return agg.select("scope", F.round(est, 6).alias("hll_distinct"))


def merge_registers(regs: DataFrame, scope_name: str = "ALL") -> DataFrame:
    """Element-wise register max = the sketch of the UNION of scopes."""
    return (
        regs.groupBy("idx")
        .agg(F.max("m").alias("m"))
        .select(F.lit(scope_name).alias("scope"), "idx", "m")
    )


def hll_shingle_cardinality(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-source + merged-ALL distinct word-n-gram estimates.

    Output: (scope, exact_shingles, hll_shingles, rel_err) — the exact
    column is the demonstration baseline (it IS the corpus-wide
    distinct the sketch exists to avoid; a 100 TB run would drop it and
    feed ``hll_registers`` the RAW shingle stream, whose map-side
    combine never shuffles a shingle string). Because this query keeps
    the exact baseline anyway, the distinct frame is shared by all
    consumers. The ALL row's estimate comes from merging the per-source
    registers, never from re-reading the corpus.
    """
    from pero_ocr_spark.operators import spread_scan, word_gram_array

    d = (
        spread_scan(docs)
        .select("source", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= n)
    )
    sh = d.select(
        "source", F.explode(word_gram_array(F.col("ws"), n)).alias("shingle")
    )
    # one pass over the corpus: the distinct (source, shingle) frame
    # feeds registers AND both exact baselines — materializing stops
    # the scan + gram fold + explode re-running per consumer (the
    # naive four-consumer plan measured 19s vs ~6s at sf0.1)
    uniq = materialize(sh.distinct())
    regs = hll_registers(uniq, "shingle", "source")
    ests = hll_estimate(regs).unionByName(
        hll_estimate(merge_registers(regs))
    )
    exact = (
        uniq.groupBy(F.col("source").alias("scope"))
        .agg(F.count("*").alias("exact_shingles"))
        .unionByName(
            uniq.agg(
                F.count_distinct("shingle").alias("exact_shingles")
            ).select(F.lit("ALL").alias("scope"), "exact_shingles")
        )
    )
    return (
        ests.join(exact, "scope")
        .select(
            "scope",
            F.col("exact_shingles").cast("long").alias("exact_shingles"),
            F.col("hll_distinct").alias("hll_shingles"),
            F.round(
                (F.col("hll_distinct") - F.col("exact_shingles"))
                / F.col("exact_shingles"),
                6,
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode-Muthukrishnan 2005) — frequency estimation
# for heavy hitters. d=4 hash rows share ONE sha-256: row r indexes by
# hex nibbles 3r+1..3r+3 (12 bits = 4096 counters, no mod needed), so
# index bits never overlap across rows. All-integer arithmetic — the
# oracle matches bit-exactly, no float parity concerns.
# ---------------------------------------------------------------------------

CMS_D = 4
CMS_W = 4096


def _cms_idx(h: Column, r: int) -> Column:
    base = 3 * r + 1
    return (
        _nibble(h, base) * 256
        + _nibble(h, base + 1) * 16
        + _nibble(h, base + 2)
    )


def _cms_probes(h: Column) -> Column:
    """The d (row, idx) probe structs for one hashed entity — defined
    ONCE so accumulation and estimation can never address different
    counters."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cms_idx(h, r).alias("idx")
            )
            for r in range(CMS_D)
        ]
    )


def cms_counters(df: DataFrame, entity_col: str) -> DataFrame:
    """(row, idx, n) counter table — the whole sketch is d*w rows.

    The probe explode multiplies the instance stream by d BEFORE the
    shuffle, but map-side combine collapses it to ≤ d*w rows per task,
    so the exchange carries a fixed-size sketch no matter the corpus —
    the property that makes CMS viable at 10^12 documents where an
    exact frequency table would shuffle every distinct string.
    """
    probes = _cms_probes(F.sha2(F.col(entity_col), 256))
    return (
        df.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.idx").alias("idx"))
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(
    candidates: DataFrame, counters: DataFrame, entity_col: str
) -> DataFrame:
    """Candidates + ``cms_n`` = min over the d probed counters.

    CMS never underestimates: every counter a candidate probes holds
    its true count plus nonnegative collision mass. The candidate
    frame is expected to be small (heavy-hitter shortlist); the join
    is candidates×d probe rows against the d*w counter table. A LEFT
    join keeps candidates that never appeared in the counted stream
    (a shortlist from another snapshot): an unhit counter means count
    0, and one zero probe zeroes the min — dropping the row instead
    would make "absent" indistinguishable from "lost".
    """
    probes = _cms_probes(F.sha2(F.col(entity_col), 256))
    other = [c for c in candidates.columns]
    exploded = candidates.select(*other, F.explode(probes).alias("p"))
    return (
        exploded.join(
            F.broadcast(counters),
            (F.col("p.row") == F.col("row")) & (F.col("p.idx") == F.col("idx")),
            "left",
        )
        .groupBy(*other)
        .agg(
            F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_n")
        )
    )


def cms_heavy_hitters(docs: DataFrame, n: int = 3, k: int = 10) -> DataFrame:
    """Top-k exact n-gram frequencies with their CMS estimates.

    Output: (shingle, exact_n, cms_n) — exact is the demonstration
    baseline (at 100 TB the exact frequency table is the thing you
    can't afford; the scale path keeps only the d*w counter table and
    probes a candidate shortlist from a sampled pass). Deterministic
    top-k: ties broken lexically.
    """
    from pero_ocr_spark.operators import spread_scan, word_gram_array

    d = (
        spread_scan(docs)
        .select(F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= n)
    )
    sh = materialize(
        d.select(F.explode(word_gram_array(F.col("ws"), n)).alias("shingle"))
    )
    counters = cms_counters(sh, "shingle")
    top = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("shingle"))
        .limit(k)
    )
    return cms_estimate(top, counters, "shingle").select(
        "shingle",
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_n").cast("long").alias("cms_n"),
    )


# ---------------------------------------------------------------------------
# KMV / bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al. 2007) —
# the sketch family that supports SET OPERATIONS: the bottom-k of a
# union is computable from the two bottom-k sketches alone, so jaccard
# between two corpora (e.g. crawl snapshots) needs only 2k hash values,
# never a corpus join. Values are the first 48 bits of sha-256 as an
# integer (exact in binary64 after /2^48), so the DuckDB oracle matches
# on identical arithmetic.
# ---------------------------------------------------------------------------

KMV_K = 256
_HASH48_DENOM = float(1 << 48)


def _hash48(h: Column) -> Column:
    # the fold must run in LONG: 48 bits overflow a 32-bit int under
    # ANSI mode (ARITHMETIC_OVERFLOW) long before the last nibble
    v: Column = F.lit(0).cast("long")
    for i in range(1, 13):
        v = v * 16 + _nibble(h, i)
    return v


def kmv_sketch(df: DataFrame, entity_col: str, k: int = KMV_K) -> DataFrame:
    """The k smallest distinct 48-bit hash values — column ``v``.

    orderBy().limit() plans as a distributed TakeOrdered: each task
    keeps its local bottom-k and only k-row heaps travel, so the
    sketch costs one pass and a k-row exchange at any corpus size.
    """
    return (
        df.select(_hash48(F.sha2(F.col(entity_col), 256)).alias("v"))
        .distinct()
        .orderBy("v")
        .limit(k)
    )


def kmv_estimate(sk: DataFrame, k: int = KMV_K) -> DataFrame:
    """One row (n_sketch, est_distinct): (k-1)/v_k normalized, or the
    exact count when the set fit inside the sketch (n < k)."""
    agg = sk.agg(
        F.count("*").alias("n_sketch"), F.max("v").alias("vk")
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * _HASH48_DENOM) / F.col("vk")
    )
    return agg.select(
        "n_sketch", F.round(est, 6).alias("est_distinct")
    )


def kmv_union_jaccard(
    a: DataFrame, b: DataFrame, k: int = KMV_K
) -> DataFrame:
    """One row (est_union, est_jaccard) from two kmv_sketch frames.

    The union sketch is the bottom-k of the two sketches' value union;
    jaccard = fraction of union-sketch values present in BOTH input
    sketches (each membership test is a k-row join).
    """
    u = materialize(a.unionByName(b).distinct().orderBy("v").limit(k))
    est_union = kmv_estimate(u, k).select(
        F.col("est_distinct").alias("est_union")
    )
    both = (
        u.join(a, "v").join(b, "v").agg(F.count("*").alias("n_both"))
    )
    n_u = u.agg(F.count("*").alias("n_u"))
    jac = both.crossJoin(n_u).select(
        F.round(F.col("n_both") / F.col("n_u"), 6).alias("est_jaccard")
    )
    return est_union.crossJoin(jac)


def kmv_snapshot_overlap(
    old_urls: DataFrame, new_urls: DataFrame, k: int = KMV_K
) -> DataFrame:
    """Estimated vs exact URL overlap between two crawl snapshots.

    Output (one row): est_union, exact_union, est_jaccard,
    exact_jaccard — the exact columns are the demonstration baseline
    (they ARE the corpus-sized distinct + join the sketch avoids; at
    10^12 URLs only the two k-row sketches would ever meet).
    """
    a = materialize(kmv_sketch(old_urls, "url", k))
    b = materialize(kmv_sketch(new_urls, "url", k))
    est = kmv_union_jaccard(a, b, k)
    ou = old_urls.select("url").distinct()
    nu = new_urls.select("url").distinct()
    exact_union = (
        ou.unionByName(nu).distinct().agg(
            F.count("*").alias("exact_union")
        )
    )
    exact_inter = ou.join(nu, "url").agg(F.count("*").alias("ni"))
    return (
        est.crossJoin(exact_union)
        .crossJoin(exact_inter)
        .select(
            "est_union",
            F.col("exact_union").cast("long").alias("exact_union"),
            "est_jaccard",
            F.round(
                F.col("ni") / F.col("exact_union"), 6
            ).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram quantiles — the numeric-quantile sketch. An
# exact percentile needs a per-group sort (rank r must see every
# value); the histogram needs ONE map-side-combinable count shuffle
# whose size is bounded by value_range/width per group regardless of
# corpus size, then interpolates inside the target bucket. Error is
# bounded by the bucket width. All selection arithmetic is double with
# EXPLICIT casts mirrored in the oracle (a DECIMAL-vs-DOUBLE q*n can
# flip a ceil() at exact-integer boundaries: 0.9*10 is 9.000000000000002
# in binary64 but 9.00 in decimal).
# ---------------------------------------------------------------------------


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    scope_col: str,
    width: int = 16,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """(scope, q, approx_v, exact_v, abs_err) per group and quantile.

    approx_v interpolates within the first bucket whose cumulative
    count reaches q*n; exact_v is the rank-ceil(q*n) value (type-1
    quantile) from a per-group sort — the demonstration baseline the
    histogram replaces at scale.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    base = materialize(df.select(F.col(scope_col).alias("scope"), v.alias("v")))
    hist = (
        base.select("scope", F.floor(F.col("v") / width).alias("b"))
        .groupBy("scope", "b")
        .agg(F.count("*").alias("cnt"))
    )
    wb = Window.partitionBy("scope").orderBy("b")
    hist = hist.select(
        "scope", "b", "cnt", F.sum("cnt").over(wb).alias("cum")
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    totals = hist.groupBy("scope").agg(F.max("cum").alias("n"))
    tq = totals.select(
        "scope",
        "n",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    ).withColumn("t", F.col("q") * F.col("n"))
    sel = tq.join(hist, "scope").filter(
        (F.col("cum_before") < F.col("t")) & (F.col("cum") >= F.col("t"))
    )
    approx = F.col("b").cast("double") * width + width * (
        F.col("t") - F.col("cum_before")
    ) / F.col("cnt")
    appx = sel.select(
        "scope",
        "q",
        F.round(approx, 6).alias("approx_v"),
        F.ceil(F.col("t")).alias("r"),
    )
    ranked = base.select(
        "scope",
        "v",
        F.row_number()
        .over(Window.partitionBy("scope").orderBy("v"))
        .alias("r"),
    )
    return appx.join(ranked, ["scope", "r"]).select(
        "scope",
        "q",
        "approx_v",
        F.col("v").alias("exact_v"),
        F.round(F.abs(F.col("approx_v") - F.col("v")), 6).alias("abs_err"),
    )
