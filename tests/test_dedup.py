"""Dedup operator semantics on small planted-duplicate corpora."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pero_ocr_spark.operators import dedup, poly_hash, spread_scan

DOCS = [
    (1, "spark joins hash tables quickly under adaptive execution today"),
    (2, "spark joins hash tables quickly under adaptive execution today"),  # exact dup
    (3, "spark joins hash tables slowly under adaptive execution today"),  # near dup
    (4, "completely different content about window functions and sorting"),
    (5, "another unrelated document discussing parquet column pruning"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(_docs(spark)).collect()
    by_copies = {r["n_copies"]: r for r in out}
    assert len(out) == 4  # 5 docs, one exact pair
    assert by_copies[2]["canonical_doc"] == 1


def test_ngram_jaccard_finds_planted_pairs(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (4, 5) not in pairs


def test_minhash_matches_exact_jaccard(spark):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(_docs(spark), threshold=0.3).collect()
    }
    assert lsh == exact


def test_simhash_identical_docs_distance_zero(spark):
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(_docs(spark)).collect()
    }
    assert fps[1] == fps[2]
    assert 0 <= fps[1] < 2**32
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dups(_docs(spark), max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0


def test_shingles_distinct_and_count(spark):
    sh = dedup.shingles(_docs(spark), n=3)
    one = sh.filter(F.col("doc_id") == 1)
    assert one.count() == 7  # 9 words -> 7 trigrams, all distinct here
    assert one.distinct().count() == 7


class TestBloomDedup:
    def _split(self, spark):
        rows = [(i, f"unique text number {i} with filler words {i*7}") for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        snap = docs.filter(F.col("doc_id") < 15)
        fresh = docs.filter(F.col("doc_id") >= 15)
        return docs, snap, fresh

    def test_no_false_negatives(self, spark):
        # any doc whose text IS in the snapshot must flag maybe_dup,
        # at every filter size — the Bloom guarantee
        docs, snap, fresh = self._split(spark)
        for m in (256, 4096, dedup.BLOOM_M):
            replay = snap.withColumn("doc_id", F.col("doc_id") + 100)
            out = dedup.bloom_dedup(replay, snap, m=m).collect()
            assert all(r["maybe_dup"] for r in out), m

    def test_fp_set_matches_local_recomputation(self, spark):
        import numpy as np

        docs, snap, fresh = self._split(spark)
        m = 128  # tiny -> false positives guaranteed
        got = {r["doc_id"]: r["maybe_dup"]
               for r in dedup.bloom_dedup(fresh, snap, m=m).collect()}

        def poly(s):
            h = 0
            for ch in s:
                h = (h * 31 + ord(ch)) % dedup.HASH_P
            return h

        bits = set()
        for r in snap.collect():
            for a, b in dedup.BLOOM_SEEDS:
                bits.add((poly(r["text"]) * a + b) % dedup.HASH_P % m)
        for r in fresh.collect():
            expect = all(
                (poly(r["text"]) * a + b) % dedup.HASH_P % m in bits
                for a, b in dedup.BLOOM_SEEDS
            )
            assert got[r["doc_id"]] == expect

    def test_keep_is_not_maybe_dup(self, spark):
        docs, snap, fresh = self._split(spark)
        out = dedup.bloom_dedup(fresh, snap, m=256).collect()
        assert all(r["keep"] != r["maybe_dup"] for r in out)


class TestCanonicalUrlDedup:
    CASES = [
        # (raw, canonical)
        ("HTTPS://WWW.Site.COM/a/b", "https://www.site.com/a/b"),
        ("https://site.com/a//b///c", "https://site.com/a/b/c"),
        ("https://site.com/a#frag", "https://site.com/a"),
        ("https://site.com/a?utm_source=x&id=1", "https://site.com/a?id=1"),
        ("https://site.com/a?id=1&utm_campaign=y", "https://site.com/a?id=1"),
        ("https://site.com/a?utm_source=x", "https://site.com/a"),
        ("https://site.com/a/", "https://site.com/a"),
        ("https://site.com/a?fbclid=z&gclid=w&id=2", "https://site.com/a?id=2"),
    ]

    def test_canonical_forms(self, spark):
        df = spark.createDataFrame(
            [(i, raw) for i, (raw, _) in enumerate(self.CASES)],
            "doc_id long, url string",
        )
        got = {r["doc_id"]: r["canonical_url"]
               for r in dedup.canonical_url_dedup(df).collect()}
        for i, (_, want) in enumerate(self.CASES):
            assert got[i] == want, (self.CASES[i][0], got[i])

    def test_keep_earliest_per_canonical(self, spark):
        df = spark.createDataFrame(
            [(1, "https://a.com/x"), (2, "HTTPS://A.COM/x/"),
             (3, "https://a.com/x?utm_source=s"), (9, "https://a.com/y")],
            "doc_id long, url string",
        )
        out = {r["doc_id"]: r["keep"]
               for r in dedup.canonical_url_dedup(df).collect()}
        assert out == {1: True, 2: False, 3: False, 9: True}


class TestDedupParagraphs:
    def test_repeated_paragraph_dropped(self, spark):
        from pero_ocr_spark.operators import textstats

        para = " ".join(f"w{i}" for i in range(10))
        text = f"{para} {para} " + " ".join(f"z{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = textstats.dedup_paragraphs(df, para_words=10).collect()[0]
        assert r["n_paras"] == 3 and r["n_kept"] == 2
        assert r["deduped_text"].split(" ")[:10] == para.split(" ")
        assert "z0" in r["deduped_text"]

    def test_no_dup_passthrough_and_short_doc(self, spark):
        from pero_ocr_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in
                textstats.dedup_paragraphs(df, para_words=10).collect()}
        assert rows[1]["deduped_text"] == "a b c"
        assert rows[1]["n_paras"] == rows[1]["n_kept"] == 1
        assert rows[2]["n_paras"] == 1  # [''] chunk


class TestLshBucketCap:
    def test_max_bucket_bounds_candidates_keeps_small_ids(self, spark):
        # pathological bucket: 8 docs with IDENTICAL text (boilerplate)
        # co-bucket in every band -> 28 candidate pairs uncapped;
        # max_bucket=2 keeps only the two smallest ids per bucket ->
        # exactly one surviving pair (0,1), still a true near-dup
        boiler = "the same legal disclaimer footer text repeated verbatim"
        rows = [(i, boiler) for i in range(8)]
        rows += [(100, "a completely different document about gardens"),
                 (101, "another unrelated text about winter mountains")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        full = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8)
        capped = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.8, max_bucket=2)
        full_pairs = {(r["doc_a"], r["doc_b"]) for r in full.collect()}
        capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
        assert len(full_pairs) == 28  # 8 choose 2
        assert capped_pairs == {(0, 1)}
        # capped output is a subset: the cap can only DROP pairs
        assert capped_pairs <= full_pairs


class TestDuplicatedPassageSpans:
    def _run(self, spark, rows, k):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.duplicated_passage_spans(docs, k=k).collect()
        return {(r.doc_id, r.span_start, r.span_end): r.n_grams for r in out}

    def test_shared_passage_found_in_both_docs(self, spark):
        shared = "p q r s"  # 4 tokens, k=3 -> 2 grams, one merged span
        spans = self._run(spark, [
            (1, f"a b c {shared} d e f"),
            (2, f"x y {shared} z w v u"),
            (3, "totally unrelated words none shared here at all"),
        ], k=3)
        assert spans == {(1, 3, 7): 2, (2, 2, 6): 2}

    def test_within_doc_repeat_alone_is_not_cross_doc(self, spark):
        spans = self._run(spark, [
            (1, "m n o padding m n o trailer words here"),
            (2, "different vocabulary entirely for document two okay"),
        ], k=3)
        assert spans == {}

    def test_nearby_duplicated_grams_merge_distant_do_not(self, spark):
        # two shared 3-gram passages separated by > k unique tokens in
        # doc 1 -> two islands; doc 2 carries them adjacent -> one
        a, b = "h i j", "t u v"
        spans = self._run(spark, [
            (1, f"{a} u1 u2 u3 u4 u5 u6 u7 u8 u9 {b}"),
            (2, f"{a} {b}"),
        ], k=3)
        # doc 2's bridging grams (i j t / j t u) are NOT cross-doc, but
        # the gap between pos 0 and pos 3 is exactly k -> one island
        assert spans == {(1, 0, 3): 1, (1, 12, 15): 1, (2, 0, 6): 2}


def test_mask_contaminated_spans_islands_and_direction(spark):
    from pero_ocr_spark.operators import dedup

    # bench doc holds the passage "e f g h i"; train doc 1 quotes it
    # twice with a >n gap, train doc 2 is clean
    bench = spark.createDataFrame(
        [(100, "e f g h i")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "a b c e f g h i x y z q w e f g h i u"),
            (2, "totally clean words only here"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.mask_contaminated_spans(train, bench, n=3).toPandas()
    out = out.sort_values(["doc_id", "span_start"]).reset_index(drop=True)
    # doc 2 absent (clean); doc 1 has exactly the two quoted islands
    assert set(out["doc_id"]) == {1}
    words = "a b c e f g h i x y z q w e f g h i u".split(" ")
    spans = [
        " ".join(words[r["span_start"]:r["span_end"]])
        for _, r in out.iterrows()
    ]
    assert spans == ["e f g h i", "e f g h i"], spans
    # every contaminated 3-gram is inside a masked span (safe direction)
    bench_grams = {"e f g", "f g h", "g h i"}
    for pos in range(len(words) - 2):
        g = " ".join(words[pos:pos + 3])
        if g in bench_grams:
            assert any(
                r["span_start"] <= pos and pos + 3 <= r["span_end"]
                for _, r in out.iterrows()
            ), (pos, g)
    assert (out["n_tokens"]
            == out["span_end"] - out["span_start"]).all()


class TestPrefixFilter:
    def test_exactly_matches_brute_force_engine(self, spark, sf_dir):
        from pero_ocr_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        brute = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
        }
        pref = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.prefix_filter_pairs(docs).collect()
        }
        # prefix filtering is EXACT: same pairs, same jaccards — not
        # a recall property like the LSH engine
        assert pref == brute and len(brute) > 0

    def test_prefix_index_smaller_and_ceil_integer_exact(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from pero_ocr_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sh = dedup.shingles(docs, 3)
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        full = sum(r.n for r in sizes)
        # integer ceil: pi = n - ((4n+4) div 5) + 1 — exact for every
        # n by construction, no dependence on how 0.8*n happens to
        # round (the operator's no-false-negative proof needs a TRUE
        # ceiling, so it never computes one through a float product)
        pref = sum(r.n - ((4 * r.n + 4) // 5) + 1 for r in sizes)
        assert all(
            r.n - ((4 * r.n + 4) // 5) + 1 >= 1 for r in sizes
        )
        # the indexed volume is ~(1-t) of the full posting volume
        assert pref < 0.35 * full


def test_incremental_near_dup_flags_batch_against_snapshot(spark):
    from pero_ocr_spark.operators.dedup import incremental_near_dup

    base = "the quick brown fox jumps over the lazy dog again and again"
    snapshot = spark.createDataFrame(
        [(1, base),
         (2, "completely different snapshot content with many unique words here"),
         (3, base)],  # snapshot-internal dup must not affect batch verdicts
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, base + " tail"),            # near-dup of 1 and 3
         (101, "fresh batch document sharing no phrasing with the corpus at all")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           incremental_near_dup(snapshot, batch, threshold=0.5).collect()}
    assert set(out) == {100, 101}
    assert out[100]["is_dup"] and out[100]["dup_of"] == 1  # ties -> smallest id
    assert out[100]["best_jaccard"] >= 0.5
    assert not out[101]["is_dup"] and out[101]["dup_of"] is None


def test_incremental_near_dup_stable_id_recrawl(spark):
    from pero_ocr_spark.operators.dedup import incremental_near_dup

    base = "the quick brown fox jumps over the lazy dog again and again"
    snapshot = spark.createDataFrame(
        [(5, base), (6, "other snapshot words entirely different here today")],
        "doc_id long, text string",
    )
    # the recrawled page arrives under its STABLE id with identical text
    batch = spark.createDataFrame([(5, base)], "doc_id long, text string")
    out = incremental_near_dup(snapshot, batch, threshold=0.9).collect()[0]
    assert out["is_dup"] and out["dup_of"] == 5
    assert out["best_jaccard"] == 1.0  # union-verify would report 0.333


# The all-Catalyst formulations the vectorized dedup kernels replaced,
# kept here as their fuzz-pinned semantics twins.


def _cdc_stream_catalyst(docs: DataFrame, k: int, mask: int) -> DataFrame:
    """The original all-Catalyst CDC chunk stream — the semantics
    reference dedup._cdc_doc_kernel is fuzz-tested against (and the
    shape the DuckDB oracle replicates). The rolling-hash fold runs in
    the SCAN stage, so a single-file local input is spread first
    (no-op on a real multi-split corpus scan)."""
    docs = spread_scan(docs)
    d = docs.select(
        "doc_id", "text", F.split(F.col("text"), "").alias("cs")
    )
    n = F.length("text")

    def win_hash(i):
        return F.aggregate(
            F.slice(F.col("cs"), i - (k - 1), k),
            F.lit(0).cast("long"),
            lambda a, c: F.pmod(a * 31 + F.ascii(c), F.lit(dedup.HASH_P)),
        )

    cuts = F.when(
        n >= k,
        F.filter(
            F.sequence(F.lit(k), n),
            lambda i: (F.pmod(win_hash(i), F.lit(mask)) == 0) & (i < n),
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.concat(F.array(F.lit(0)), cuts, F.array(n))
    chunks = F.zip_with(
        F.slice(bounds, 1, F.size(bounds) - 1),
        F.slice(bounds, 2, F.size(bounds) - 1),
        lambda lo, hi: F.concat_ws("", F.slice(F.col("cs"), lo + 1, hi - lo)),
    )
    return d.select(
        "doc_id", F.explode(chunks).alias("chunk")
    ).select(
        "doc_id",
        F.length("chunk").cast("long").alias("clen"),
        poly_hash(F.col("chunk")).alias("chash"),
    )


def _word_gram_hashes(text, k: int):
    """Array of polynomial hashes of the word k-grams of ``text``, in
    position order — h(s) = fold(a*31 + ord(c)) mod 2^31-1 over the
    gram's characters, dedup's portable hash (bit-identical in
    ANSI SQL for the oracle). Word grams, not char grams: winnowing
    selects window MINIMA, so a low-entropy gram pool (char k-grams of
    a repetitive corpus) collapses onto the few smallest hash values
    and every document fingerprints alike; word k-grams keep the pool
    ~vocabulary^k. Built entirely in-row: one split, one sequence over
    start positions."""
    ws = F.split(text, " ")
    n_grams = F.greatest(F.size(ws) - k + 1, F.lit(0))
    gram = lambda i: F.array_join(F.slice(ws, i, k), " ")  # noqa: E731
    return F.when(n_grams == 0, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.aggregate(
                F.split(gram(i), ""),
                F.lit(0).cast("bigint"),
                lambda a, c: (a * 31 + F.ascii(c)) % dedup.HASH_P,
            ),
        )
    )


def _doc_fingerprints_catalyst(docs: DataFrame, k: int, w: int) -> DataFrame:
    """The original all-Catalyst winnowing selection — the semantics
    reference dedup._winnow_doc_kernel is fuzz-tested against (and the
    shape the DuckDB oracle replicates)."""
    hs = F.col("__hs")
    n_win = F.greatest(F.size(hs) - w + 1, F.lit(1))
    # per-window minima hoisted into a BOUND column: referencing the
    # min expression inline inside the per-probe lambda re-evaluates
    # the O(w) slice-min for every probe (O(w²) interpreted work per
    # window — the lambda re-inlining trap documented on
    # char_bigrams); bound here, each probe is an O(1) element_at
    wmin = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda j: F.array_min(F.slice(hs, j + 1, w)),
    )
    # rightmost position (0-based, window-relative) achieving the
    # window minimum; windows past the tail truncate naturally
    sel = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__wmin")) - 1),
        lambda j: F.element_at(
            hs,
            j
            + F.array_max(
                F.filter(
                    F.sequence(F.lit(0), F.lit(w - 1)),
                    # try_: windows past the tail probe out of bounds
                    # (ANSI element_at throws); NULL != min drops them
                    lambda p: F.try_element_at(hs, j + p + 1)
                    == F.element_at(F.col("__wmin"), j + 1),
                )
            )
            + 1,
        ),
    )
    # the gram hashing + window minima are the expensive in-row part
    # (per-character interpreted fold); spread a starved single-split
    # local scan BEFORE them or the whole corpus hashes on one core
    return (
        spread_scan(docs)
        .select("doc_id", _word_gram_hashes(F.col("text"), k).alias("__hs"))
        .filter(F.size("__hs") > 0)
        .select("doc_id", hs, wmin.alias("__wmin"))
        .select("doc_id", F.array_distinct(sel).alias("fps"))
    )


class TestWinnowKernelEquivalence:
    """r6 guard: the vectorized winnowing fingerprint kernel must stay
    row-for-row equal to the original Catalyst selection it replaced
    (kept above as _doc_fingerprints_catalyst)."""

    def test_kernel_matches_catalyst_on_fuzz_docs(self, spark):
        import random

        random.seed(31)
        vocab = ["alpha", "beta", "gamma", "dd", "e", "ffff", "", "x" * 40]
        rows = []
        for i in range(120):
            nw = random.randint(0, 15)
            rows.append((i, " ".join(random.choice(vocab) for _ in range(nw))))
        rows.append((900, ""))       # no grams -> dropped by both paths
        rows.append((901, "one two"))  # fewer words than k
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        for (k, w) in ((3, 4), (2, 3)):
            new = {
                r["doc_id"]: list(r["fps"])
                for r in dedup._doc_fingerprints(docs, k, w).collect()
            }
            old = {
                r["doc_id"]: list(r["fps"])
                for r in _doc_fingerprints_catalyst(docs, k, w).collect()
            }
            assert new == old


class TestCdcKernelEquivalence:
    """r6 guard: the vectorized CDC chunk kernel must stay
    row-for-row equal to the original Catalyst chunk stream it
    replaced (kept above as _cdc_stream_catalyst)."""

    def test_kernel_matches_catalyst_on_fuzz_docs(self, spark):
        import random

        random.seed(137)
        alphabet = "abcdefgh XYZ.,é世\U0001F600"
        rows = []
        for i in range(120):
            n = random.randint(0, 60)
            rows.append((i, "".join(random.choice(alphabet) for _ in range(n))))
        rows.append((900, ""))            # empty text -> one empty chunk
        rows.append((901, "short"))       # shorter than the window
        rows.append((902, "a" * 500))     # long repetitive run
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # k = 10 exercises the mod-per-step Horner fallback (the direct
        # sliding-window dot would overflow int64 past k = 9)
        for (k, mask) in ((8, 32), (4, 8), (10, 16)):
            new = sorted(
                map(tuple, dedup._cdc_stream(docs, k, mask).collect())
            )
            old = sorted(
                map(tuple, _cdc_stream_catalyst(docs, k, mask).collect())
            )
            assert new == old

    def test_kernel_matches_catalyst_on_one_very_long_doc(self, spark):
        import random

        # one batch holds a short doc and a ~50k-char one, so the 31^e
        # power table grows by many doublings in one step; the "a" run
        # never cuts (its window hash is 4 mod 32), so one ~30k-char
        # chunk weights its codepoints by the table's high powers
        random.seed(7)
        alphabet = "abcdefgh XYZ.,é世\U0001F600"

        def noise(n):
            return "".join(random.choice(alphabet) for _ in range(n))

        rows = [
            (1, "short doc"),
            (2, noise(10_000) + "a" * 30_000 + noise(10_000)),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        new = sorted(map(tuple, dedup._cdc_stream(docs, 8, 32).collect()))
        old = sorted(map(tuple, _cdc_stream_catalyst(docs, 8, 32).collect()))
        assert max(clen for _, clen, _ in new) > 30_000
        assert new == old
