"""Text-analysis and multimodal-stub operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pero_ocr_spark import corpus
from pero_ocr_spark.operators import extract, media, textstats


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat in a hat", "en"),
            (2, "uno dos tres cuatro cinco seis siete", "es"),
        ],
        ["doc_id", "text", "lang"],
    )


def test_token_stats(spark):
    out = {r["doc_id"]: r for r in textstats.token_stats(_docs(spark)).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[1]["n_chars"] == 31
    assert out[2]["mean_token_len"] == pytest.approx((3 + 3 + 4 + 6 + 5 + 4 + 5) / 7, abs=1e-5)


def test_language_id(spark):
    out = {r["doc_id"]: r for r in textstats.language_id(_docs(spark)).collect()}
    assert out[1]["lang_pred"] == "en"  # 'the' x2, 'on', 'in', 'a' → high ratio
    assert out[2]["lang_pred"] == "other"
    assert out[2]["en_stopword_ratio"] == 0.0


def test_quality_monotone_in_diversity(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a a a a a"), (2, "eight distinct words appear right here now ok")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert out[2]["lexical_diversity"] == 1.0
    assert out[1]["lexical_diversity"] == 0.125
    assert out[2]["quality"] > out[1]["quality"]


def test_fingerprint_shift_invariance_of_min_shingle(spark):
    # min-shingle fingerprint survives a prefix edit; full hash does not
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "PREFIX alpha beta gamma delta epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.fingerprints(docs).collect()}
    assert out[1]["fp_text"] != out[2]["fp_text"]
    assert out[1]["fp_min_shingle"] == out[2]["fp_min_shingle"]


def test_media_pipeline(spark, sf_dir):
    spans = extract.extract_spans(corpus.spans_table(spark, sf_dir))
    m = media.media_spans(spans)
    decoded = media.decode_media(m)
    rows = decoded.limit(20).collect()
    assert rows
    for r in rows:
        pos = int(r["media_ref"].rsplit("/", 1)[-1])
        assert r["width"] == 64 + (pos % 13) * 32
        assert r["n_bytes"] == len(r["media_ref"])

    feats = media.media_features(decoded.limit(5)).collect()
    assert all(len(r["feature"]) == 8 for r in feats)

    frames = media.frame_sample(decoded.limit(5))
    for r in frames.collect():
        assert r["frame_idx"] % 2 == 0


class TestRanking:
    def test_tfidf_rare_term_outranks_common(self, spark):
        docs = spark.createDataFrame(
            [(1, "apple apple banana"), (2, "banana cherry"), (3, "banana date")],
            "doc_id long, text string",
        )
        out = textstats.tfidf_keywords(docs, top_k=2).collect()
        top = {(r.doc_id, r.rank): (r.term, r.tf, r.df) for r in out}
        # banana is in every doc -> idf = ln(4/4) = 0; unique terms win
        assert top[(1, 1)] == ("apple", 2, 1)
        assert top[(2, 1)] == ("cherry", 1, 1)
        assert top[(1, 2)][0] == "banana" and top[(1, 2)][2] == 3

    def test_bm25_matches_handcomputed_single_term(self, spark):
        import math

        docs = spark.createDataFrame(
            [(1, "x y z"), (2, "x x y z z q"), (3, "p q r")],
            "doc_id long, text string",
        )
        out = {r.doc_id: (r.score, r.n_terms_hit)
               for r in textstats.bm25_search(docs, ["x"], top_k=10).collect()}
        assert set(out) == {1, 2}
        n, avgdl = 3.0, 4.0
        idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
        def s(tf, dl):
            return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
        assert out[1] == (s(1, 3), 1)
        assert out[2] == (s(2, 6), 1)
        # doc 2 has higher tf -> higher score despite longer doc
        assert out[2][0] > out[1][0]


class TestCorpusDrift:
    def test_identical_corpora_have_zero_drift(self, spark):
        docs = spark.createDataFrame(
            [(i, "t", "a" if i % 2 else "b") for i in range(10)],
            "doc_id long, text string, source string",
        )
        r = textstats.corpus_drift(docs, docs).collect()[0]
        assert r.n_groups == 2
        assert (r.kl_div, r.js_div, r.tv_dist) == (0.0, 0.0, 0.0)

    def test_flooded_source_raises_all_three(self, spark):
        base = [(i, "t", "a" if i % 2 else "b") for i in range(10)]
        snapshot = spark.createDataFrame(
            base, "doc_id long, text string, source string"
        )
        flooded = spark.createDataFrame(
            base + [(100 + i, "t", "spam") for i in range(40)],
            "doc_id long, text string, source string",
        )
        r = textstats.corpus_drift(flooded, snapshot).collect()[0]
        # 'spam' absent from the snapshot: smoothing keeps KL finite,
        # and a 40/50 flood dominates every divergence
        assert r.n_groups == 3
        assert r.kl_div > 1.0
        assert 0 < r.js_div <= math.log(2) + 1e-9  # JS upper bound (nats)
        assert 0 < r.tv_dist <= 1.0
        # mild drift scores strictly below the flood
        mild = spark.createDataFrame(
            base + [(100, "t", "a")], "doc_id long, text string, source string"
        )
        m = textstats.corpus_drift(mild, snapshot).collect()[0]
        assert m.kl_div < r.kl_div and m.tv_dist < r.tv_dist


def test_nb_quality_classifier_learns_discriminative_tokens(spark):
    from pero_ocr_spark.operators.textstats import nb_quality_classifier

    # even ids train: positive docs say 'good', negative say 'bad';
    # odd ids are scored held-out with the same vocabulary
    rows = []
    for i in range(40):
        pos = (i // 2) % 2 == 0
        word = "good" if pos else "bad"
        rows.append((i, f"{word} filler{i % 3} common", pos))
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, p) for i, _, p in rows], "doc_id long, label boolean"
    )
    out = {r["doc_id"]: r for r in nb_quality_classifier(docs, labels).collect()}
    # only held-out (odd) docs are scored
    assert set(out) == {i for i in range(40) if i % 2 == 1}
    for i, r in out.items():
        assert r["predicted"] == r["label"], i
        assert r["correct"]
        # the discriminative token dominates the score's sign
        assert (r["nb_score"] > 0) == (((i // 2) % 2) == 0)


def test_nb_quality_classifier_requires_both_classes(spark):
    import pytest as _pytest

    from pero_ocr_spark.operators.textstats import nb_quality_classifier

    docs = spark.createDataFrame(
        [(i, "x y z") for i in range(6)], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, True) for i in range(6)], "doc_id long, label boolean"
    )
    with _pytest.raises(ValueError, match="both classes"):
        nb_quality_classifier(docs, labels)


def test_fix_mojibake_repairs_and_passes_through(spark):
    from pero_ocr_spark.operators.textstats import fix_mojibake

    clean = "naïve café – déjà №9"
    moji = clean.encode("utf-8").decode("latin-1")
    df = spark.createDataFrame(
        [(1, moji), (2, clean), (3, "plain ascii words")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in fix_mojibake(df).collect()}
    assert out[1]["was_mojibake"] and out[1]["text_fixed"] == clean
    # legitimate accents are NOT flagged and pass through byte-identical
    assert not out[2]["was_mojibake"] and out[2]["text_fixed"] == clean
    assert not out[3]["was_mojibake"] and out[3]["text_fixed"] == "plain ascii words"


def test_fix_mojibake_cyrillic_markers(spark):
    from pero_ocr_spark.operators.textstats import fix_mojibake

    clean = "привет мир"
    moji = clean.encode("utf-8").decode("latin-1")
    df = spark.createDataFrame([(1, moji)], "doc_id long, text string")
    r = fix_mojibake(df).collect()[0]
    assert r["was_mojibake"] and r["text_fixed"] == clean


def test_textrank_summary_picks_the_hub_sentence(spark):
    from pero_ocr_spark.operators.textstats import textrank_summary

    # sentence 1 shares words with both 0 and 2; 0 and 2 share nothing
    # -> the hub (middle chunk) must win the rank
    s0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    s1 = "alpha beta gamma delta nu xi omicron pi rho sigma tau upsilon"
    s2 = "nu xi omicron pi phi chi psi omega one two three four"
    df = spark.createDataFrame(
        [(1, f"{s0} {s1} {s2}")], "doc_id long, text string"
    )
    r = textrank_summary(df).collect()[0]
    assert (r["n_sents"], r["top_ord"]) == (3, 1)
    assert r["summary"] == s1
    assert r["top_score"] > 1 / 3  # above the uniform prior


def test_textrank_summary_degenerate_docs(spark):
    from pero_ocr_spark.operators.textstats import textrank_summary

    df = spark.createDataFrame(
        [
            (1, "only one short sentence here"),           # m = 1
            (2, " ".join(f"u{i}" for i in range(24))),     # disjoint chunks
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textrank_summary(df).collect()}
    assert out[1]["n_sents"] == 1 and out[1]["top_ord"] == 0
    assert out[1]["summary"] == "only one short sentence here"
    # no shared words: uniform ranks, tie goes to the first sentence
    assert out[2]["n_sents"] == 2 and out[2]["top_ord"] == 0


def test_fix_mojibake_rejects_false_positives_and_unmappable(spark):
    from pero_ocr_spark.operators.textstats import fix_mojibake

    clean_fr = "le château de la Loire"          # real 'â', NOT mojibake
    mixed = "naïve café €99".encode("utf-8").decode("latin-1")[:-1] + "€"
    df = spark.createDataFrame(
        [(1, clean_fr), (2, mixed)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in fix_mojibake(df).collect()}
    # marker present but roundtrip fails -> untouched, unflagged
    assert not out[1]["was_mojibake"] and out[1]["text_fixed"] == clean_fr
    # raw '€' is unmappable in latin-1 -> repair refused, text intact
    assert not out[2]["was_mojibake"] and out[2]["text_fixed"] == mixed
