"""Winnowing fingerprints (Schleimer et al. 2003) — serial-replica
parity, the shared-passage guarantee, and the common-fp filter."""

from pyspark.sql import functions as F

from pero_ocr_spark.operators import dedup


def winnow_fingerprints(docs, k: int = 3, w: int = 4):
    """(doc_id, fp) — the engine's per-doc fingerprint arrays,
    exploded to one row per distinct fingerprint."""
    return dedup._doc_fingerprints(docs, k, w).select(
        "doc_id", F.explode("fps").alias("fp")
    )


def _poly(s: str) -> int:
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % dedup.HASH_P
    return h


def _winnow_py(text: str, k: int = 3, w: int = 4) -> set[int]:
    ws = text.split(" ")
    hs = [_poly(" ".join(ws[i : i + k])) for i in range(len(ws) - k + 1)]
    if not hs:
        return set()
    out = set()
    for j in range(max(len(hs) - w + 1, 1)):
        window = hs[j : j + w]
        m = min(window)
        # rightmost position achieving the minimum
        p = max(i for i, h in enumerate(window) if h == m)
        out.add(hs[j + p])
    return out


def test_fingerprints_match_serial_replica(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "one two three four five six seven",
        "alpha beta gamma",          # exactly one gram
        "tiny doc",                  # shorter than k: no grams
        "a b c d e f a b c d e f",   # repeated grams force hash ties
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _winnow_py(t), f"doc {i}"


def test_shared_passage_guarantee(spark):
    # any shared passage of >= k + w - 1 = 6 words yields >= 1 shared fp
    passage = "xq1 xq2 xq3 xq4 xq5 xq6"
    df = spark.createDataFrame(
        [
            (0, f"unrelated opening words here {passage} closing remarks"),
            (1, f"{passage} and then a completely different continuation"),
            (2, "nothing in common with either of the other documents at all"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=3, w=4)
    a = {r.fp for r in fps.filter("doc_id = 0").collect()}
    b = {r.fp for r in fps.filter("doc_id = 1").collect()}
    c = {r.fp for r in fps.filter("doc_id = 2").collect()}
    assert a & b, "shared 6-word passage must share a fingerprint"
    assert not (a & c) and not (b & c)


def test_pairs_score_and_common_fp_filter(spark):
    base = " ".join(f"w{i} w{i+1} common phrase segment w{i+2}" for i in range(6))
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, "totally disjoint text body here")],
        "doc_id long, text string",
    )
    pairs = dedup.winnowing_pairs(df, min_shared=1, max_df=10).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    assert pairs[0].fp_jaccard == 1.0  # identical docs: identical fp sets
    # with max_df = 1, every fingerprint in >1 doc is dropped: no pairs
    assert dedup.winnowing_pairs(df, min_shared=1, max_df=1).count() == 0
