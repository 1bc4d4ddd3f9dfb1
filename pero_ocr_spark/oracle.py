"""Single-process oracle engine (golden-output generator).

The analog of running the reference engine in
``test/processing_test.sh`` to produce golden PAGE-XML: a plain
Python/pandas implementation of the extraction semantics, independent
of Spark, used by pytest to check per-document span-sequence equality
``(kind, text, media_ref, order)`` (BASELINE.json ``input_hint``).

Must stay semantically identical to:
  * corpus.py derivation (span synthesis), and
  * operators/extract.py (classify / strip / order).
"""

from __future__ import annotations

import pandas as pd

from pero_ocr_spark.operators.extract import BOILERPLATE_WORDS


def doc_multiplier(doc_id: int) -> int:
    if doc_id % 97 == 0:
        return 64
    if doc_id % 13 == 0:
        return 8
    return 1


def synth_spans(doc_id: int, text: str) -> list[dict]:
    """Mirror of corpus.py's span derivation (source order, unscrambled)."""
    words = (text + " ") * doc_multiplier(doc_id)
    out = []
    for i, w in enumerate(words.strip().split(" ")):
        if i % 11 == 5:
            kind, t, ref = "media", "", f"img://{doc_id}/{i}"
        elif i % 7 == 3:
            kind, t, ref = "boilerplate", w, ""
        else:
            kind = "text"
            t = "" if i % 19 == 11 else w
            ref = ""
        out.append({"kind": kind, "text": t, "media_ref": ref, "offset": i})
    return out


def extract_doc(spans: list[dict]) -> list[dict]:
    """classify → strip → reading order, for one document: media spans
    and non-empty, non-stop-word text spans survive; every other kind
    is boilerplate."""
    kept = [
        s
        for s in spans
        if s["kind"] == "media"
        or (s["kind"] == "text" and s["text"] not in ("", *BOILERPLATE_WORDS))
    ]
    kept.sort(key=lambda s: s["offset"])
    return [
        {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "ord": i}
        for i, s in enumerate(kept)
    ]


def extract_documents(docs: pd.DataFrame) -> pd.DataFrame:
    """Oracle over a documents(doc_id, text) frame → flat OUT_SPAN frame."""
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        for r in extract_doc(synth_spans(int(doc_id), text)):
            rows.append({"doc_id": int(doc_id), **r})
    return pd.DataFrame(
        rows, columns=["doc_id", "kind", "text", "media_ref", "ord"]
    )
