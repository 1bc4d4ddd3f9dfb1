"""Charset detection + decoding of raw captured bodies.

Real crawl archives deliver BYTES: the HTTP capture's body is an
octet stream whose text encoding must be discovered before any DOM or
content work can run. The WARC path so far synthesized utf-8-only
captures; this module closes the gap with the standard detection
ladder (WHATWG encoding sniffing, RFC 9110 charset parameter):

  1. **BOM** — a U+FEFF byte-order mark (utf-8-sig / utf-16le /
     utf-16be) wins over everything, including the transport header.
  2. **HTTP header** — the ``charset=`` parameter of the captured
     ``Content-Type``.
  3. **Meta tag** — ``<meta charset=…>`` scanned in the first 1024
     bytes (ascii-superset prescan, exactly the WHATWG prefix rule).
  4. **Sniff** — strict utf-8 validation; on failure fall back to
     latin-1 (which decodes any byte string, the crawler's last
     resort).

Spark shape: both stages are ``mapInPandas`` over Arrow batches — the
byte payloads never leave the Python stage, no per-row UDF, no
shuffle. At 10^12 docs decoding is a narrow map pipelined into the
scan, exactly like the DOM parse stage it feeds
(operators/html.py).

``encode_bodies`` is the deterministic synthesis twin (per the
no-external-data rule): it spreads the corpus across all four
detection branches by doc_id residue so every ladder rung is
exercised, and appends a non-ascii probe suffix so single-byte
codecs are actually discriminated (an ascii-only body decodes
identically under every candidate and would test nothing).

Reference analog: pero-ocr's input adapters normalize image bit
depth / color mode before the engines run (``core/layout.py`` imports
accept either PAGE or ALTO encodings of the same page); for web
corpora the equivalent front-door normalization is byte→text
decoding.
"""

from __future__ import annotations

import codecs
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pero_ocr_spark.operators import flat_map_in_pandas

# Non-ascii probe appended by the synthesis twin: forces utf-16 to
# differ from utf-8, and latin-1/cp1252 bytes to be invalid utf-8.
PROBE_SUFFIX = " café"

_META_RE = re.compile(
    rb"""<meta\s+charset=["']?([A-Za-z0-9_\-]+)["']?""", re.IGNORECASE
)

_ENCODED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("declared", StringType()),   # HTTP header charset or ''
    StructField("body", BinaryType()),
])

_DECODED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("charset", StringType()),    # canonical codec name
    StructField("charset_source", StringType()),  # bom|header|meta|sniff
    StructField("text", StringType()),
])


def _branch(doc_id: int) -> tuple[str, str]:
    """doc_id → (codec, http-declared charset) for the synthesis twin.

    Residues mod 10 cover every ladder rung:
      0,5 → utf-8, declared in the header
      1,6 → utf-16le with BOM (header says nothing)
      2,7 → utf-16be with BOM
      3   → latin-1 declared in the header
      8   → cp1252 declared ONLY in a meta tag
      4   → utf-8, undeclared (valid-utf-8 sniff rung)
      9   → latin-1, undeclared (invalid-utf-8 → fallback rung)
    """
    r = doc_id % 10
    if r in (0, 5):
        return "utf-8", "utf-8"
    if r in (1, 6):
        return "utf-16-le", ""
    if r in (2, 7):
        return "utf-16-be", ""
    if r == 3:
        return "latin-1", "iso-8859-1"
    if r == 8:
        return "cp1252", ""
    if r == 4:
        return "utf-8", ""
    return "latin-1", ""


def encode_bodies(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, declared, body:binary), each doc
    encoded per its deterministic branch with ``PROBE_SUFFIX``
    appended (and a meta tag prepended for the meta rung)."""

    def per_row(doc_id, text):
        doc_id = int(doc_id)
        codec, declared = _branch(doc_id)
        payload = str(text) + PROBE_SUFFIX
        if codec == "cp1252":
            payload = '<meta charset="windows-1252">' + payload
        body = payload.encode(codec)
        if codec == "utf-16-le":
            body = codecs.BOM_UTF16_LE + body
        elif codec == "utf-16-be":
            body = codecs.BOM_UTF16_BE + body
        return [(doc_id, declared, body)]

    return flat_map_in_pandas(
        docs.select("doc_id", "text"), per_row, _ENCODED_SCHEMA
    )


def _detect(declared: str, body: bytes) -> tuple[str, str, str]:
    """One body through the ladder → (codec, source, text)."""
    if body.startswith(codecs.BOM_UTF16_LE):
        return "utf-16-le", "bom", body[2:].decode("utf-16-le")
    if body.startswith(codecs.BOM_UTF16_BE):
        return "utf-16-be", "bom", body[2:].decode("utf-16-be")
    if body.startswith(codecs.BOM_UTF8):
        return "utf-8", "bom", body[3:].decode("utf-8")
    if declared:
        codec = "latin-1" if declared.lower() == "iso-8859-1" else declared
        return codec, "header", body.decode(codec)
    m = _META_RE.search(body[:1024])
    if m:
        name = m.group(1).decode("ascii").lower()
        codec = "cp1252" if name == "windows-1252" else name
        return codec, "meta", body.decode(codec)
    try:
        return "utf-8", "sniff", body.decode("utf-8", "strict")
    except UnicodeDecodeError:
        return "latin-1", "sniff", body.decode("latin-1")


def detect_and_decode(encoded: DataFrame) -> DataFrame:
    """(doc_id, declared, body) → (doc_id, charset, charset_source,
    text) via the four-rung ladder. Narrow map, no shuffle."""

    def per_row(doc_id, declared, body):
        return [(int(doc_id), *_detect(str(declared), bytes(body)))]

    return flat_map_in_pandas(
        encoded.select("doc_id", "declared", "body"), per_row, _DECODED_SCHEMA
    )


def decode_corpus(docs: DataFrame) -> DataFrame:
    """Synthesis + detection end-to-end: the round trip every decoded
    text must survive — ``text == original + PROBE_SUFFIX`` (meta tag
    stripped) regardless of which rung detected the codec."""
    decoded = detect_and_decode(encode_bodies(docs))
    return decoded.select(
        "doc_id",
        "charset",
        "charset_source",
        F.regexp_replace(
            F.col("text"), r'^<meta charset="windows-1252">', ""
        ).alias("text"),
    )
