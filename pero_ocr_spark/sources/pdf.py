"""S11 — searchable-PDF sink and content-stream parser.

The reference's PDF production (``document_ocr/pdf_production.py:99-145``
``PDFWriter``) lays an invisible text layer over the page image: each
text line is placed at ``(left, baseline)``, the font size is fitted to
the line height (shrunk until the string fits the line width,
``get_font_size``/``bisect_max`` at ``pdf_production.py:117-145``), and
the glyphs are horizontally stretched so the rendered width matches the
detected line width (``set_stretching`` at ``pdf_production.py:113``).
It delegates the byte mechanics to ``fpdf`` (absent from this
container), merges with an image-only PDF via ``PyPDF2``
(``pdf_production.py:148-159``), and has no read path at all.

This module re-expresses S11 natively: a **stdlib PDF 1.4 writer**
(byte-accurate xref table, Courier text layer in render mode ``3 Tr``
= invisible — the "searchable" part — with the reference's fit/stretch
math in closed form under the Courier metric) and a **content-stream
parser** that recovers the interleaved span sequence ``(kind, text,
media_ref, ord)`` from the bytes, reconstructing reading order from
glyph GEOMETRY (page, descending y, x), not stream order — the writer
deliberately scrambles in-page emission order so the parser's ordering
stage has real work, mirroring the corpus scramble.

Media spans become real embedded image XObjects (1×1 uncompressed RGB,
deterministic pixel) drawn via ``cm``/``Do``, wrapped in the standard
accessibility marked-content ``/Figure <</ActualText (ref)>> BDC … EMC``
so the media reference survives the round trip the way a real tagged
PDF carries replacement text.

Scale shape: the writer is a per-document ``grouped_batches_in_pandas``
stage (its numbered repartition on doc_id keeps AQE's small-partition
coalesce from serializing it, the same hazard as the XML exporters),
one shuffle total; the parser is a stateless ``mapInPandas`` over (doc_id, pdf)
rows, zero shuffles. PDF size is linear in span count; a 64×-skewed doc
produces a ~130-page PDF, bounded per row.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pero_ocr_spark.operators import flat_map_in_pandas, grouped_batches_in_pandas

PAGE_W, PAGE_H = 595, 842          # A4 in points
LINES_PER_PAGE = 48
TOP_Y = 790.0                      # first baseline (PDF coords, bottom-up)
LINE_PITCH = 15.0
TEXT_X = 72.0
LINE_W = 450.0                     # the "detected line width" to stretch to
LINE_H = 12.0                      # the "detected line height" to fit
IMG_SIZE = 40.0                    # drawn media box
_COURIER_EM = 0.6                  # Courier advance width, fraction of size


def fit_font(text: str, height: float = LINE_H, width: float = LINE_W):
    """Closed form of the reference's ``get_font_size`` +
    ``set_stretching`` (pdf_production.py:106-145) under the Courier
    metric: a monospace string at size s is ``0.6·s·len`` wide, so the
    bisection collapses to ``min(height, width/(0.6·len))`` and the
    stretch factor is ``100·width/default_width``."""
    n = max(len(text), 1)
    size = min(height, width / (_COURIER_EM * n))
    default_w = _COURIER_EM * size * n
    tz = 100.0 * width / default_w
    return round(size, 2), round(tz, 2)


def _esc(s: str) -> str:
    """PDF literal-string escaping (ISO 32000 §7.3.4.2): specials
    backslash-escaped, non-ASCII carried as octal escapes of the UTF-8
    bytes, so the emitted content stream is pure ASCII."""
    out = []
    for b in s.encode("utf-8"):
        if b in (0x5C, 0x28, 0x29):                # \ ( )
            out.append("\\" + chr(b))
        elif b == 0x0A:
            out.append(r"\n")
        elif b == 0x0D:
            out.append(r"\r")
        elif b == 0x09:
            out.append(r"\t")
        elif 0x20 <= b < 0x7F:
            out.append(chr(b))
        else:
            out.append("\\%03o" % b)
    return "".join(out)


_UNESC = {
    "\\": 0x5C, "(": 0x28, ")": 0x29,
    "n": 0x0A, "r": 0x0D, "t": 0x09, "b": 0x08, "f": 0x0C,
}


def _unesc(s: str) -> str:
    buf, i = bytearray(), 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _UNESC:
                buf.append(_UNESC[nxt])
                i += 2
                continue
            if nxt.isdigit():                      # octal \d{1,3}
                j = i + 1
                while j < len(s) and j < i + 4 and s[j].isdigit():
                    j += 1
                buf.append(int(s[i + 1:j], 8) & 0xFF)
                i = j
                continue
            i += 1                                 # line continuation
            continue
        buf.append(ord(c) & 0xFF)
        i += 1
    try:
        return buf.decode("utf-8")
    except UnicodeDecodeError:
        return buf.decode("latin-1")


def _slot_key(slot: int) -> int:
    """Knuth-hash scramble of the in-page emission order (same constant
    as the corpus scramble) — forces the parser to order by geometry."""
    return (slot * 2654435761) % 4294967296


def _pixel(ref: str) -> bytes:
    h = 2166136261
    for ch in ref.encode():
        h = ((h ^ ch) * 16777619) % 4294967296
    return bytes([h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF])


def build_pdf(spans) -> bytes:
    """One searchable PDF from ordered spans
    ``[(ord, kind, text, media_ref), …]``. Deterministic layout: span
    ``ord`` occupies line slot ``ord % 48`` on page ``ord // 48``."""
    # ---- group spans by page, scramble emission order within a page
    pages: dict[int, list] = {}
    for o, kind, text, ref in spans:
        pages.setdefault(int(o) // LINES_PER_PAGE, []).append(
            (int(o), kind, text, ref)
        )
    n_pages = (max(pages) + 1) if pages else 1

    objs: list[bytes] = []        # 1-indexed object bodies (sans "N 0 obj")

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    root_num = add(b"<< /Type /Catalog /Pages 2 0 R >>")
    pages_num = add(b"")          # placeholder, patched after kids known
    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>")

    kid_nums = []
    for p in range(n_pages):
        items = sorted(
            pages.get(p, []), key=lambda s: _slot_key(s[0] % LINES_PER_PAGE)
        )
        chunks: list[str] = []
        xobjects: list[tuple[str, int]] = []
        for o, kind, text, ref in items:
            slot = o % LINES_PER_PAGE
            y = TOP_Y - slot * LINE_PITCH
            if kind == "media":
                img_num = add_image(add, ref)
                name = f"Im{o}"
                xobjects.append((name, img_num))
                chunks.append(
                    f"/Figure << /ActualText ({_esc(ref)}) >> BDC\n"
                    f"q {IMG_SIZE:.0f} 0 0 {IMG_SIZE:.0f} "
                    f"{TEXT_X:.2f} {y:.2f} cm /{name} Do Q\nEMC"
                )
            else:
                size, tz = fit_font(text)
                esc = _esc(text)
                if o % 5 == 0 and len(text) > 1:   # exercise TJ arrays
                    mid = len(text) // 2
                    shown = f"[({_esc(text[:mid])}) -15 ({_esc(text[mid:])})] TJ"
                else:
                    shown = f"({esc}) Tj"
                chunks.append(
                    f"BT 3 Tr /F1 {size:g} Tf {tz:g} Tz "
                    f"1 0 0 1 {TEXT_X:.2f} {y:.2f} Tm {shown} ET"
                )
        stream = "\n".join(chunks).encode("latin-1")
        cont_num = add(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream)
        )
        xo = b""
        if xobjects:
            xo = b" /XObject << " + b" ".join(
                b"/%s %d 0 R" % (n.encode(), num) for n, num in xobjects
            ) + b" >>"
        kid_nums.append(add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Resources << /Font << /F1 %d 0 R >>%s >> /Contents %d 0 R >>"
            % (PAGE_W, PAGE_H, font_num, xo, cont_num)
        ))

    objs[pages_num - 1] = (
        b"<< /Type /Pages /Kids [ "
        + b" ".join(b"%d 0 R" % k for k in kid_nums)
        + b" ] /Count %d >>" % len(kid_nums)
    )

    # ---- serialize with a byte-accurate xref
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, root_num, xref_at)
    )
    return bytes(out)


def add_image(add, ref: str) -> int:
    px = _pixel(ref)
    return add(
        b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length 3 >>\n"
        b"stream\n" + px + b"\nendstream"
    )


# ------------------------------------------------------------------ parsing

_OBJ_RE = re.compile(rb"(\d+) 0 obj\s*(.*?)\s*endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(\d+) 0 R")
_CONTENTS_RE = re.compile(rb"/Contents (\d+) 0 R")
_PDFSTR = r"\((?:\\.|[^\\()])*\)"
_TOK_RE = re.compile(
    rf"1 0 0 1 ([\d.]+) ([\d.]+) Tm (?:({_PDFSTR}) Tj|\[((?:{_PDFSTR}|[^\]])*)\] TJ)"
    rf"|/ActualText ({_PDFSTR}) >> BDC\nq [\d. ]+ ([\d.]+) ([\d.]+) cm"
)
_TJ_PART = re.compile(_PDFSTR)


def parse_pdf(doc: bytes):
    """Recover ``[(page, y, x, kind, payload), …]`` from PDF bytes by
    walking the object graph (trailer /Root → /Pages → /Kids →
    /Contents), then emit spans ordered by geometry."""
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(doc)}
    root = int(_REF_RE.search(
        doc[doc.rindex(b"trailer"):].split(b"/Root", 1)[1]).group(1))
    pages_obj = objs[int(_REF_RE.search(
        objs[root].split(b"/Pages", 1)[1]).group(1))]
    kids = [int(n) for n in _REF_RE.findall(_KIDS_RE.search(pages_obj).group(1))]

    found = []
    for page_no, kid in enumerate(kids):
        cont = objs[int(_CONTENTS_RE.search(objs[kid]).group(1))]
        stream = _STREAM_RE.search(cont).group(1).decode("latin-1")
        for m in _TOK_RE.finditer(stream):
            if m.group(5) is not None:            # media marked content
                ref = _unesc(m.group(5)[1:-1])
                x, y = float(m.group(6)), float(m.group(7))
                found.append((page_no, y, x, "media", ref))
            else:
                x, y = float(m.group(1)), float(m.group(2))
                if m.group(3) is not None:
                    text = _unesc(m.group(3)[1:-1])
                else:                             # TJ: concatenate parts
                    text = "".join(
                        _unesc(p[1:-1]) for p in _TJ_PART.findall(m.group(4))
                    )
                found.append((page_no, y, x, "text", text))
    found.sort(key=lambda t: (t[0], -t[1], t[2]))
    return found


# ------------------------------------------------------------- Spark stages

_PDF_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("pdf", BinaryType()),
    StructField("n_pages", LongType()),
    StructField("n_bytes", LongType()),
])

_SPAN_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("ord", LongType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
])


def render_pdfs(extracted: DataFrame) -> DataFrame:
    """Extracted spans → one searchable PDF per document.

    (doc_id, kind, text, media_ref, ord) → (doc_id, pdf, n_pages,
    n_bytes). ``grouped_batches_in_pandas`` hands ``render`` whole
    documents even when an Arrow batch boundary splits one, so each
    PDF sees its complete span set. A null ``doc_id`` renders no PDF."""

    def render(pdf: pd.DataFrame, bounds) -> pd.DataFrame:
        rows = []
        doc_ids = pdf["doc_id"].to_numpy()
        for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
            doc_id = doc_ids[s]
            if pd.isna(doc_id):
                continue
            grp = pdf.iloc[s:e]
            spans = list(zip(
                grp["ord"].astype(int), grp["kind"], grp["text"],
                grp["media_ref"],
            ))
            blob = build_pdf(spans)
            n_pages = (max(int(o) for o, *_ in spans) // LINES_PER_PAGE + 1
                       if spans else 1)
            rows.append((int(doc_id), blob, n_pages, len(blob)))
        return pd.DataFrame(
            rows, columns=["doc_id", "pdf", "n_pages", "n_bytes"]
        )

    return grouped_batches_in_pandas(
        extracted.select("doc_id", "ord", "kind", "text", "media_ref"),
        "doc_id", render, _PDF_SCHEMA,
    )


def parse_pdf_spans(pdfs: DataFrame) -> DataFrame:
    """Searchable PDFs → interleaved span sequence. Stateless
    ``mapInPandas``; reading order reconstructed from geometry."""

    def per_row(doc_id, blob):
        for o, (pg, y, x, kind, payload) in enumerate(parse_pdf(bytes(blob))):
            media = kind == "media"
            yield (int(doc_id), o, kind, "" if media else payload,
                   payload if media else "")

    return flat_map_in_pandas(
        pdfs.select("doc_id", "pdf"), per_row, _SPAN_SCHEMA
    )
