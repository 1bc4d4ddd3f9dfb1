"""S11 searchable-PDF sink + parser (sources/pdf.py).

Reference semantics: document_ocr/pdf_production.py:99-145 — invisible
text layer placed at (left, baseline), font fitted to line height and
stretched to line width. The writer here is stdlib (fpdf absent), the
parser has no reference counterpart.
"""

import numpy as np
import pandas as pd
import pytest

from pero_ocr_spark.sources import pdf as P


def mk_spans(n, doc=7):
    spans = []
    for i in range(n):
        if i % 11 == 5:
            spans.append((i, "media", "", f"img://{doc}/{i}"))
        else:
            spans.append((i, "text", f"word{i}", ""))
    return spans


class TestWriter:
    def test_xref_offsets_point_at_objects(self):
        blob = P.build_pdf(mk_spans(120))
        xref_at = int(blob.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
        assert blob[xref_at:xref_at + 4] == b"xref"
        lines = blob[xref_at:].split(b"\n")
        n = int(lines[1].split()[1])
        offs = [int(line[:10]) for line in lines[3:3 + n - 1]]
        for i, off in enumerate(offs, start=1):
            assert blob[off:off + len(b"%d 0 obj" % i)] == b"%d 0 obj" % i

    def test_invisible_text_mode_and_courier(self):
        blob = P.build_pdf(mk_spans(3))
        assert b"3 Tr" in blob          # render mode 3 = invisible layer
        assert b"/BaseFont /Courier" in blob

    def test_multipage_split_at_48(self):
        blob = P.build_pdf(mk_spans(49))
        assert blob.count(b"/Type /Page ") == 2
        assert b"/Count 2" in blob

    def test_stream_is_ascii(self):
        blob = P.build_pdf([(0, "text", "über-naïve (\\) text", "")])
        assert max(blob) < 0x80

    def test_fit_font_closed_form(self):
        # short string: height-limited; long string: width-limited,
        # mirroring get_font_size + set_stretching
        # (pdf_production.py:106-145) under the Courier 0.6 em metric
        size, tz = P.fit_font("ab", height=12.0, width=450.0)
        assert size == 12.0 and tz > 100.0
        long = "x" * 100
        size, tz = P.fit_font(long, height=12.0, width=450.0)
        assert size == pytest.approx(450.0 / (0.6 * 100), abs=0.01)
        assert tz == pytest.approx(100.0, abs=0.5)


class TestRoundTrip:
    def check(self, spans):
        got = P.parse_pdf(P.build_pdf(spans))
        rec = [(k, "" if k == "media" else p, p if k == "media" else "")
               for _, _, _, k, p in got]
        assert rec == [(k, t, r) for _, k, t, r in spans]

    def test_interleaved_multipage(self):
        self.check(mk_spans(120))

    def test_escapes(self):
        self.check([
            (0, "text", r"par(en)s \and\ backslash", ""),
            (1, "text", "tab\there", ""),
            (2, "media", "", r"img://9/w(eird)\ref"),
        ])

    def test_non_ascii_utf8(self):
        self.check([(0, "text", "über-naïve čžš 北京", "")])

    def test_tj_kerning_array_joined(self):
        # ord % 5 == 0 emits a two-part TJ array; parts concatenate
        blob = P.build_pdf([(0, "text", "kerned", "")])
        assert b"] TJ" in blob
        self.check([(0, "text", "kerned", "")])

    def test_order_recovered_from_geometry(self):
        # writer scrambles in-page emission; parse must return ord order
        spans = mk_spans(30)
        blob = P.build_pdf(spans)
        got = P.parse_pdf(blob)
        texts = [p for *_, k, p in got if k == "text"]
        assert texts == [t for _, k, t, _ in spans if k == "text"]
        # and the stream itself is NOT in ord order (scramble is real)
        stream_order = []
        content = next(
            s for s in P._STREAM_RE.findall(blob) if b" Tm " in s
        )
        for m in P._TOK_RE.finditer(content.decode("latin-1")):
            if m.group(3):
                stream_order.append(P._unesc(m.group(3)[1:-1]))
            elif m.group(4):
                stream_order.append("".join(
                    P._unesc(p[1:-1]) for p in P._TJ_PART.findall(m.group(4))
                ))
        assert stream_order != texts and sorted(stream_order) == sorted(texts)

    def test_empty_doc(self):
        blob = P.build_pdf([])
        assert P.parse_pdf(blob) == []
        assert b"/Count 1" in blob      # still a valid 1-page PDF

    def test_media_pixel_deterministic(self):
        a = P.build_pdf([(0, "media", "", "img://1/0")])
        b = P.build_pdf([(0, "media", "", "img://1/0")])
        assert a == b
        assert P._pixel("img://1/0") != P._pixel("img://1/11")


@pytest.mark.usefixtures("spark")
class TestSparkStages:
    def test_render_parse_roundtrip(self, spark):
        rows = []
        for d in (1, 2):
            for o, kind, text, ref in mk_spans(60, doc=d):
                rows.append((d, o, kind, text, ref))
        df = spark.createDataFrame(
            rows, "doc_id long, ord long, kind string, text string, media_ref string"
        )
        pdfs = P.render_pdfs(df)
        out = P.parse_pdf_spans(pdfs).toPandas()
        out = out.sort_values(["doc_id", "ord"]).reset_index(drop=True)
        want = pd.DataFrame(
            rows, columns=["doc_id", "ord", "kind", "text", "media_ref"]
        ).sort_values(["doc_id", "ord"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(out, want)

    def test_doc_split_across_batches(self, spark):
        # force tiny Arrow batches so one doc spans several batches;
        # the carry logic must still emit ONE complete PDF per doc
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            rows = [(1, o, k, t, r) for o, k, t, r in mk_spans(100)]
            df = spark.createDataFrame(
                rows,
                "doc_id long, ord long, kind string, text string, media_ref string",
            )
            pdfs = P.render_pdfs(df).toPandas()
            assert len(pdfs) == 1
            assert int(pdfs["n_pages"].iloc[0]) == 100 // P.LINES_PER_PAGE + 1
            parsed = P.parse_pdf(bytes(pdfs["pdf"].iloc[0]))
            assert len(parsed) == 100
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
