"""Real PcGts PAGE-XML import/export (S2/S5) and ALTO layout import/
export (S3/S6).

This module speaks the reference's actual interchange formats:

  * PcGts 2019-07-15 export with region Coords, ReadingOrder,
    per-line Baseline / Coords polygons / ``heights_v2`` custom attr /
    TextEquiv confidence (``core/layout.py:323-398``);
  * namespace-agnostic PcGts import covering 2019/2013 and the legacy
    ``heights`` custom-attr regex forms, baseline-less line skipping,
    and height guessing from the polygon when the custom attr is
    absent (``core/layout.py:250-321``, ``:133-218``);
  * ALTO layout import: TextBlock rects, TextLine HPOS/VPOS/WIDTH/
    HEIGHT/BASELINE geometry, word ``String`` joins
    (``core/layout.py:602-651``) — plus a matching deterministic
    exporter with force-aligned per-word boxes and confidences
    (``core/layout.py:400-597``) so the pair round-trips.

All four are Arrow-batched per-document kernels
(``flat_map_in_pandas`` / ``grouped_map_in_pandas`` on doc_id): one XML
string per page row in/out, no shuffle beyond the export's doc_id
repartition. At 10^12 docs the XML table
partitions like any other string column; parse cost is data-parallel.
Timestamps are injected constants so exports are byte-deterministic
(the reference stamps datetime.now(), layout.py:337-339).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from functools import lru_cache
from xml.sax.saxutils import escape, quoteattr

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pero_ocr_spark.functions import geometry as G
from pero_ocr_spark.functions import kernels
from pero_ocr_spark.functions import page_utils as U
from pero_ocr_spark.operators import flat_map_in_pandas
from pero_ocr_spark.operators.ctc import CHARSET, synth_line_logits

CREATED = "2026-01-01T00:00:00+00:00"  # injected, deterministic
PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"

# one row per text line; geometry arrays are (n,2) point lists
LINES_DDL = (
    "doc_id long, page_id string, page_h long, page_w long, "
    "region_id string, region_type string, region_order long, "
    "line_id string, idx long, "
    "baseline array<array<double>>, polygon array<array<double>>, "
    "height_up double, height_down double, "
    "transcription string, confidence double"
)

def _pts(p) -> np.ndarray:
    """Arrow array<array<double>> cells arrive as object-dtype arrays
    of per-point arrays; coerce to a dense (n,2) float matrix."""
    a = np.asarray(p)
    if a.dtype != object:
        return a.astype(np.float64, copy=False)
    return np.array([np.asarray(q, dtype=np.float64) for q in a])


def _doc_order(pdf: pd.DataFrame):
    """(regions, line_order) replicating the exporters' pandas
    ordering — regions sorted by (region_order, region_id), lines
    within a region by (idx, line_id), both stable — as plain python
    over column arrays (the groupby/sort_values/itertuples machinery
    costs more than the XML build itself; ordering is identical
    because the python tuple sort compares ints and strings exactly
    like the pandas lexsort it replaces)."""
    rids = pdf["region_id"].to_numpy()
    orders = pdf["region_order"].to_numpy()
    idxs = pdf["idx"].to_numpy()
    lids = pdf["line_id"].to_numpy()
    by_region: dict = {}
    for i, rid in enumerate(rids):
        by_region.setdefault(rid, []).append(i)
    regions = sorted(
        by_region.items(), key=lambda kv: (int(orders[kv[1][0]]), kv[0])
    )
    return [
        (rid, rows, sorted(rows, key=lambda i: (idxs[i], lids[i])))
        for rid, rows in regions
    ]


# ------------------------------------------------------------- export

def export_pcgts(lines: DataFrame, creator: str = "pero-ocr-spark") -> DataFrame:
    """Lines table (LINES_DDL columns) → one PcGts 2019 XML string per
    document. Region order: region_order then region_id; line order:
    idx. Region Coords = bbox of its line polygons."""

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = int(pdf["doc_id"].iloc[0])
        page_id = pdf["page_id"].iloc[0] or f"doc-{doc_id}"
        page_h = int(pdf["page_h"].iloc[0])
        page_w = int(pdf["page_w"].iloc[0])
        parts = [
            '<?xml version="1.0" encoding="utf-8"?>',
            f'<PcGts xmlns="{PAGE_NS}">',
            f"<Metadata><Creator>{escape(creator)}</Creator>"
            f"<Created>{CREATED}</Created>"
            f"<LastChange>{CREATED}</LastChange></Metadata>",
            f'<Page imageFilename={quoteattr(page_id)} '
            f'imageWidth="{page_w}" imageHeight="{page_h}">',
        ]
        c_order = pdf["region_order"].to_numpy()
        c_rtype = pdf["region_type"].to_numpy()
        c_poly = pdf["polygon"].to_numpy()
        c_base = pdf["baseline"].to_numpy()
        c_lid = pdf["line_id"].to_numpy()
        c_idx = pdf["idx"].to_numpy()
        c_hu = pdf["height_up"].to_numpy()
        c_hd = pdf["height_down"].to_numpy()
        c_conf = pdf["confidence"].to_numpy()
        c_text = pdf["transcription"].to_numpy()
        regions = _doc_order(pdf)
        parts.append('<ReadingOrder><OrderedGroup id="reading_order">')
        for rid, rows, _ in regions:
            parts.append(
                f'<RegionRefIndexed regionRef={quoteattr(rid)} '
                f'index="{int(c_order[rows[0]])}"/>'
            )
        parts.append("</OrderedGroup></ReadingOrder>")
        for rid, rows, line_rows in regions:
            rtype = c_rtype[rows[0]]
            type_attr = f" type={quoteattr(rtype)}" if rtype else ""
            polys = np.vstack([_pts(c_poly[i]) for i in rows])
            x0, y0 = polys[:, 0].min(), polys[:, 1].min()
            x1, y1 = polys[:, 0].max(), polys[:, 1].max()
            rcoords = U.points_array_to_string(
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
            )
            parts.append(
                f"<TextRegion id={quoteattr(rid)}{type_attr}>"
                f'<Coords points="{rcoords}"/>'
            )
            for i in line_rows:
                # omit conf when absent — the reference only writes it
                # for lines that have one (core/layout.py:390-392);
                # formatting a null would emit conf="nan"
                conf = c_conf[i]
                conf_attr = (
                    f' conf="{conf:.3f}"'
                    if conf is not None and not np.isnan(conf)
                    else ""
                )
                parts.append(
                    f"<TextLine id={quoteattr(c_lid[i])} index=\"{int(c_idx[i])}\" "
                    f'custom="heights_v2:[{c_hu[i]:.1f},{c_hd[i]:.1f}]">'
                    f'<Coords points="{U.points_array_to_string(c_poly[i])}"/>'
                    f'<Baseline points="{U.points_array_to_string(c_base[i])}"/>'
                    f"<TextEquiv{conf_attr}>"
                    f"<Unicode>{escape(c_text[i])}</Unicode>"
                    "</TextEquiv></TextLine>"
                )
            parts.append("</TextRegion>")
        parts.extend(["</Page>", "</PcGts>"])
        return pd.DataFrame({"doc_id": [doc_id], "xml": ["".join(parts)]})

    from pero_ocr_spark.operators import grouped_map_in_pandas

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema="doc_id long, xml string"
    )


# ------------------------------------------------------------- import

def _parse_pcgts(doc_id: int, xml: str):
    """One PcGts document → its lines, as LINES_DDL tuples."""
    root = ET.fromstring(xml)
    ns = U.element_schema(root.tag)
    page = root.find(f"{ns}Page")
    page_id = page.get("imageFilename", "")
    page_h = int(page.get("imageHeight", 0))
    page_w = int(page.get("imageWidth", 0))

    # reading order (core/layout.py:221-231)
    order: dict[str, int] = {}
    for ro in page.iter(f"{ns}ReadingOrder"):
        for og in ro.iter(f"{ns}OrderedGroup"):
            for ref in og.iter(f"{ns}RegionRefIndexed"):
                order[ref.get("regionRef")] = int(ref.get("index"))

    for region in root.iter(f"{ns}TextRegion"):
        rid = region.get("id")
        rtype = region.get("type", "")
        for line_i, line in enumerate(region.iter(f"{ns}TextLine")):
            heights = None
            if "custom" in line.attrib:
                heights = U.parse_heights_custom(line.attrib["custom"])
            try:
                idx = int(line.get("index"))
            except (TypeError, ValueError):
                idx = line_i
            bl_el = line.find(f"{ns}Baseline")
            if bl_el is None:
                # reference skips baseline-less lines (layout.py:296-301)
                continue
            baseline = U.points_string_to_array(bl_el.get("points"))
            coords_el = line.find(f"{ns}Coords")
            # check_polygon: imported Coords may self-intersect (hand-
            # drawn or degraded exports); repair like the reference's
            # shapely buffer(0) (layout_helpers.py:184-191)
            polygon = (
                G.check_polygon(
                    U.points_string_to_array(coords_el.get("points"))
                )
                if coords_el is not None
                else np.zeros((0, 2), dtype=np.int64)
            )
            if not heights:
                heights = U.guess_line_heights_from_polygon(
                    baseline, polygon, n=len(baseline)
                )
            text, conf = "", None
            te = line.find(f"{ns}TextEquiv")
            if te is not None:
                uni = te.find(f"{ns}Unicode")
                text = (uni.text if uni is not None else "") or ""
                c = te.get("conf")
                conf = float(c) if c is not None else None
            yield (
                doc_id, page_id, page_h, page_w, rid, rtype,
                order.get(rid, -1), line.get("id"), idx,
                baseline.astype(float).tolist(),
                polygon.astype(float).tolist(),
                float(heights[0]), float(heights[1]), text, conf,
            )


def import_pcgts(xml_df: DataFrame) -> DataFrame:
    """(doc_id, xml) PcGts strings → lines table (LINES_DDL). Version-
    agnostic via namespace sniffing; covers heights_v2, the legacy
    heights regexes, missing-heights polygon guessing, and skipping
    baseline-less lines."""

    def per_row(doc_id, xml):
        return _parse_pcgts(int(doc_id), xml)

    return flat_map_in_pandas(xml_df.select("doc_id", "xml"), per_row, LINES_DDL)


# -------------------------------------------------------- ALTO (S3/S6)

PX_PER_FRAME = 8
BLANK = len(CHARSET) - 1


@lru_cache(maxsize=65536)
def word_boxes(text: str) -> list[dict]:
    """Force-align a line transcription to its logits and emit one
    (content, hpos, width, confidence) box per word.

    Memoized per executor process (``lru_cache``): corpus line
    texts follow a skewed word distribution, so across a long-lived
    python worker most calls are repeats — alignment runs once per
    DISTINCT transcription. Callers must treat the returned list as
    read-only."""
    if not text.strip():
        return []
    dense = synth_line_logits(text)
    seq = [CHARSET.index(c) for c in text if c in CHARSET[:-1]]
    if not seq:
        return []
    alignment = kernels.force_align(dense, seq, BLANK)
    # frame index of each aligned char occurrence (first frame of run)
    char_frames: list[int] = []
    prev = None
    for f, s in enumerate(alignment):
        if s != BLANK and (prev != s or (char_frames and f > 0 and alignment[f - 1] == BLANK)):
            char_frames.append(f)
        prev = s
    confs = kernels.letter_confidences(dense, np.asarray(alignment), BLANK)
    # split the aligned chars back into words (charset has no space, so
    # words were concatenated in charset order)
    boxes = []
    ci = 0
    for word in text.split(" "):
        chars = [c for c in word if c in CHARSET[:-1]]
        if not chars:
            continue
        f0 = char_frames[ci]
        f1 = char_frames[ci + len(chars) - 1]
        wconf = float(np.exp(np.mean(confs[ci : ci + len(chars)])))
        boxes.append(
            {
                "content": word,
                "hpos": f0 * PX_PER_FRAME,
                "width": (f1 - f0 + 1) * PX_PER_FRAME,
                "confidence": round(wconf, 4),
            }
        )
        ci += len(chars)
    return boxes


def export_alto_layout(lines: DataFrame) -> DataFrame:
    """THE ALTO exporter (S6): PrintSpace with TextBlock rects and
    TextLine HPOS/VPOS/WIDTH/HEIGHT/BASELINE geometry, one <String>
    per word with the reference's force-aligned word geometry
    (core/layout.py:400-597): word frame spans from the Viterbi
    alignment of the transcription to its logits, pixel boxes anchored
    at the line's HPOS, WC = mean aligned letter confidence. The
    layout contract matches the reference's ALTO import
    (core/layout.py:602-651), so export → ``import_alto`` /
    ``import_alto_words`` round-trips line AND word fields."""

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = int(pdf["doc_id"].iloc[0])
        page_h = int(pdf["page_h"].iloc[0])
        page_w = int(pdf["page_w"].iloc[0])
        parts = [
            '<?xml version="1.0" encoding="utf-8"?>',
            '<alto xmlns="http://www.loc.gov/standards/alto/ns-v2#">',
            "<Layout>",
            f'<Page ID="xml{escape(str(doc_id))}" HEIGHT="{page_h}" '
            f'WIDTH="{page_w}" PHYSICAL_IMG_NR="1"><PrintSpace>',
        ]
        c_poly = pdf["polygon"].to_numpy()
        c_base = pdf["baseline"].to_numpy()
        c_text = pdf["transcription"].to_numpy()
        for rid, rows, line_rows in _doc_order(pdf):
            polys = np.vstack([_pts(c_poly[i]) for i in rows])
            bx0, by0 = int(polys[:, 0].min()), int(polys[:, 1].min())
            bw = int(polys[:, 0].max()) - bx0
            bh = int(polys[:, 1].max()) - by0
            parts.append(
                f"<TextBlock ID={quoteattr(rid)} HPOS=\"{bx0}\" VPOS=\"{by0}\" "
                f'WIDTH="{bw}" HEIGHT="{bh}">'
            )
            for i in line_rows:
                bl = _pts(c_base[i])
                poly = _pts(c_poly[i])
                hpos = int(poly[:, 0].min())
                vpos = int(poly[:, 1].min())
                width = int(poly[:, 0].max()) - hpos
                height = int(poly[:, 1].max()) - vpos
                parts.append(
                    f'<TextLine HPOS="{hpos}" VPOS="{vpos}" WIDTH="{width}" '
                    f'HEIGHT="{height}" BASELINE="{int(bl[0][1])}">'
                )
                for b in word_boxes(c_text[i]):
                    parts.append(
                        f"<String CONTENT={quoteattr(b['content'])} "
                        f"HPOS=\"{hpos + b['hpos']}\" VPOS=\"{vpos}\" "
                        f"WIDTH=\"{b['width']}\" HEIGHT=\"{height}\" "
                        f"WC=\"{b['confidence']}\"/>"
                    )
                parts.append("</TextLine>")
            parts.append("</TextBlock>")
        parts.extend(["</PrintSpace></Page></Layout></alto>"])
        return pd.DataFrame({"doc_id": [doc_id], "xml": ["".join(parts)]})

    from pero_ocr_spark.operators import grouped_map_in_pandas

    return grouped_map_in_pandas(
        lines, "doc_id", per_doc, schema="doc_id long, xml string"
    )


def import_alto(xml_df: DataFrame) -> DataFrame:
    """(doc_id, xml) ALTO strings → lines table (S3,
    core/layout.py:602-651 semantics): TextBlock rect regions,
    horizontal 2-point baselines at BASELINE, rect line polygons,
    heights = [HEIGHT + VPOS - BASELINE, BASELINE - VPOS] (the
    reference's order — descender first, faithfully reproduced),
    transcription = space-join of String CONTENTs. ALTO carries no
    line ids or reading order; idx = document order of TextLines,
    line_id = '' and region_order = block document order."""

    def per_row(doc_id, xml):
        root = ET.fromstring(xml)
        ns = U.element_schema(root.tag)
        page = root.find(f"{ns}Layout/{ns}Page")
        page_id = page.get("ID", "xml")[3:]
        page_h = int(page.get("HEIGHT", 0))
        page_w = int(page.get("WIDTH", 0))
        ps = page.find(f"{ns}PrintSpace")
        for ri, block in enumerate(ps.iter(f"{ns}TextBlock")):
            rid = block.get("ID")
            for li, line in enumerate(block.iter(f"{ns}TextLine")):
                hpos, vpos, width, height, base_y = (
                    int(line.get(a))
                    for a in ("HPOS", "VPOS", "WIDTH", "HEIGHT", "BASELINE")
                )
                x0, x1, y0, y1, by = map(
                    float, (hpos, hpos + width, vpos, vpos + height, base_y)
                )
                words = [s.get("CONTENT") for s in line.iter(f"{ns}String")]
                yield (
                    int(doc_id), page_id, page_h, page_w, rid, "", ri, "", li,
                    [[x0, by], [x1, by]],
                    [[x0, y0], [x1, y0], [x1, y1], [x0, y1]],
                    y1 - by, by - y0, " ".join(words), None,
                )

    return flat_map_in_pandas(xml_df.select("doc_id", "xml"), per_row, LINES_DDL)


WORDS_DDL = (
    "doc_id long, region_id string, region_order long, idx long, "
    "word_idx long, content string, hpos long, vpos long, width long, "
    "height long, wc double"
)


def import_alto_words(xml_df: DataFrame) -> DataFrame:
    """(doc_id, xml) ALTO strings → one row per <String> word with its
    full geometry and WC — the lossless word-level complement of
    ``import_alto`` (which joins CONTENTs into line transcriptions).
    The reference reads the same attributes when logits/transcription
    need word re-anchoring (core/layout.py:602-651 String handling)."""
    def per_row(doc_id, xml):
        root = ET.fromstring(xml)
        ns = U.element_schema(root.tag)
        ps = root.find(f"{ns}Layout/{ns}Page/{ns}PrintSpace")
        for ri, block in enumerate(ps.iter(f"{ns}TextBlock")):
            rid = block.get("ID")
            for li, line in enumerate(block.iter(f"{ns}TextLine")):
                for wi, s in enumerate(line.iter(f"{ns}String")):
                    wc = s.get("WC")
                    yield (
                        int(doc_id), rid, ri, li, wi, s.get("CONTENT"),
                        int(s.get("HPOS")), int(s.get("VPOS")),
                        int(s.get("WIDTH")), int(s.get("HEIGHT")),
                        float(wc) if wc is not None else None,
                    )

    return flat_map_in_pandas(xml_df.select("doc_id", "xml"), per_row, WORDS_DDL)
