"""Real PcGts PAGE-XML + ALTO import/export (S2/S3/S5) and the §2.7
scalar utilities."""

import math

import numpy as np
import pytest

from pero_ocr_spark.functions import page_utils as U
from pero_ocr_spark.sources import pcgts


def get_rotation(lines) -> float:
    """Mean baseline tilt in degrees over the longest half of the
    lines (layout_helpers.py:345-374): per line, angle of the
    first->last chord; keep the longest len(lines)//2 entries; mean."""
    infos = []
    for line in lines:
        p0 = np.asarray(line[0], dtype=np.float64)
        p1 = np.asarray(line[-1], dtype=np.float64)
        if p1[1] != p0[1]:
            rot = math.degrees(np.arctan2(p1[1] - p0[1], p1[0] - p0[0]))
            length = float(np.hypot(p1[0] - p0[0], p1[1] - p0[1]))
            infos.append((length, rot))
        else:
            infos.append((0.0, 0.0))
    infos.sort(key=lambda x: x[0], reverse=True)
    infos = infos[: int(len(infos) / 2)]
    if not infos:
        return 0.0
    return sum(r for _, r in infos) / len(infos)


# A fixture written to the REFERENCE schema (PcGts 2013 namespace,
# legacy `heights` custom attr, one baseline-less line, one line with
# no custom attr at all) — exercises core/layout.py:250-321 paths.
REF_PCGTS = """<?xml version="1.0" encoding="utf-8"?>
<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15">
<Page imageFilename="scan_001.jpg" imageWidth="800" imageHeight="1200">
<ReadingOrder><OrderedGroup id="ro">
<RegionRefIndexed regionRef="r2" index="0"/>
<RegionRefIndexed regionRef="r1" index="1"/>
</OrderedGroup></ReadingOrder>
<TextRegion id="r1" type="paragraph">
<Coords points="0,0 400,0 400,100 0,100"/>
<TextLine id="r1-l1" custom="heights {height:[25, 5, 20, 3],}">
<Coords points="10,10 200,10 200,40 10,40"/>
<Baseline points="10,35 200,35"/>
<TextEquiv conf="0.91"><Unicode>hello world</Unicode></TextEquiv>
</TextLine>
<TextLine id="r1-l2">
<Coords points="10,50 200,50 200,80 10,80"/>
<TextEquiv><Unicode>skipped: no baseline</Unicode></TextEquiv>
</TextLine>
<TextLine id="r1-l3">
<Coords points="10,80 200,80 200,110 10,110"/>
<Baseline points="10,104 200,104"/>
<TextEquiv><Unicode>guessed heights</Unicode></TextEquiv>
</TextLine>
</TextRegion>
<TextRegion id="r2">
<Coords points="0,200 400,200 400,300 0,300"/>
<TextLine id="r2-l1" index="7" custom="heights_v2:[12.5,3.5]">
<Coords points="10,210 300,210 300,240 10,240"/>
<Baseline points="10,235 300,235"/>
<TextEquiv><Unicode>second region</Unicode></TextEquiv>
</TextLine>
</TextRegion>
</Page>
</PcGts>"""


@pytest.fixture(scope="module")
def ref_lines(spark):
    df = spark.createDataFrame([(7, REF_PCGTS)], "doc_id long, xml string")
    rows = {r["line_id"]: r for r in pcgts.import_pcgts(df).collect()}
    return rows


class TestPcgtsImport:
    def test_page_attrs_and_reading_order(self, ref_lines):
        r = ref_lines["r1-l1"]
        assert r["page_id"] == "scan_001.jpg"
        assert (r["page_h"], r["page_w"]) == (1200, 800)
        assert r["region_type"] == "paragraph"
        assert r["region_order"] == 1  # r1 listed second in ReadingOrder
        assert ref_lines["r2-l1"]["region_order"] == 0

    def test_legacy_heights_4_numbers(self, ref_lines):
        # layout.py:272-276: [h0, h2] of the 4-number legacy form
        r = ref_lines["r1-l1"]
        assert (r["height_up"], r["height_down"]) == (25.0, 20.0)
        assert r["confidence"] == pytest.approx(0.91)
        assert r["transcription"] == "hello world"

    def test_baseline_less_line_skipped(self, ref_lines):
        assert "r1-l2" not in ref_lines  # layout.py:296-301

    def test_missing_heights_guessed_from_polygon(self, ref_lines):
        # polygon y ∈ [80,110], baseline y=104 → up≈24, down≈6
        r = ref_lines["r1-l3"]
        assert r["height_up"] == pytest.approx(24.0, abs=0.5)
        assert r["height_down"] == pytest.approx(6.0, abs=0.5)

    def test_heights_v2_and_index_attr(self, ref_lines):
        r = ref_lines["r2-l1"]
        assert (r["height_up"], r["height_down"]) == (12.5, 3.5)
        assert r["idx"] == 7
        assert r["baseline"] == [[10.0, 235.0], [300.0, 235.0]]

    def test_export_import_roundtrip(self, spark, ref_lines):
        # plus one line whose text needs XML escaping
        lines = {lid: r.asDict() for lid, r in ref_lines.items()}
        lines["r1-esc"] = {**lines["r1-l1"], "line_id": "r1-esc", "idx": 9,
                           "transcription": "a < b & c"}
        src = spark.createDataFrame(
            list(lines.values()), schema=pcgts.LINES_DDL
        )
        xml = pcgts.export_pcgts(src)
        back = {
            r["line_id"]: r for r in pcgts.import_pcgts(xml).collect()
        }
        assert set(back) == set(lines)
        assert back["r1-esc"]["transcription"] == "a < b & c"
        for lid, r in lines.items():
            b = back[lid]
            assert b["transcription"] == r["transcription"]
            assert b["baseline"] == r["baseline"]
            assert b["height_up"] == pytest.approx(r["height_up"], abs=0.05)
            assert b["region_order"] == r["region_order"]


REF_ALTO = """<?xml version="1.0" encoding="utf-8"?>
<alto xmlns="http://www.loc.gov/standards/alto/ns-v2#">
<Layout><Page ID="xmlscan_9" HEIGHT="1200" WIDTH="800" PHYSICAL_IMG_NR="1">
<PrintSpace>
<TextBlock ID="b1" HPOS="10" VPOS="10" WIDTH="300" HEIGHT="100">
<TextLine HPOS="10" VPOS="10" WIDTH="290" HEIGHT="30" BASELINE="34">
<String CONTENT="alto" HPOS="10" VPOS="10" WIDTH="40" HEIGHT="30"/>
<String CONTENT="words" HPOS="60" VPOS="10" WIDTH="50" HEIGHT="30"/>
</TextLine>
</TextBlock>
</PrintSpace></Page></Layout></alto>"""


class TestAltoImport:
    def test_reference_semantics(self, spark):
        df = spark.createDataFrame([(9, REF_ALTO)], "doc_id long, xml string")
        (r,) = pcgts.import_alto(df).collect()
        assert r["page_id"] == "scan_9"
        assert r["transcription"] == "alto words"
        assert r["baseline"] == [[10.0, 34.0], [300.0, 34.0]]
        # reference stores [HEIGHT+VPOS-BASELINE, BASELINE-VPOS]
        # (layout.py:630-632): descender first
        assert (r["height_up"], r["height_down"]) == (6.0, 24.0)
        assert r["polygon"][0] == [10.0, 10.0]
        assert r["polygon"][2] == [300.0, 40.0]


class TestPageUtils:
    def test_points_string_roundtrip(self):
        arr = U.points_string_to_array("10,20 30.6,40.4 0,0")
        assert arr.tolist() == [[10, 20], [31, 40], [0, 0]]
        assert U.points_array_to_string(arr) == "10,20 31,40 0,0"

    def test_element_schema(self):
        assert U.element_schema("{http://x/y}Page") == "{http://x/y}"
        assert U.element_schema("Page") == ""



    def test_parse_heights_custom_forms(self):
        assert U.parse_heights_custom("heights_v2:[10.0,4.0]") == [10.0, 4.0]
        # legacy 4-number -> [h0, h2]; 3-number -> [h1, h2-h0]
        assert U.parse_heights_custom("heights:[25, 5, 20, 3]") == [25.0, 20.0]
        assert U.parse_heights_custom("heights:[5, 25, 31]") == [25.0, 26.0]
        assert U.parse_heights_custom("heights:[9, 3]") == [9.0, 3.0]
        assert U.parse_heights_custom("nothing here") is None

    def test_get_rotation_mean_of_longest_half(self):
        flat = [np.array([[0, 0], [100, 0]])]
        assert get_rotation(flat) == 0.0
        # two lines at 45°, two short flat -> longest half = the 45° pair
        lines = [
            np.array([[0.0, 0.0], [100.0, 100.0]]),
            np.array([[0.0, 0.0], [90.0, 90.0]]),
            np.array([[0.0, 0.0], [1.0, 0.0]]),
            np.array([[0.0, 0.0], [2.0, 0.0]]),
        ]
        assert get_rotation(lines) == pytest.approx(45.0)



    def test_guess_line_heights_mid_baseline(self):
        # baseline centered in a 0..20 polygon -> 10 up, 10 down
        bl = np.array([[0.0, 10.0], [100.0, 10.0]])
        poly = np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 20.0], [0.0, 20.0]])
        up, down = U.guess_line_heights_from_polygon(bl, poly, n=4)
        assert up == pytest.approx(10.0)
        assert down == pytest.approx(10.0)

    def test_guess_line_heights_falls_back_only_on_empty_baseline(self):
        poly = np.array([[0.0, 0.0], [100.0, 0.0], [100.0, 20.0], [0.0, 20.0]])
        # no baseline points to probe: the polygon-extent guess
        empty = np.zeros((0, 2))
        assert U.guess_line_heights_from_polygon(empty, poly) == [16.0, 4.0]
        # a malformed argument is an error, not a missing height
        bl = np.array([[0.0, 10.0], [100.0, 10.0]])
        with pytest.raises(TypeError):
            U.guess_line_heights_from_polygon(bl, poly, n="4")

    def test_guess_height_at_point(self):
        bl = np.array([[0.0, 30.0], [100.0, 30.0]])
        poly = np.array([[0.0, 10.0], [100.0, 10.0], [100.0, 36.0], [0.0, 36.0]])
        h = U.guess_height_at_point(bl, poly, (50.0, 30.0))
        assert h is not None
        assert h[0] == pytest.approx(20.0)
        assert h[1] == pytest.approx(6.0)


class TestReviewRegressions:
    def test_export_omits_null_confidence(self, spark):
        row = {
            "doc_id": 3, "page_id": "p", "page_h": 100, "page_w": 100,
            "region_id": "r1", "region_type": "", "region_order": 0,
            "line_id": "l1", "idx": 0,
            "baseline": [[0.0, 30.0], [50.0, 30.0]],
            "polygon": [[0.0, 20.0], [50.0, 20.0], [50.0, 34.0], [0.0, 34.0]],
            "height_up": 10.0, "height_down": 4.0,
            "transcription": "t", "confidence": None,
        }
        src = spark.createDataFrame([row], schema=pcgts.LINES_DDL)
        (x,) = pcgts.export_pcgts(src).collect()
        assert 'conf="nan"' not in x["xml"] and "conf=" not in x["xml"]
        (back,) = pcgts.import_pcgts(
            spark.createDataFrame([(3, x["xml"])], "doc_id long, xml string")
        ).collect()
        assert back["confidence"] is None


class TestMergeNullConfidence:
    def test_null_confidence_loses_to_real(self, spark):
        from pero_ocr_spark.operators import merge

        a = spark.createDataFrame(
            [(1, "l0", "from-a", None, "engA")],
            "doc_id long, line_id string, transcription string, "
            "confidence double, engine string",
        )
        b = spark.createDataFrame(
            [(1, "l0", "from-b", 0.9, "engB")],
            "doc_id long, line_id string, transcription string, "
            "confidence double, engine string",
        )
        (row,) = merge.merge_ocr_results([a, b]).collect()
        assert row["transcription"] == "from-b" and row["engine"] == "engB"

    def test_all_null_deterministic(self, spark):
        from pero_ocr_spark.operators import merge

        a = spark.createDataFrame(
            [(1, "l0", "ta", None, "engB")],
            "doc_id long, line_id string, transcription string, "
            "confidence double, engine string",
        )
        b = spark.createDataFrame(
            [(1, "l0", "tb", None, "engA")],
            "doc_id long, line_id string, transcription string, "
            "confidence double, engine string",
        )
        (row,) = merge.merge_ocr_results([a, b]).collect()
        assert row["engine"] == "engA"  # name tiebreak still applies


class TestCheckPolygonOnImport:
    """A self-intersecting Coords polygon is repaired at PAGE-XML import
    (§2.7 check_polygon; ref layout_helpers.py:184-191 buffer(0))."""

    BAD_PCGTS = """<?xml version="1.0" encoding="utf-8"?>
<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15">
<Page imageFilename="bad.jpg" imageWidth="800" imageHeight="1200">
<TextRegion id="r1" type="paragraph">
<Coords points="0,0 400,0 400,100 0,100"/>
<TextLine id="r1-l1" custom="heights_v2:[20.0,5.0]">
<Coords points="10,10 200,40 200,10 10,40"/>
<Baseline points="10,35 200,35"/>
<TextEquiv><Unicode>bowtie coords</Unicode></TextEquiv>
</TextLine>
</TextRegion>
</Page>
</PcGts>"""

    def test_bowtie_coords_repaired_round_trip(self, spark):
        from pero_ocr_spark.functions import geometry as G

        df = spark.createDataFrame(
            [(11, self.BAD_PCGTS)], "doc_id long, xml string"
        )
        rows = pcgts.import_pcgts(df).collect()
        assert len(rows) == 1
        poly = np.asarray(rows[0]["polygon"])
        # the raw ring self-intersects; the imported one must not
        raw = U.points_string_to_array("10,10 200,40 200,10 10,40")
        assert G.polygon_self_intersects(raw)
        assert not G.polygon_self_intersects(poly)
        # repair is a pure re-ordering: same vertex multiset
        assert sorted(map(tuple, poly.tolist())) == sorted(
            map(tuple, raw.astype(float).tolist())
        )
        # and the repaired line round-trips export → import unchanged
        out = pcgts.import_pcgts(
            pcgts.export_pcgts(spark.createDataFrame(rows, pcgts.LINES_DDL))
        ).collect()
        assert np.array_equal(np.asarray(out[0]["polygon"]), poly)
