"""R18 Arabic shaping/reordering parity + R9 file-backed n-gram LM.

Arabic fixtures are the reference's own test data
(core/arabic_helper.py:380-430). NOTE: the reference's shipped
implementation does not satisfy its own expectations for fixtures
5, 6, 8-13 (dates, percent signs, parentheses — browser-BiDi-derived
strings the code never produced; verified by executing the reference
class against them). Parity here means matching the reference's
ACTUAL behavior, so those cases assert the executed-reference output,
with the diverging expectation noted inline.
"""

import numpy as np
import pytest

from pero_ocr_spark.functions import arabic, lm

H = arabic.ArabicHelper()

# fixtures 1-4, 7: reference implementation == reference expectation
STRING_1 = "الاستخدام في بصريات المعادن"
LABELS_1 = "نداعملا تايرصب يف مادختسالا"
VISUAL_1 = "ﻥﺩﺎﻌﻤﻟﺍ ﺕﺎﻳﺮﺼﺑ ﻲﻓ ﻡﺍﺪﺨﺘﺳﻻﺍ"

STRING_2 = "الاستخدام XYZ 12.3 QWER في بصريات ASDF JKL المعادن"
LABELS_2 = "نداعملا ASDF JKL تايرصب يف XYZ 12.3 QWER مادختسالا"
VISUAL_2 = "ﻥﺩﺎﻌﻤﻟﺍ ASDF JKL ﺕﺎﻳﺮﺼﺑ ﻲﻓ XYZ 12.3 QWER ﻡﺍﺪﺨﺘﺳﻻﺍ"

STRING_7 = "ليس من الممكن February 31st تعيين معامل الانكسار"
LABELS_7 = "راسكنالا لماعم نييعت February 31st نكمملا نم سيل"
VISUAL_7 = "ﺭﺎﺴﻜﻧﻻﺍ ﻞﻣﺎﻌﻣ ﻦﻴﻴﻌﺗ February 31st ﻦﻜﻤﻤﻟﺍ ﻦﻣ ﺲﻴﻟ"

# fixture 5: reference EXPECTS the two dates to swap around ' - ',
# but its implementation (and ours) keeps the span intact
STRING_5 = "ليس من الممكن 29/2/2021 - 31/2/2021 تعيين معامل الانكسار"
LABELS_5_ACTUAL = "راسكنالا لماعم نييعت 29/2/2021 - 31/2/2021 نكمملا نم سيل"

# fixture 10: reference EXPECTS mirrored parens; implementation (and
# ours) treats '(' / ')' as plain non-Arabic strong chars
STRING_10 = "الاستخدام (10 في بصريات) المعادن"
LABELS_10_ACTUAL = "نداعملا )تايرصب يف (10 مادختسالا"


class TestArabicReorder:
    @pytest.mark.parametrize(
        "s,l", [(STRING_1, LABELS_1), (STRING_2, LABELS_2), (STRING_7, LABELS_7)]
    )
    def test_string_to_label(self, s, l):
        assert H.string_to_label_form(s) == l

    @pytest.mark.parametrize(
        "s,l", [(STRING_1, LABELS_1), (STRING_2, LABELS_2), (STRING_7, LABELS_7)]
    )
    def test_label_to_string(self, s, l):
        assert H.label_form_to_string(l) == s

    def test_actual_reference_behavior_dates(self):
        assert H.string_to_label_form(STRING_5) == LABELS_5_ACTUAL

    def test_actual_reference_behavior_parens(self):
        assert H.string_to_label_form(STRING_10) == LABELS_10_ACTUAL

    def test_reverse_involution(self):
        for s in (STRING_1, STRING_2, STRING_5, STRING_7):
            assert H.label_form_to_string(H.string_to_label_form(s)) == s


class TestArabicShaping:
    @pytest.mark.parametrize(
        "s,v", [(STRING_1, VISUAL_1), (STRING_2, VISUAL_2), (STRING_7, VISUAL_7)]
    )
    def test_string_to_visual(self, s, v):
        assert H.string_to_visual_form(s) == v

    @pytest.mark.parametrize(
        "s,v", [(STRING_1, VISUAL_1), (STRING_2, VISUAL_2), (STRING_7, VISUAL_7)]
    )
    def test_visual_to_string(self, s, v):
        assert H.visual_form_to_string(v) == s

    def test_label_visual_round(self):
        assert H.label_form_to_visual_form(LABELS_1) == VISUAL_1
        assert H.visual_form_to_label_form(VISUAL_1) == LABELS_1

    def test_contextual_forms(self):
        # muhammad: meem INITIAL, hah MEDIAL, meem MEDIAL, dal FINAL
        assert arabic.shape("محمد") == "".join(
            chr(c) for c in (0xFEE3, 0xFEA4, 0xFEE4, 0xFEAA)
        )
        # dar (dal alef reh): dal never joins forward, so every letter
        # stays ISOLATED
        assert arabic.shape("دار") == "".join(
            chr(c) for c in (0xFEA9, 0xFE8D, 0xFEAD)
        )

    def test_lam_alef_ligature(self):
        # standalone lam+alef -> isolated ligature U+FEFB
        assert arabic.shape("لا") == chr(0xFEFB)
        # preceded by a joining letter (beh INITIAL) -> final U+FEFC
        assert arabic.shape("بلا") == chr(0xFE91) + chr(0xFEFC)

    def test_unshape_inverts_shape(self):
        # ligature-free strings: plain unshape inverts shape
        for s in ("محمد", "دار", "معامل"):
            assert arabic.unshape(arabic.shape(s)) == s
        # ligature strings round-trip only through the visual pipeline
        # (BACKWARD expands ligatures in visual order, like the
        # reference's _add_ligatures, arabic_helper.py:194-202)
        for s in ("لا", "بلا", "الاستخدام"):
            assert H.visual_form_to_string(H.string_to_visual_form(s)) == s

    def test_is_arabic(self):
        assert H.is_arabic_word("محمد")
        assert not H.is_arabic_word("latin")
        assert H.is_arabic_line("x محمد y")
        assert not H.is_arabic_line("only latin words")

    def test_ligatures_mapping(self):
        vis = arabic.shape("بلا")  # 2 glyphs, second expands to 2 chars
        m = H.ligatures_mapping(vis)
        assert m == [[0], [1, 2]]


class TestFileNGramLM:
    def test_train_char_bigrams(self, spark):
        docs = spark.createDataFrame(
            [(1, "ababab"), (2, "abba")], ["doc_id", "text"]
        )
        counts = lm.train_char_bigrams(docs)
        assert counts["ab"] == 4 and counts["ba"] == 3 and counts["bb"] == 1

    def test_log_probs_normalized_and_ordered(self):
        charset = list("ab") + ["␀"]
        m = lm.FileNGramLM({"ab": 8, "aa": 2}, charset + ["<BLANK>"])
        # interface parity with NGramLM
        st = m.initial_state()
        st_a = m.advance(st, 0)
        lp = m.log_probs(st_a)
        assert np.isclose(np.exp(lp).sum(), 1.0)
        assert lp[1] > lp[0]  # 'b' after 'a' more likely than 'a'

    def test_nonuniform_lm_flips_near_tie_beam(self):
        # two frames: first certain 'a', second a near-tie b vs c the
        # LM must break — the oracle prediction: trained on "ab", beam
        # picks 'ab'; trained on "ac", beam picks 'ac'.
        from pero_ocr_spark.functions import kernels

        charset = list("abc") + [kernels.BLANK]
        logits = np.log(
            np.array(
                [
                    [0.97, 0.01, 0.01, 0.01],
                    [0.01, 0.49, 0.49, 0.01],
                ]
            )
        )
        for gram, want in (("ab", "ab"), ("ac", "ac")):
            m = lm.FileNGramLM({gram: 50}, charset)
            hyps, _ = kernels.ctc_beam_search(
                logits, charset, beam_size=4, lm=m, lm_scale=1.0
            )
            assert hyps[0][0] == want

    def test_perplexity_prefers_training_text(self):
        m = lm.FileNGramLM({"ab": 90, "ba": 90}, list("abc") + ["␀"])
        assert m.perplexity("ababab") < m.perplexity("cccccc")


class TestArabicSparkOp:
    def test_visual_form_op_shapes_arabic_and_passes_latin(self, spark):
        from pero_ocr_spark.operators import rtl

        df = spark.createDataFrame(
            [(1, "سم"), (2, "plain latin"), (3, "")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["text"]
            for r in rtl.arabic_visual_form(df, "text").collect()
        }
        helper = arabic.ArabicHelper()
        assert out[1] == helper.string_to_visual_form("سم")
        assert out[1] != "سم"  # actually shaped (presentation forms)
        assert out[2] == "plain latin"
        assert out[3] == ""


def test_rtl_sql_oracle_matches_shaping_randomized():
    """The generated DuckDB oracle for rtl_visual_form reproduces
    shape()+reverse() on randomized text, including lam-alef ligature
    and medial-join cases the driver corpus may not reach."""
    import random

    import duckdb
    import pandas as pd

    from pero_ocr_spark.functions.arabic import ArabicHelper
    from pero_ocr_spark.queries import _rtl_oracle_sql

    h = ArabicHelper()
    latin = "abcdefghijklmnopqrstuvwxyz"
    ar = "ابتثجحخدذرزسشصضطظعغفقكلمنه"
    tr = str.maketrans(latin, ar)
    random.seed(7)
    texts = ["wa wall away w a wawa lwa", "window was slow"] + [
        " ".join(
            "".join(random.choice(latin) for _ in range(random.randint(1, 8)))
            for _ in range(random.randint(1, 10))
        )
        for _ in range(100)
    ]
    rows = pd.DataFrame(enumerate(texts), columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", rows)
    got = con.execute(_rtl_oracle_sql()).fetchdf().set_index("doc_id")["text"]
    for i, t in enumerate(texts):
        assert got[i] == h.string_to_visual_form(t.lower().translate(tr)), t
