"""R1 line-crop rectification: warp kernel + Spark crop stage."""

import numpy as np
import pytest

from pero_ocr_spark.functions import cropper


def _page_with_band(y=50, x0=10, x1=200, h=120, w=260):
    img = np.full((h, w), 255, dtype=np.uint8)
    img[y - 10 : y + 1, x0:x1] = 0
    return img


class TestCropKernel:
    def test_horizontal_identity_rows(self):
        # target_height == up + down + 1 makes the vertical sample step
        # exactly 1 px: the crop equals the source rows y-up..y+down
        img = _page_with_band()
        baseline = np.array([[10.0, 50.0], [200.0, 50.0]])
        grid = cropper.get_crop_inputs(baseline, (12.0, 3.0), 16)
        crop = cropper.bilinear_remap(img, grid)
        assert crop.shape[0] == 16
        # rows 0..1 above ink (y-12, y-11) are background
        assert (crop[0] == 255).all() and (crop[1] == 255).all()
        # rows 2..12 are the ink band (y-10..y), row 13+ background
        assert (crop[3, 5:-5] == 0).all()
        assert (crop[12, 5:-5] == 0).all()
        assert (crop[14] == 255).all()

    def test_crop_width_formula(self):
        img = _page_with_band()
        baseline = np.array([[10.0, 50.0], [200.0, 50.0]])
        crop = cropper.crop_line(img, baseline, (10.0, 4.0), 32)
        assert crop.shape == (32, int((200 - 10 - 1) * (32.0 / 14.0)))

    def test_tilted_baseline_straightens(self):
        # a 30-degree tilted ink band: the rectified crop's ink must be
        # a horizontal band (each crop row uniformly ink or not)
        h, w = 300, 300
        img = np.full((h, w), 255, dtype=np.uint8)
        x = np.arange(40, 260)
        y = (100 + 0.5 * (x - 40)).astype(int)
        for dy in range(-8, 1):
            img[y + dy, x] = 0
        baseline = np.array([[40.0, 100.0], [259.0, 209.5]])
        crop = cropper.crop_line(img, baseline, (8.0, 4.0), 24)
        inner = crop[:, 12:-12]
        row_ink = (inner < 128).mean(axis=1)
        # rows are fully ink or fully background except the two band
        # boundaries (the source band is a rasterized staircase, so
        # bilinear sampling legitimately mixes there) — the band is
        # horizontal after rectification
        partial = (row_ink >= 0.1) & (row_ink <= 0.9)
        assert partial.sum() <= 2
        assert (row_ink > 0.9).sum() >= 10  # the band survived

    def test_degenerate_short_baseline(self):
        img = _page_with_band()
        baseline = np.array([[10.0, 50.0], [12.0, 50.0]])
        crop = cropper.crop_line(img, baseline, (10.0, 4.0), 32)
        assert crop.shape[0] == 32 and crop.shape[1] >= 1


class TestSparkCrops:
    def test_crop_stage(self, spark):
        from pero_ocr_spark.operators import linedet

        rows = [
            (1, "l0", 10.0, 200.0, 20.0, 10.0, 4.0),
            (1, "l1", 10.0, 150.0, 50.0, 10.0, 4.0),
        ]
        lines = spark.createDataFrame(
            rows,
            "doc_id long, line_id string, x0 double, x1 double, y double, "
            "asc double, desc double",
        )
        out = {r["line_id"]: r for r in linedet.render_crop_lines(lines).collect()}
        assert set(out) == {"l0", "l1"}
        r = out["l0"]
        assert r["crop_h"] == 32
        assert r["crop_w"] == int((200 - 10 - 1) * (32.0 / 14.0))
        # the ink band occupies ~11 of 14 source rows -> a fat fraction
        assert 0.4 < r["ink_frac"] < 0.95
        crop = np.frombuffer(r["crop"], dtype=np.uint8).reshape(32, r["crop_w"])
        # asc=10 starts the crop AT the ink top (band y-10..y): the
        # first row is ink, the last (y+4, below descenders) is not
        assert (crop[0, 5:-5] == 0).all()
        assert (crop[-1] == 255).all()


class TestDegenerateBaseline:
    def test_repeated_point_returns_blank_strip(self):
        img = _page_with_band()
        crop = cropper.crop_line(
            img, np.array([[10.0, 20.0], [10.0, 20.0]]), (10.0, 4.0), 32
        )
        assert crop.shape == (32, 32)
        assert (crop == 0).all()


class TestStraightFastPathEquivalence:
    """r6 guard: the closed-form grid for straight 2-point dyadic
    baselines must stay BIT-identical to the general rectification
    pipeline it bypasses (kept as cropper._crop_grid_general)."""

    def test_fast_path_matches_general_bitwise(self):
        import random

        random.seed(97)
        heights_pool = [(10.0, 4.0), (3.5, 3.5), (7.0, 2.0)]
        for _ in range(400):
            x0 = random.randrange(0, 4000) / 2.0     # half-integer grain
            span = random.randrange(4, 1600) / 2.0
            y = random.randrange(0, 3000) / 2.0
            heights = random.choice(heights_pool)
            th = random.choice([32, 17])
            bl = np.array([[x0, y], [x0 + span, y]])
            fast = cropper.get_crop_inputs(bl, heights, th)
            gen = cropper._crop_grid_general(
                np.asarray(bl).copy().astype(float), heights, th
            )
            assert fast.shape == gen.shape
            assert np.array_equal(fast, gen), (x0, span, y, heights, th)

    def test_non_dyadic_and_tilted_take_general_path(self):
        # fractional tenths (left + j not exact) must NOT use the fast
        # path; equality with the general pipeline is trivially true
        # because get_crop_inputs falls through to it
        bl = np.array([[10.3, 50.0], [200.3, 50.0]])
        out = cropper.get_crop_inputs(bl, (10.0, 4.0), 32)
        gen = cropper._crop_grid_general(
            np.asarray(bl).copy().astype(float), (10.0, 4.0), 32
        )
        assert np.array_equal(out, gen)
        tilted = np.array([[10.0, 50.0], [200.0, 80.0]])
        out_t = cropper.get_crop_inputs(tilted, (10.0, 4.0), 32)
        gen_t = cropper._crop_grid_general(
            np.asarray(tilted).copy().astype(float), (10.0, 4.0), 32
        )
        assert np.array_equal(out_t, gen_t)
