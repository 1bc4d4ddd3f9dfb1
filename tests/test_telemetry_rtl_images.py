"""Binary image scan and line-crop sink.
(Arabic visual form is tested in test_arabic_lm.py.)"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from pero_ocr_spark.operators import layout, linedet
from pero_ocr_spark.sources import images


def test_binary_scan_and_crop_sink(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        # S1: folder of binary payloads
        for i in range(5):
            with open(os.path.join(d, f"doc-{i}.bin"), "wb") as f:
                f.write(b"IMG" + bytes([i]) * 10)
        scanned = images.scan_image_folder(spark, d)
        rows = {r["file_id"]: r for r in scanned.collect()}
        assert set(rows) == {f"doc-{i}" for i in range(5)}
        assert all(r["n_bytes"] == 13 for r in rows.values())
        assert bytes(rows["doc-3"]["payload"])[:3] == b"IMG"

        # S8: crop sink round trip
        lines = layout.lines_table(spark, sf_dir).filter(F.col("doc_id") < 10)
        crops = linedet.render_crop_lines(lines)
        out = os.path.join(d, "crops")
        images.write_line_crops(crops, out, n_buckets=4)
        back = images.read_line_crops(spark, out)
        assert back.count() == crops.count()
        joined = back.join(
            crops.select("doc_id", "line_id", F.col("crop").alias("orig")),
            ["doc_id", "line_id"],
        )
        assert joined.filter(F.col("crop") != F.col("orig")).count() == 0
        assert back.select("bucket").distinct().count() <= 4
