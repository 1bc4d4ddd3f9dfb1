"""spark-submit packaging."""

from __future__ import annotations

import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path


def test_submit_zip_builds_and_imports():
    with tempfile.TemporaryDirectory() as d:
        out = Path(d) / "pero_ocr_spark.zip"
        subprocess.run(
            [sys.executable, "make_submit_zip.py", str(out)],
            check=True,
            cwd="/root/repo",
            capture_output=True,
        )
        with zipfile.ZipFile(out) as z:
            names = z.namelist()
        assert "pero_ocr_spark/__init__.py" in names
        assert any("operators/extract.py" in n for n in names)
        # the zip is importable standalone (sys.path zip import)
        code = (
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "import pero_ocr_spark.functions.kernels as k; "
            "print(k.greedy_decode.__name__)"
        )
        r = subprocess.run(
            [sys.executable, "-c", code, str(out)],
            capture_output=True,
            text=True,
            check=True,
        )
        assert "greedy_decode" in r.stdout
