"""Lazy zip-importer invalidation (pero_ocr_spark._pyworker).

Spark's worker calls ``importlib.invalidate_caches()`` once per task;
on CPython < 3.13 that re-read every zip archive's central directory
on sys.path. These tests pin that the engine makes the re-read lazy
(only a changed archive is read again) and that every Python worker
gets it."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd

import pero_ocr_spark._pyworker as pyworker

REPO = Path(__file__).resolve().parents[1]

_CHILD = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport
    from pathlib import Path

    tmp = Path(sys.argv[1])

    def write_zip(path, pkg, mods):
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/sub/__init__.py", "")
            for m in mods:
                z.writestr(f"{pkg}/sub/{m}.py", f"NAME = {m!r}\\n")

    za, zb = tmp / "a.zip", tmp / "b.zip"
    write_zip(za, "pkga", ["m1"])
    write_zip(zb, "pkgb", ["m2"])
    sys.path[:0] = [str(za), str(zb)]
    import pkga.sub.m1, pkgb.sub.m2

    reads = []
    real = zipimport._read_directory
    def counting(archive):
        reads.append(archive)
        return real(archive)
    zipimport._read_directory = counting

    def reads_per_archive(n):
        reads.clear()
        for _ in range(n):
            importlib.invalidate_caches()
        return {Path(a).name: reads.count(a) for a in set(reads)}

    eager = reads_per_archive(10)
    before = zipimport.zipimporter.invalidate_caches
    import pero_ocr_spark._pyworker as pyworker
    pyworker.install()
    first = zipimport.zipimporter.invalidate_caches
    pyworker.install()  # idempotent: a second call changes nothing
    assert zipimport.zipimporter.invalidate_caches is first
    patched = first is not before
    lazy = reads_per_archive(10)

    write_zip(za, "pkga", ["m1", "m3"])
    importlib.invalidate_caches()
    import pkga.sub.m3
    print(repr((eager, patched, lazy, pkga.sub.m3.NAME)))
    """
)


def test_invalidate_reads_each_unchanged_archive_at_most_once(tmp_path):
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    eager, patched, lazy, name = eval(out.strip().splitlines()[-1])
    # the eager baseline: one read per importer (top-level + package) per call
    assert eager["a.zip"] >= 20 and eager["b.zip"] >= 20
    assert name == "m3"  # a rewritten archive is read again
    if sys.version_info < (3, 13):
        assert patched
        assert set(lazy) <= {"a.zip", "b.zip"}
        assert all(n <= 1 for n in lazy.values()), lazy
    else:
        assert not patched


def _make_report():
    # defined inside a factory so it pickles BY VALUE and the worker
    # imports the engine only through the reference below
    ref = pyworker.install

    def _report(batches):
        import os as _os
        import zipimport as _zipimport

        assert ref is not None
        for b in batches:
            yield pd.DataFrame(
                {
                    "pid": [_os.getpid()] * len(b),
                    "mod": [_zipimport.zipimporter.invalidate_caches.__module__]
                    * len(b),
                }
            )

    return _report


def test_every_python_worker_task_runs_lazy_invalidation(spark):
    n = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, n, numPartitions=n).toDF("id")
    rows = (
        df.mapInPandas(_make_report(), "pid long, mod string")
        .groupBy("pid", "mod")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in rows) == n
    want = pyworker.__name__ if sys.version_info < (3, 13) else "zipimport"
    assert {r["mod"] for r in rows} == {want}
