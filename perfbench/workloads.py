"""The benchmark's workloads: what one operation runs and how it is checked.

An operation is one closed-loop request: build the workload's queries
from the public registry (``pero_ocr_spark.queries``) and drive each
result through the ``noop`` sink. A checked operation also compares
every output with its DuckDB oracle through a fingerprint that rides
the action (``check.py``); the timed operations are not checked, since
the fingerprint cost ~10% of an extract operation's CPU time.

The sink operation (``jobs/extract_job.py``: sharded parquet write,
then a full-resume rerun) runs the same extract layer behind a write
path; the traced run of ``extract`` times and checks it.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from perfbench import check


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int  # generated documents, i.e. pages per operation
    queries: tuple[str, ...]  # registry names run by one operation


# An ocr operation is 10 Spark jobs whose fixed cost (Python workers,
# scheduling) is most of its wall time at any size a run can afford. On
# a 4-vCPU box: wall ~3.9 s + ~4 ms/doc, task time ~7.5 s + ~15 ms/doc,
# so the per-document (kernel) share of task time is ~28% at 200 docs
# and ~49% at sf0.01 (500 docs). But an operation takes ~5 s at 200 docs
# and ~6.5 s at 500, and the 10 s loop needs more than two samples.
OCR_ROWS = 200

WORKLOADS = {
    w.name: w
    for w in (
        # flagship: uncached spans_table -> extract_spans, one shuffle, no Python
        Workload("extract", 5000, ("extract_spans",)),
        # Python Arrow kernels (linedet, ctc, layout) over the cached spans
        Workload(
            "ocr",
            OCR_ROWS,
            ("ocr_pipeline_e2e", "layout_merge_lines", "layout_assign_lines"),
        ),
    )
}

SINK_SHARDS = 64


def _corrupted(df: DataFrame) -> DataFrame:
    # one duplicated row: the smallest change an order-insensitive
    # comparison must still catch
    return df.union(df.limit(1))


class Runner:
    """One workload bound to a session and a generated input."""

    def __init__(
        self, workload: Workload, data_dir: str, work_dir: str, corrupt: bool = False
    ) -> None:
        self.w = workload
        self.spark: SparkSession | None = None  # set by each set-up
        self.data_dir = data_dir
        self.documents = os.path.join(data_dir, "documents.parquet")
        self.sink_dir = os.path.join(work_dir, f"sink-{os.getpid()}")
        self.corrupt = corrupt
        self.expected: dict[str, tuple] = {}

    def compute_oracles(self) -> None:
        """Fingerprint every oracle; checked operations need them."""
        from pero_ocr_spark import queries as Q

        sql = Q.oracle_sql()
        for name in self.w.queries:
            out = os.path.join(self.data_dir, f"oracle-{name}.parquet")
            self.expected[name] = check.oracle(self.spark, self.documents, sql[name], out)

    def _verify(self, outputs: list[tuple]) -> list[str]:
        """Compare ``(query name, frame, observation or None)`` outputs
        with their oracles."""
        failures = []
        for name, df, obs in outputs:
            got = check.of_frame(df) if obs is None else check.from_observation(df, obs)
            if got != self.expected[name]:
                failures.append(f"{name}: {got} != oracle {self.expected[name]}")
        return failures

    def op(self, checked: bool = True) -> tuple[float, list[str]]:
        """Run one operation; return its wall time and its failures.

        Any exception counts as a failure of the operation (the loop
        must keep running), as does, when ``checked``, any output that
        differs from its oracle.
        """
        from pero_ocr_spark import queries as Q

        try:
            registry = Q.queries()
            outputs = []
            t0 = time.perf_counter()
            for name in self.w.queries:
                df = registry[name](self.spark, self.data_dir)
                if self.corrupt:
                    df = _corrupted(df)
                out, obs = check.observed(df) if checked else (df, None)
                out.write.format("noop").mode("overwrite").save()
                outputs.append((name, df, obs))
            wall = time.perf_counter() - t0
            failures = []
            if self.w.name == "extract":
                # the flagship must run the full pipeline, never a cached copy
                for name, df, _ in outputs:
                    plan = df._jdf.queryExecution().withCachedData().toString()
                    if "InMemoryRelation" in plan:
                        failures.append(f"{name}: plan reads a cached relation")
            if checked:
                failures += self._verify(outputs)
            return wall, failures
        except Exception:  # noqa: BLE001 - reported, counted as failed
            return 0.0, [traceback.format_exc()]

    def _run_job(self) -> dict:
        """One ``extract_job`` run into the sink directory; its JSON line."""
        import extract_job

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = extract_job.main(
                [
                    "--pipeline", "extract",
                    "--input", self.documents,
                    "--output", self.sink_dir,
                    "--shards", str(SINK_SHARDS),
                ]
            )
        if rc != 0:
            raise RuntimeError(f"extract_job exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def _listing(self) -> dict[str, int]:
        files = {}
        for d, _, names in os.walk(self.sink_dir):
            for n in names:
                p = os.path.join(d, n)
                files[os.path.relpath(p, self.sink_dir)] = os.path.getsize(p)
        return files

    def sink_op(self) -> tuple[dict, list[str]]:
        """Write the extracted spans with the batch job, rerun it as a
        full resume, and check both: the read-back table equals the
        extract oracle and the resume writes nothing. Returns the
        timings and the written files, and the failures."""
        shutil.rmtree(self.sink_dir, ignore_errors=True)
        try:
            t0 = time.perf_counter()
            self._run_job()
            t1 = time.perf_counter()
            files = self._listing()
            t2 = time.perf_counter()
            resume = self._run_job()
            t3 = time.perf_counter()
            failures = []
            if resume["resumed_shards_skipped"] != SINK_SHARDS or resume["n_spans"]:
                failures.append(f"resume wrote data: {resume}")
            if self._listing() != files:
                failures.append("resume changed the output directory")
            back = self.spark.read.parquet(self.sink_dir).select(
                "doc_id", "kind", "text", "media_ref", "ord"
            )
            if self.corrupt:
                back = _corrupted(back)
            failures += self._verify([("extract_spans", back, None)])
            return {"write_s": t1 - t0, "resume_s": t3 - t2, "files": files}, failures
        except Exception:  # noqa: BLE001 - reported, counted as failed
            return {}, [traceback.format_exc()]
        finally:
            shutil.rmtree(self.sink_dir, ignore_errors=True)
