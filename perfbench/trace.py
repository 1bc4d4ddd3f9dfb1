"""Traced run: Spark's own counters per operation and timed layer calls.

The UI is disabled (``session.py``), so the counters come from the
status stores over py4j: the core store for jobs, stages and tasks, and
the SQL store for per-plan-node metrics such as the bytes that crossed
the Python boundary. Both are fed by the listener bus, which is drained
before each read.

A layer probe materializes its input outside the timed window, then
times one call into a module's public function plus the ``noop`` action
that drives it. The probe's span covers that call only, so its time is
the layer's self time.
"""

from __future__ import annotations

import os
import re
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# per-operation counters, reported for every workload
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "single_task_stages",
    "shuffle_bytes", "spill_bytes", "gc_s", "py_bytes",
)

# the layers one operation of each workload runs, in order; their
# self times add up to (about) the operation's wall time
OP_LAYERS = {
    "extract": ("corpus.spans_table", "extract.extract_spans"),
    "ocr": (
        "layout.lines_table", "linedet.render_detect_lines", "ctc.recognize_lines",
        "layout.merge_lines_stage", "layout.assign_lines_to_regions",
    ),
}

_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"^([0-9.]+) (B|KiB|MiB|GiB|TiB)\b")


def _size_total(formatted: str | None) -> float:
    """Bytes from a size metric's formatted total ("1.5 MiB (...)")."""
    if not formatted:
        return 0.0
    m = _SIZE.match(formatted.splitlines()[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class StatusStore:
    """Counters of everything Spark ran between ``mark()`` and ``since()``."""

    def __init__(self, spark: SparkSession) -> None:
        self.jvm = spark._jvm
        self.gateway = spark.sparkContext._gateway
        self.sc = spark.sparkContext._jsc.sc()
        self.core = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _seq(self, seq) -> list:
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self) -> list:
        no_quantiles = self.gateway.new_array(self.jvm.double, 0)
        return self._seq(self.core.stageList(None, False, False, no_quantiles, None))

    def mark(self) -> tuple[int, int, int]:
        self._drain()
        jobs = [j.jobId() for j in self._seq(self.core.jobsList(None))]
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in self._seq(self.sql.executionsList())]
        return max(jobs, default=-1), max(stages, default=-1), max(execs, default=-1)

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        self._drain()
        job0, stage0, exec0 = mark
        jobs = [j for j in self._seq(self.core.jobsList(None)) if j.jobId() > job0]
        stages = [
            s for s in self._stages()
            if s.stageId() > stage0 and str(s.status()) == "COMPLETE"
        ]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "task_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "single_task_stages": sum(
                1 for s in stages
                if s.numTasks() == 1 and s.executorRunTime() >= 100
            ),
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ),
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "py_bytes": 0.0,
            "skew": 1.0,
        }
        for e in self._seq(self.sql.executionsList()):
            if e.executionId() <= exec0:
                continue
            values = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                self.sql.executionMetrics(e.executionId())
            )
            seen = set()
            for m in self._seq(e.metrics()):
                acc = m.accumulatorId()
                if m.name() in _PY_METRICS and acc not in seen:
                    seen.add(acc)
                    out["py_bytes"] += _size_total(values.get(acc))
        if stages:
            # task skew of the busiest stage: slowest task / median task
            busiest = max(stages, key=lambda s: s.executorRunTime())
            runs = [
                t.taskMetrics().get().executorRunTime()
                for t in self._seq(
                    self.core.taskList(busiest.stageId(), busiest.attemptId(), 100_000)
                )
                if t.taskMetrics().isDefined()
            ]
            med = statistics.median(runs) if runs else 0
            out["skew"] = max(runs) / med if med else 1.0
        return out


def _materialized(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _timed(store: StatusStore, build, reps: int = 3) -> dict[str, float]:
    """Median over ``reps`` of: build the frame, drive it to ``noop``.

    ``build_s`` is the call into the layer; ``exec_s`` is the whole
    span (call + action); the Spark counters are those of the median
    repetition.
    """
    runs = []
    for _ in range(reps):
        mark = store.mark()
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        runs.append(dict(store.since(mark), build_s=t1 - t0, exec_s=t2 - t0))
    runs.sort(key=lambda r: r["exec_s"])
    return runs[len(runs) // 2]


def _extract_layers(spark, data_dir, store) -> dict[str, float]:
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import extract

    spans = _timed(store, lambda: corpus.spans_table(spark, data_dir))
    nested = _materialized(corpus.spans_table(spark, data_dir))
    ext = _timed(store, lambda: extract.extract_spans(nested))
    return {
        "corpus.spans_table.exec_s": spans["exec_s"],
        "corpus.spans_table.shuffle_bytes": spans["shuffle_bytes"],
        "extract.extract_spans.exec_s": ext["exec_s"],
        "extract.extract_spans.task_s": ext["task_s"],
        "extract.extract_spans.skew": ext["skew"],
    }


def _ocr_layers(spark, data_dir, store) -> dict[str, float]:
    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import ctc, layout, linedet

    out = {
        "layout.lines_table.exec_s":
            _timed(store, lambda: layout.lines_table(spark, data_dir))["exec_s"]
    }
    lines = _materialized(layout.lines_table(spark, data_dir))
    regions = _materialized(layout.regions_table(spark, data_dir))
    # the recognizer's input in ocr_pipeline_e2e: the text lines a
    # detected baseline addresses (ord < 60), keyed by line id
    rec_in = _materialized(
        corpus.extracted_spans(spark, data_dir)
        .filter((F.col("kind") == "text") & (F.col("ord") < 60))
        .select("doc_id", F.concat(F.lit("l"), F.col("ord")).alias("line_id"), "text")
    )
    first60 = _materialized(lines.filter(F.col("ord") < 60))
    det = _timed(store, lambda: linedet.render_detect_lines(first60, downsample=2))
    rec = _timed(store, lambda: ctc.recognize_lines(rec_in))
    merge = _timed(store, lambda: layout.merge_lines_stage(lines))
    assign = _timed(store, lambda: layout.assign_lines_to_regions(lines, regions))
    for name, r in (("linedet.render_detect_lines", det), ("ctc.recognize_lines", rec)):
        out.update({f"{name}.{k}": r[k] for k in ("exec_s", "task_s", "py_bytes")})
    out["layout.merge_lines_stage.exec_s"] = merge["exec_s"]
    out["layout.merge_lines_stage.py_bytes"] = merge["py_bytes"]
    out["layout.assign_lines_to_regions.build_s"] = assign["build_s"]
    out["layout.assign_lines_to_regions.exec_s"] = assign["exec_s"]
    return out


def _textstats_layers(spark, data_dir, store) -> dict[str, float]:
    from pero_ocr_spark.operators import textstats

    docs = _materialized(spark.read.parquet(f"{data_dir}/documents.parquet"))
    texts = _materialized(docs.select("doc_id", "text"))
    calls = {
        "lm_perplexity_scores":
            lambda: textstats.lm_perplexity_scores(docs, keep_threshold=-1.72),
        "quality_classifier_scores":
            lambda: textstats.quality_classifier_scores(docs, threshold=0.5),
        "chunk_documents":
            lambda: textstats.chunk_documents(texts, max_tokens=64, overlap=8),
    }
    return {
        f"textstats.{name}.exec_s": _timed(store, fn)["exec_s"]
        for name, fn in calls.items()
    }


def _sink_layers(runner) -> tuple[dict[str, float], list[str]]:
    """The batch job's write and full-resume halves, timed and checked."""
    job, failures = runner.sink_op()
    if not job:
        return {}, failures
    parquet = {p: n for p, n in job["files"].items() if p.endswith(".parquet")}
    return {
        "extract_job.write_s": job["write_s"],
        "extract_job.resume_s": job["resume_s"],
        "extract_job.files_written": len(parquet),
        "extract_job.bytes_written_per_input_byte":
            sum(parquet.values()) / os.path.getsize(runner.documents),
    }, failures


def layer_metrics(runner, store: StatusStore) -> tuple[dict[str, float], list[str]]:
    """The metrics of the layers this workload runs, and the failures of
    the checked batch-job run.

    The extract workload also runs the batch job, which shares its
    extract layer, and the text-statistics layers of the curation
    pipeline over its documents.
    """
    spark, data_dir = runner.spark, runner.data_dir
    if runner.w.name == "ocr":
        return _ocr_layers(spark, data_dir, store), []
    got = _extract_layers(spark, data_dir, store)
    sink, failures = _sink_layers(runner)
    got.update(sink)
    got.update(_textstats_layers(spark, data_dir, store))
    return got, failures
