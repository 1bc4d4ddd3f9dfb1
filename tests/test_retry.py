"""Task retries recompute the ocr kernels' Arrow stages exactly.

``local[4,3]`` is the only local master that retries a failed task
(up to 3 attempts), and the master is fixed when the JVM starts, so
the check runs in a child process with a session of its own. Each
kernel stage's output gets an identity ``mapInPandas`` that raises on
every task's first attempt. It is narrow, so it fails the task that
ran the kernel, and the retry runs the kernel again; the retried
output must equal the fault-free run."""

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_CHILD = textwrap.dedent(
    """
    import json, sys
    from pathlib import Path

    from pyspark import TaskContext

    from pero_ocr_spark import corpus
    from pero_ocr_spark.operators import ctc, layout, linedet
    from pero_ocr_spark.session import get_spark

    sf_dir, marks = sys.argv[1], Path(sys.argv[2])
    spark = get_spark(
        cores=4, shuffle_partitions=4, extra_conf={"spark.master": "local[4,3]"}
    )

    def fail_first_attempt(stage):
        def run(batches):
            ctx = TaskContext.get()
            if ctx.attemptNumber() == 0:
                (marks / f"{stage}-{ctx.partitionId()}").touch()
                raise RuntimeError(f"injected fault in {stage}")
            yield from batches
        return run

    lines = layout.lines_table(spark, sf_dir)
    texts = corpus.extracted_spans(spark, sf_dir).filter(
        "kind = 'text' AND ord < 60"
    ).selectExpr("doc_id", "concat('l', ord) AS line_id", "text")
    stages = {
        "merge_lines_stage": lambda: layout.merge_lines_stage(lines),
        "render_detect_lines": lambda: linedet.render_detect_lines(
            lines.filter("ord < 60"), downsample=2
        ),
        "recognize_lines": lambda: ctc.recognize_lines(texts),
    }
    out = {}
    for name, build in stages.items():
        clean = build()
        faulted = build()
        faulted = faulted.mapInPandas(fail_first_attempt(name), faulted.schema)
        out[name] = {
            "master": spark.sparkContext.master,
            "rows": clean.count(),
            "extra": faulted.exceptAll(clean).count(),
            "missing": clean.exceptAll(faulted).count(),
            "faults": len(list(marks.glob(name + "-*"))),
        }
    spark.stop()
    print(json.dumps(out))
    """
)


def test_retried_kernel_stages_equal_the_fault_free_run(tmp_path, sf_dir):
    env = dict(os.environ, PYTHONPATH=str(REPO), SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"merge_lines_stage", "render_detect_lines", "recognize_lines"}
    for stage, r in result.items():
        assert r["master"] == "local[4,3]", stage
        assert r["rows"] > 0 and r["faults"] > 0, (stage, r)
        assert r["extra"] == 0 and r["missing"] == 0, (stage, r)
