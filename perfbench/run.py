"""Seeded pages/s benchmark of pero_ocr_spark, one workload per process.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its input from the
seed, sets up cold — a new JVM and session (``session.get_spark`` with
the program's own settings) plus the first operation — runs untimed
warm-up operations, and drives a closed loop — one client, the next
operation issued only when the previous one finished — for
``--seconds``. Every warm-up operation's output is compared with its
DuckDB oracle; the timed ones are not, so the figures leave out the
check's cost. The last stdout line is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; the full record (every sample, the
input's hash, ``/proc/loadavg``, the core count) goes to
``.perfbench_work/results/``.

``--trace 0`` reports the end-to-end metrics (``setup_s``,
``pages_per_cpu_s``, ``peak_rss_mb``); the record also holds the
wall-clock ``pages_per_s`` and the share of CPU time the hypervisor
stole during the loop, which moves it. ``--trace 1`` interleaves traced
and untraced operations, then times each layer on its own; it reports
the per-layer metrics named in BENCHMARK.json, and its record holds the
tracing overhead. ``--corrupt`` duplicates one row of every output, to
show that the oracle check fails.

Everything the run writes stays under ``.perfbench_work/`` of the
checkout, and every process it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
# untimed operations between the set-up and the loop: an ocr operation's
# CPU time falls by a third over its first five in a session
WARMUP_OPS = 4
HARD_LIMIT_S = 175


def _isolate() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark starts import the program."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # jobs/extract_job.py reconfigures an existing session when this is
    # set; the benchmark sizes its session itself
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path[:0] = [str(ROOT), str(ROOT / "jobs")]


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes() -> int:
    """Resident memory of this process and its descendants, with pages
    shared between processes (forked Python workers) counted once: the
    sum of each process's proportional set size."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
    return total


def tree_cpu_s() -> float:
    """CPU seconds used by this process tree so far: each live process's
    own time plus that of the children it has reaped, so a Python worker
    that exits still counts."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def unused_heap_bytes(jvm) -> int:
    """The part of the JVM's committed heap that holds no data which
    outlived a young collection: committed minus the old generation and
    survivor pools in use (eden is garbage or short-lived by design)."""
    mf = jvm.java.lang.management.ManagementFactory
    kept = sum(
        pool.getUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory" and "Eden" not in pool.getName()
    )
    return mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() - kept


class PeakRss(threading.Thread):
    """Samples the resident memory of this process tree once the
    session's JVM is set. ``peak`` leaves out the JVM's unused heap,
    whose size follows when G1 chose to grow the heap (it moved the
    tree's resident size by ~30% between runs); ``peak_pss`` keeps it."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.jvm = None
        self.peak = 0
        self.peak_pss = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            if self.jvm is None:
                continue
            pss = tree_rss_bytes()
            self.peak_pss = max(self.peak_pss, pss)
            self.peak = max(self.peak, pss - unused_heap_bytes(self.jvm))

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------ the run


def _session(cores: int):
    """The program's own session (``session.get_spark``), with only the
    console progress bar off and its files kept in the work directory."""
    from pero_ocr_spark.session import get_spark

    spark = get_spark(
        "pero_ocr_spark_perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true "
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Outcome:
    """Operations attempted and failed, and the failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def add(self, failures: list[str]) -> None:
        self.attempted += 1
        self.failed += int(bool(failures))
        self.failures += failures


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def _cpu_ticks() -> list[int]:
    """The machine's CPU time so far, per /proc/stat field."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time stolen by the hypervisor between
    two ``_cpu_ticks`` readings (field 8 of /proc/stat)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _per_layer_metrics() -> list[dict]:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)["per_layer"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    started = time.perf_counter()
    faulthandler.dump_traceback_later(HARD_LIMIT_S, exit=True)

    _isolate()
    import pero_ocr_spark  # noqa: F401 - fails outside a checkout of the program

    from perfbench import gen, trace
    from perfbench.workloads import WORKLOADS, Runner

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    data_dir = WORK / "data" / f"{w.name}-seed{args.seed}"
    data = gen.write_documents(args.seed, w.rows, str(data_dir))
    record: dict = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "input": data,
        "nproc": cores,
        "load_shape": f"closed loop, 1 client, local[{cores}]",
        "loadavg_start": _loadavg(),
    }

    phases = {"input_s": time.perf_counter() - started}
    rss = PeakRss()
    rss.start()
    runner = Runner(w, str(data_dir), str(WORK), corrupt=args.corrupt)
    outcome = Outcome()
    # trace 1 interleaves traced and untraced operations, so the tracing
    # overhead is measured under the same load
    modes = ("traced", "untraced") if args.trace else ("untraced",)
    walls: dict[str, list[float]] = {m: [] for m in modes}
    cpus: dict[str, list[float]] = {m: [] for m in modes}
    try:
        # the set-up a user pays before the first result: a new JVM and
        # session, then the first operation
        t0 = time.perf_counter()
        runner.spark = _session(cores)
        start_s = time.perf_counter() - t0
        rss.jvm = runner.spark._jvm
        _, f = runner.op(checked=False)
        setup_s = time.perf_counter() - t0
        outcome.add(f)
        t0 = time.perf_counter()
        runner.compute_oracles()
        phases["oracles_s"] = time.perf_counter() - t0

        # untimed and checked; the loop then starts on compiled hot code
        t0 = time.perf_counter()
        for _ in range(WARMUP_OPS):
            outcome.add(runner.op()[1])
        phases["warmup_s"] = time.perf_counter() - t0

        store = trace.StatusStore(runner.spark) if args.trace else None
        counters = []
        ticks = _cpu_ticks()
        deadline = time.perf_counter() + args.seconds * (2 if args.trace else 1)
        i = 0
        while time.perf_counter() < deadline:
            mode = modes[i % len(modes)]
            i += 1
            mark = store.mark() if mode == "traced" else None
            cpu0 = tree_cpu_s()
            wall, f = runner.op(checked=False)
            cpu = tree_cpu_s() - cpu0
            if mark is not None:
                counters.append(store.since(mark))
            outcome.add(f)
            if not f:
                walls[mode].append(wall)
                cpus[mode].append(cpu)
        record["loop_steal_share"] = _steal_share(ticks, _cpu_ticks())

        if args.trace:
            layers, f = trace.layer_metrics(runner, store)
            if w.name == "extract":  # the checked batch-job run
                outcome.add(f)
        # memory while the program works; session shutdown is not counted
        peak = rss.stop()
    finally:
        rss.stop()
        t0 = time.perf_counter()
        if runner.spark is not None:
            stop_spark(runner.spark)
        phases["shutdown_s"] = time.perf_counter() - t0

    med = {m: statistics.median(v) if v else float("nan") for m, v in walls.items()}
    rate = {m: w.rows / med[m] if walls[m] else 0.0 for m in modes}
    cpu_rate = {m: w.rows / statistics.median(v) if v else 0.0 for m, v in cpus.items()}
    main_mode = modes[0]
    record.update(
        loadavg_end=_loadavg(),
        attempted=outcome.attempted,
        failed=outcome.failed,
        failed_ratio=outcome.failed / outcome.attempted,
        failures=outcome.failures[:5],
        peak_tree_pss_mb=rss.peak_pss / 2**20,
        samples=len(walls[main_mode]),
        op_wall_s=walls,
        op_wall_median_s=med[main_mode],
        pages_per_s=rate,
        op_cpu_s=cpus,
        pages_per_cpu_s=cpu_rate,
        setup_s=setup_s,
        session_start_s=start_s,
        phases_s=dict(phases, total_s=time.perf_counter() - started),
    )
    if args.trace:
        values = {"session.start_s": start_s}
        for name in trace.SPARK_COUNTERS:
            vals = [c[name] for c in counters]
            values[f"spark.{name}"] = statistics.median(vals) if vals else 0.0
        values.update(layers)
        metrics = {
            m["name"]: (float(values.get(m["name"], 0.0)), m["unit"])
            for m in _per_layer_metrics()
        }
        self_s = sum(layers[f"{layer}.exec_s"] for layer in trace.OP_LAYERS[w.name])
        record.update(
            tracing_overhead_pages_per_s=rate["traced"] - rate["untraced"],
            tracing_overhead_pages_per_cpu_s=cpu_rate["traced"] - cpu_rate["untraced"],
            per_op_counters=counters,
            layer_self_s_sum=self_s,
            layer_self_vs_op_wall=self_s / med["untraced"] if walls["untraced"] else None,
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pages_per_cpu_s": (cpu_rate["untraced"], "pages/cpu-s"),
            "peak_rss_mb": (peak / 2**20, "MB"),
        }
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["metrics"] = result["metrics"]
    out = WORK / "results" / f"{w.name}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str))
    for msg in outcome.failures[:5]:
        print(msg, file=sys.stderr)
    print(
        f"{w.name} seed={args.seed}: {len(walls[main_mode])} samples, median op "
        f"{med[main_mode]:.3f} s, setup {setup_s:.2f} s, "
        f"load {record['loadavg_end']}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
