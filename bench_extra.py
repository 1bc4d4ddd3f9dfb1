"""Per-query isolation harness (guide §1.1/§1.4) — NOT the driver bench.

Times individual registered queries through the noop sink with a warm
shared extracted-spans cache (the same steady-state the suite rows in
``bench.py`` run under), reporting min/median over N repeats, and
optionally captures ``.explain("formatted")`` to a file.

Usage:
    python bench_extra.py [-n N] [--plan-dir DIR] [--tag TAG] q1 q2 ...
    python bench_extra.py --top K          # K heaviest from BENCH/last_run.json

Output: one JSON line per query to stdout and an aggregate JSON file
under BENCH/extra_<tag>.json.  bench.py itself is frozen for
measurement; every number cited in OPTIMIZATION_r06.md from this file
is labelled as isolated (not suite-row) timing.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default="before")
    ap.add_argument("--tag", default="run")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--cold", action="store_true",
                    help="drop the shared extracted cache before every repeat")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from pero_ocr_spark import corpus, queries as Q
    from pero_ocr_spark.session import get_spark

    spark = get_spark("pero_ocr_spark_bench_extra", cores=int(cpus))
    reg = Q.queries()

    names = list(args.queries)
    if args.top:
        last = json.load(open(os.path.join(os.path.dirname(__file__),
                                           "BENCH", "last_run.json")))
        ranked = sorted(last["queries"].items(), key=lambda kv: -kv[1])
        names += [k for k, _ in ranked[: args.top]]
    names = [n for i, n in enumerate(names) if n not in names[:i]]
    unknown = [n for n in names if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # session + shared-cache warm-up, not counted
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    corpus.extracted_spans(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def run_once(name: str) -> float:
        if args.cold:
            corpus.drop_extracted_cache()
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t0 = time.perf_counter()
        df = reg[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        return dt

    results = {}
    for name in names:
        times = [run_once(name) for _ in range(max(1, args.n))]
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = reg[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(
                    args.plan_dir, f"{name}_{args.plan_suffix}.txt"), "w") as f:
                f.write(plan)
        rec = {
            "name": name,
            "times": times,
            "min": min(times),
            "median": sorted(times)[len(times) // 2],
        }
        results[name] = rec
        print(json.dumps(rec))

    out = {
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "n": args.n,
        "cold": bool(args.cold),
        "loadavg": open("/proc/loadavg").read().split()[:3],
        "results": results,
    }
    path = os.path.join(os.path.dirname(__file__), "BENCH",
                        f"extra_{args.tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"# wrote {path}")


if __name__ == "__main__":
    main()
