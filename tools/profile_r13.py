"""Round-12 optimization profiler: isolated per-query timing + plan
capture (guide §1).

For each named query: run the full plan through the ``noop`` sink
(same methodology as bench.py), report reps, and dump
``.explain('formatted')`` to plans/r13/<query>_<tag>.txt so plan-shape
claims in OPTIMIZATION_r13.md are verifiable without running Spark.

Usage:
    python tools/profile_r13.py [--tag before] [--reps 3] q1 q2 ...
    python tools/profile_r13.py --tag before --top 30   # slowest from tools/bench_last.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_msk_demo_spark import queries as _q  # noqa: E402
from kafka_connect_msk_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
HERE = os.path.dirname(os.path.abspath(__file__))
PLANS = os.path.join(os.path.dirname(HERE), "plans", "r13")


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = list(args.queries)
    if args.top:
        with open(os.path.join(HERE, "bench_last.json")) as fh:
            rec = json.load(fh)
        ranked = sorted(rec["queries"].items(), key=lambda kv: -kv[1])
        names += [n for n, _ in ranked[:args.top] if n not in names]

    os.makedirs(PLANS, exist_ok=True)
    registry = _q.queries()
    spark = get_spark("profile_r13", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-ups as bench.py so first-query numbers are comparable
    _force(registry["sales_by_region"](spark, SF_DIR))
    spark.range(64).mapInPandas(lambda it: it, "id long").write \
        .format("noop").mode("overwrite").save()
    from kafka_connect_msk_demo_spark.catalog import load_table
    _force(load_table(spark, SF_DIR, "documents"))

    results: dict[str, list[float]] = {}
    for name in names:
        if name not in registry:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        samples = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            samples.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        results[name] = samples
        if not args.no_plan:
            plan = fn(spark, SF_DIR)._sc._jvm.PythonSQLUtils.explainString(
                fn(spark, SF_DIR)._jdf.queryExecution(), "formatted")
            with open(os.path.join(PLANS, f"{name}_{args.tag}.txt"),
                      "w") as fh:
                fh.write(plan)
            spark.catalog.clearCache()
        med = sorted(samples)[len(samples) // 2]
        print(f"{name}: median {med}s  reps {samples}", flush=True)
    spark.sparkContext.setJobDescription(None)
    out = os.path.join(HERE, f"profile_r13_{args.tag}.json")
    mode = "r+" if os.path.exists(out) else None
    prev = {}
    if mode:
        with open(out) as fh:
            try:
                prev = json.load(fh)
            except ValueError:
                prev = {}
    prev.update({n: s for n, s in results.items()})
    with open(out, "w") as fh:
        json.dump(prev, fh, indent=1, sort_keys=True)
    print(f"-> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
