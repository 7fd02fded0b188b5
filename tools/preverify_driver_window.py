"""Pre-verify the driver's correctness window at driver scale.

The local parity suite runs at sf0.001; the correctness driver runs the
first DRIVER_WINDOW queries of ALL_QUERIES at sf0.01. This script runs
exactly that slice at sf0.01 so a scale-dependent mismatch (ties,
sampling, overflow) surfaces BEFORE the driver does.

Usage: python tools/preverify_driver_window.py [start [end]]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_msk_demo_spark.oracle import check_query
from kafka_connect_msk_demo_spark.queries import ALL_QUERIES, DRIVER_WINDOW
from kafka_connect_msk_demo_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_MEDIUM", "/root/testdata/sf0.01")


def main() -> int:
    start = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    end = int(sys.argv[2]) if len(sys.argv) > 2 else DRIVER_WINDOW
    names = list(ALL_QUERIES)[start:end]
    spark = get_spark("preverify", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for i, name in enumerate(names):
        fn, sql = ALL_QUERIES[name]
        t0 = time.perf_counter()
        if not sql:
            print(f"[{start+i:3d}] {name}: SKIP (no oracle)", flush=True)
            continue
        try:
            issues = check_query(spark, name, fn, sql, SF_DIR)
        except Exception as exc:  # noqa: BLE001 - report and continue
            issues = [f"exception: {exc!r:.300}"]
        dt = time.perf_counter() - t0
        status = "ok" if not issues else "FAIL " + "; ".join(issues)[:300]
        print(f"[{start+i:3d}] {name}: {status} ({dt:.1f}s)", flush=True)
        if issues:
            failures.append(name)
        spark.catalog.clearCache()
    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
