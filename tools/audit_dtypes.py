"""Audit pandas-dtype drift between every registered Spark query and
its DuckDB oracle.

The driver's value hash is dtype-sensitive: equal values that cross the
pandas boundary with different dtypes (object(Decimal) vs float64,
int32 vs int64, ...) can hash-mismatch even when `oracle.compare`'s
value comparison passes. This script runs every (query, oracle) pair at
sf0.001 and reports per-column dtype pairs that differ.

Usage: python tools/audit_dtypes.py [start [end]]  -> tools/dtype_audit.json
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_msk_demo_spark.oracle import run_oracle
from kafka_connect_msk_demo_spark.queries import ALL_QUERIES
from kafka_connect_msk_demo_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def classify(series) -> str:
    """Dtype plus the python type of the first non-null object value."""
    d = str(series.dtype)
    if d == "object":
        nn = series.dropna()
        if len(nn):
            d = f"object({type(nn.iloc[0]).__name__})"
    return d


def main() -> int:
    start = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    end = int(sys.argv[2]) if len(sys.argv) > 2 else len(ALL_QUERIES)
    names = list(ALL_QUERIES)[start:end]
    spark = get_spark("dtype-audit", master="local[16]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    report = {}
    for i, name in enumerate(names):
        fn, sql = ALL_QUERIES[name]
        if not sql:
            continue
        try:
            left = fn(spark, SF_DIR).toPandas()
            right = run_oracle(sql, SF_DIR)
            drift = {}
            for c in left.columns:
                if c not in right.columns:
                    drift[c] = [classify(left[c]), "<missing>"]
                    continue
                lc, rc = classify(left[c]), classify(right[c])
                if lc != rc:
                    drift[c] = [lc, rc]
            if drift:
                report[name] = {"drift": drift}
                print(f"[{start+i:3d}] {name}: DRIFT {drift}", flush=True)
            else:
                print(f"[{start+i:3d}] {name}: ok", flush=True)
        except Exception as exc:  # noqa: BLE001 - report and continue
            report[name] = {"error": repr(exc)[:300]}
            print(f"[{start+i:3d}] {name}: ERROR {exc!r:.200}", flush=True)
        spark.catalog.clearCache()
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "dtype_audit.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"\n{len(report)} queries with drift/errors -> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
