"""Open-loop event generator for the ``stream_live_json`` workload.

Runs as its own single-threaded process so a slow pipeline never slows
the schedule. Event ``i`` is due at ``start + i / rate`` and carries
that instant as its creation stamp; every ``tick`` seconds the events
that fell due are written as one parquet file of Kafka-envelope rows
with JSON values and renamed into the watched directory with a
strictly increasing mtime. At exit a JSON log records, per file, its
event range, due time and the time it became visible.

    python3 perfbench/livegen.py --seed 1 --rate 5000 --seconds 13 \\
        --tick 0.1 --customers 15000 --start <epoch s> \\
        --out <dir> --stage <dir> --log <file>
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    for name in ("seed", "customers"):
        ap.add_argument(f"--{name}", type=int, required=True)
    for name in ("rate", "seconds", "tick", "start"):
        ap.add_argument(f"--{name}", type=float, required=True)
    for name in ("out", "stage", "log"):
        ap.add_argument(f"--{name}", required=True)
    a = ap.parse_args()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    n = int(a.rate * a.seconds)
    ev = gen.events(a.seed, n, a.customers)
    files = []
    lo, last_mtime = 0, 0
    for k in range(1, math.ceil(a.seconds / a.tick) + 1):
        due = a.start + k * a.tick
        hi = min(n, int(k * a.tick * a.rate + 1e-6))
        time.sleep(max(0.0, due - time.time()))
        if hi <= lo:
            continue
        created = ((a.start + gen.np.arange(lo, hi) / a.rate) * 1e6
                   ).astype("int64")
        values = gen.json_values(ev, lo, hi, created)
        table = gen.envelope_table(values, ev["user_id"][lo:hi], lo,
                                   int(time.time() * 1000))
        last_mtime = max(time.time_ns(), last_mtime + 1_000_000)
        gen.publish(table, a.stage, a.out, f"part-{len(files):06d}.parquet",
                    last_mtime)
        files.append({"lo": lo, "hi": hi, "due": due,
                      "visible": time.time()})
        lo = hi
    tmp = a.log + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"start": a.start, "rate": a.rate, "events": lo,
                   "files": files}, fh)
    os.replace(tmp, a.log)


if __name__ == "__main__":
    main()
