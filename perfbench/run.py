"""Stream-analytics benchmark: one workload per run.

    python3 perfbench/run.py --workload stream_live_json --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced run. The line before it holds details:
sample counts, the tail quantile each ``*_p95_s`` figure could support,
the machine-speed reference and any correctness mismatch. Scratch
files live under ``.perfbench_work/`` and are removed at exit; a traced
run leaves its spans in ``.perfbench_out/``. See README.md here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import dashboard  # noqa: E402

#: end-to-end metrics and units, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s", "events_per_s": "1/s", "latency_p50_s": "s",
    "latency_p95_s": "s",
}
#: per-layer metrics and units; a layer a workload never calls reads 0
PER_LAYER = {
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.queue_wait_ms_p50": "ms", "streaming.trigger_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.offset_commit_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "backlog_growth_events_per_s": "1/s",
    "state.rows_total": "count", "state.memory_bytes": "B",
    "state.commit_ms_p50": "ms", "state.rows_dropped_by_watermark": "count",
    "serde.decode_rows": "count", "serde.decode_s": "s",
    "serde.decode_rows_per_s": "1/s", "serde.avro_decode_s": "s",
    "serde.avro_decode_rows_per_s": "1/s",
    "operators.join_s": "s", "operators.agg_s": "s",
    "operators.rows_in": "count", "operators.rows_out": "count",
    "shuffle.bytes_written": "B", "shuffle.bytes_read": "B",
    "shuffle.task_skew": "ratio", "tasks.count": "count",
    "transforms.unwrap_rows": "count", "transforms.unwrap_s": "s",
    "upsert.merge_s_p50": "s", "upsert.partitions_rewritten": "count",
    "upsert.files_written": "count", "upsert.bytes_written": "B",
    "upsert.write_amplification": "ratio", "upsert.table_files": "count",
    "reads.p50_s": "s", "reads.p95_s": "s",
    "catalog.scan_s": "s", "catalog.bytes_read": "B",
    **{f"queries.{q}_s": "s" for q in dashboard.HEADLINE},
    "gen.events": "count", "gen.files": "count", "gen.lag_s_max": "s",
    "error_ratio": "ratio",
    "host.matmul_1k_med_s": "s", "host.pyloop_5m_s": "s",
    "host.jvm_range_sum_200m_med_s": "s", "host.job_floor_noop_med_s": "s",
    "host.nproc": "count", "host.loadavg_1m": "count",
    "host.steal_share": "ratio",
    "memory.peak_rss_mb": "MB", "memory.jvm_heap_peak_mb": "MB",
    "session.start_s": "s", "baseline.all_cores_events_per_s": "1/s",
    "baseline.local1_events_per_s": "1/s",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}
CORES = len(os.sched_getaffinity(0))


class Context:
    """What a workload needs: the session, its inputs' seed, the run
    length, the tracer and a private scratch directory."""

    def __init__(self, spark, args, work: str, tracer, rest) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.rest = rest
        self.work = work
        self.bench_dir = BENCH_DIR
        self.setup_s: list[float] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def repeat_setup(self, setup, teardown=None, reps: int = 3):
        """Run ``setup(rep)`` ``reps`` times, timing each; tear down all
        but the last, whose state the workload measures. The first set-up
        pays the JVM's first-job warm-up; ``setup_s`` is the median of
        the others."""
        state = None
        for rep in range(reps):
            if state is not None and teardown is not None:
                teardown(state)
            t0 = time.perf_counter()
            with self.tracer.span("setup", rep=rep):
                state = setup(rep)
            self.setup_s.append(time.perf_counter() - t0)
        return state

    def single_core(self, fn):
        """Return ``fn()`` run on a ``local[1]`` session, the
        single-threaded baseline of the same job, then restore the
        session on every core."""
        from kafka_connect_msk_demo_spark.session import get_spark
        self.spark.stop()
        self.spark = get_spark("perfbench-local1", master="local[1]",
                               shuffle_partitions=1)
        try:
            return fn()
        finally:
            self.spark.stop()
            self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=CORES)


def _workloads():
    import cdc
    import streams
    return {"stream_live_json": streams.live, "cdc_upsert": cdc.upsert}


def _prepare_env(work: str) -> None:
    """Keep every scratch file inside the checkout and let Python
    workers import the package from any working directory: the JVM
    hands its own PYTHONPATH to the workers it forks."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no perf-data file, which the JVM would write under /tmp
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData' pyspark-shell",
    })
    sys.path.insert(0, ROOT)


def _stop_jvm() -> None:
    """End the JVM PySpark started and wait for it: its gateway exits
    when its standard input closes."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kafka_connect_msk_demo_spark",
                                       "__init__.py")):
        print(f"perfbench: no kafka_connect_msk_demo_spark package under "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)

    from harness import (RssSampler, SparkRest, Tracer, cpu_steal,
                         host_reference)

    from kafka_connect_msk_demo_spark.session import get_spark
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    session_s = time.perf_counter() - t0
    ctx = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       "100000")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        steal0 = cpu_steal()
        with RssSampler(jvm_pid) as rss:
            t1 = time.perf_counter()
            ctx = Context(spark, args, work, tracer,
                          SparkRest(spark) if args.trace else None)
            res = workloads[args.workload](ctx)
            t2 = time.perf_counter()
            # after the workload: its first setup already paid the JVM's
            # first-job warm-up, which the probes would otherwise absorb
            host = host_reference(ctx.spark)
            t3 = time.perf_counter()
        e2e = dict(res["e2e"], setup_s=statistics.median(ctx.setup_s[1:]))
        host["host.steal_share"] = cpu_steal(steal0)
        memory = {"memory.peak_rss_mb": rss.peak / 2**20}
        attempted, failed = int(res["attempted"]), int(res["failed"])
        if args.trace:
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(res["layers"])
            layers.update(host)
            layers.update(memory)
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            layers["session.start_s"] = session_s
            layers["error_ratio"] = failed / max(attempted, 1)
            metrics = {k: (layers[k], PER_LAYER[k]) for k in PER_LAYER}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "setup_s": ctx.setup_s, "host": host,
                          "memory": memory,
                          "python_processes_max": rss.peak_python,
                          "phase_s": {"session": session_s,
                                      "workload": t2 - t1,
                                      "host_reference": t3 - t2},
                          **res["details"]}, default=float))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}))
        return 0
    except Exception:                       # noqa: BLE001 - report, exit 1
        traceback.print_exc()
        return 1
    finally:
        (ctx.spark if ctx else spark).stop()
        _stop_jvm()
        shutil.rmtree(os.path.dirname(work) if len(os.listdir(
            os.path.dirname(work))) == 1 else work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
