"""Per-job breakdown profiler (guide §1/§7): run one query with the
Spark event log enabled, then attribute wall-clock, task time and
shuffle bytes to each job (with its first stage's call site).

Answers "WHERE inside this 4-second query does the time go?" — the
per-query total alone cannot distinguish 40 job-floor round-trips from
one slow shuffle.

A streaming registry query runs its jobs on the stream's own thread,
which tags each job with its micro-batch (the ``streaming.sql.batchId``
job property). Those jobs are grouped per micro-batch instead: jobs,
tasks and wall clock of each batch, then the mean per batch. Two
stateful passes per batch (a range-partition sampler over a
complete-mode aggregate, say) show up there as an extra job and twice
the state-store tasks.

Usage:
    python tools/jobprofile_r12.py <query> [<query> ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_msk_demo_spark import queries as _q  # noqa: E402
from kafka_connect_msk_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def _iter_lines(path: str):
    # Spark 4 event logs are rolling DIRECTORIES (eventlog_v2_<app>/)
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path)
                       if f.startswith("events_"))
        for p in parts:
            with open(os.path.join(path, p)) as fh:
                yield from fh
    else:
        with open(path) as fh:
            yield from fh


#: job property naming the profiled query; local properties are
#: inherited by the threads a job starts, so streaming jobs carry it too
QUERY_KEY = "jobprofile.query"
#: job property the stream execution sets to the micro-batch id
BATCH_KEY = "streaming.sql.batchId"


def _parse_eventlog(path: str, only_query: str | None = None) -> None:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    if True:
        for line in _iter_lines(path):
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "t0": ev.get("Submission Time", 0),
                    "query": props.get(QUERY_KEY),
                    "batch": props.get(BATCH_KEY),
                    "stages": [s["Stage ID"]
                               for s in ev.get("Stage Infos", [])],
                }
            elif k == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev.get("Completion Time", 0)
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                # update, not assign: the stage's task-end events come
                # first and have already added their metrics
                stages.setdefault(si["Stage ID"], {}).update({
                    "name": si.get("Stage Name", "")[:70],
                    "tasks": si.get("Number of Tasks", 0),
                    "t0": si.get("Submission Time", 0),
                    "t1": si.get("Completion Time", 0),
                })
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                st["task_ms"] = st.get("task_ms", 0) + \
                    m.get("Executor Run Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                st["sh_read"] = st.get("sh_read", 0) + \
                    srm.get("Remote Bytes Read", 0) + \
                    srm.get("Local Bytes Read", 0)
                swm = m.get("Shuffle Write Metrics") or {}
                st["sh_write"] = st.get("sh_write", 0) + \
                    swm.get("Shuffle Bytes Written", 0)
    total = 0.0
    batches: dict[int, list] = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        if only_query is not None and j.get("query") != only_query:
            continue
        wall = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        total += wall
        done = [s for s in j["stages"] if s in stages
                and "t1" in stages[s]]
        tt = sum(stages[s].get("task_ms", 0) for s in done) / 1000.0
        if j["batch"] is not None:
            batches.setdefault(int(j["batch"]), []).append(
                (j, sum(stages[s]["tasks"] for s in done), tt))
            continue
        sw = sum(stages[s].get("sh_write", 0) for s in done)
        first = stages[done[0]]["name"] if done else ""
        print(f"  job {jid:>3}  wall {wall:7.3f}s  task {tt:7.2f}s  "
              f"shW {sw/1e6:8.2f}MB  stages {len(done)}  {first}")
    _print_batches(batches)
    print(f"  == sum of job walls: {total:.3f}s "
          f"(gaps to query wall = driver/planning time)")


def _print_batches(batches: dict[int, list]) -> None:
    """One line per micro-batch: its jobs, tasks, task time and the wall
    clock from its first job's submission to its last job's end."""
    if not batches:
        return
    for bid in sorted(batches):
        js = batches[bid]
        wall = (max(j.get("t1", j["t0"]) for j, _, _ in js)
                - min(j["t0"] for j, _, _ in js)) / 1000.0
        print(f"  batch {bid:>3}  jobs {len(js):>2}  "
              f"tasks {sum(n for _, n, _ in js):>4}  "
              f"task {sum(t for _, _, t in js):7.2f}s  wall {wall:7.3f}s")
    n = len(batches)
    every = [job for js in batches.values() for job in js]
    print(f"  == {n} micro-batches: {len(every) / n:.2f} jobs and "
          f"{sum(t for _, t, _ in every) / n:.1f} tasks per batch")


def main() -> int:
    names = sys.argv[1:]
    evdir = tempfile.mkdtemp(prefix="spark_events_")
    # event-log conf must be set before the JVM launches; get_spark's
    # getOrCreate picks these up from the builder's SparkConf defaults
    from pyspark import SparkConf  # noqa: E402
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                          f"--conf spark.eventLog.enabled=true "
                          f"--conf spark.eventLog.compress=false "
                          f"--conf spark.eventLog.dir={evdir} "
                          f"pyspark-shell")
    _ = SparkConf()
    spark = get_spark("jobprofile_r12", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    registry = _q.queries()
    _force(registry["sales_by_region"](spark, SF_DIR))
    spark.range(64).mapInPandas(lambda it: it, "id long").write \
        .format("noop").mode("overwrite").save()
    from kafka_connect_msk_demo_spark.catalog import load_table
    for t in ("documents", "embeddings"):
        _force(load_table(spark, SF_DIR, t))

    # find the live event log file
    tracker = spark.sparkContext.statusTracker()  # noqa: F841

    walls = {}
    for name in names:
        fn = registry[name]
        # warm rep (drops JIT/codegen cold cost), then measured rep
        _force(fn(spark, SF_DIR))
        spark.catalog.clearCache()
        spark.sparkContext.setLocalProperty(QUERY_KEY, name)
        t0 = time.perf_counter()
        _force(fn(spark, SF_DIR))
        walls[name] = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty(QUERY_KEY, None)
        spark.catalog.clearCache()
    spark.stop()  # closes + flushes the event log
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)
            if not f.endswith(".crc")]
    for name in names:
        print(f"\n{name}: warm-rep wall {walls[name]:.3f}s")
        _parse_eventlog(logs[0], only_query=name)
    shutil.rmtree(evdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
