"""Measurement helpers shared by the workloads: percentile rule,
per-event latency assignment, spans, peak RSS, Spark's public REST
metrics and the machine-speed reference."""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

import numpy as np

# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def tail_quantile(n: int, target: float = 0.95) -> float:
    """Highest quantile, capped at ``target``, with at least ten samples
    beyond it; the median when fewer than twenty samples exist."""
    if n < 20:
        return 0.5
    return min(target, 1.0 - 10.0 / n)


def quantiles(values) -> dict:
    """Median and rule-chosen tail of ``values`` with the sample count."""
    v = np.asarray(values, dtype="float64")
    if not len(v):
        return {"p50": 0.0, "tail": 0.0, "tail_q": 0.5, "n": 0}
    q = tail_quantile(len(v))
    return {"p50": float(np.quantile(v, 0.5)),
            "tail": float(np.quantile(v, q)), "tail_q": q, "n": len(v)}


def p50(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def slope(t, y) -> float:
    """Least-squares slope of ``y`` over ``t`` (0 with < 2 points)."""
    t, y = np.asarray(t, dtype="float64"), np.asarray(y, dtype="float64")
    if len(t) < 2 or np.ptp(t) == 0:
        return 0.0
    return float(np.polyfit(t, y, 1)[0])


def assign_batches(file_rows, batch_rows) -> np.ndarray:
    """Index of the micro-batch that read each generator file.

    The file source reads whole files in arrival order, so the running
    total of ``numInputRows`` over batches lands exactly on running
    totals of file sizes. Returns, per file, the position in
    ``batch_rows`` of the batch holding it; -1 for files no batch has
    read yet. Raises ``ValueError`` when a batch boundary falls inside
    a file, which means rows were lost, duplicated or reordered."""
    file_end = np.cumsum(np.asarray(file_rows, dtype="int64"))
    batch_end = np.cumsum(np.asarray(batch_rows, dtype="int64"))
    if len(batch_end) and (not len(file_end) or batch_end[-1] > file_end[-1]):
        raise ValueError("batches read more rows than were generated")
    if not np.isin(batch_end, np.append(file_end, 0)).all():
        raise ValueError("a batch boundary splits a generator file")
    out = np.searchsorted(batch_end, file_end, side="left")
    out[out >= len(batch_end)] = -1
    return out


def start_s(progress) -> float:
    """Trigger start of a streaming progress record, epoch seconds."""
    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def event_times(files, batches, ends, start: float, rate: float, window):
    """Creation, emission and trigger-start times of every event created
    inside ``window`` (start, end) that a batch read, in event order.

    ``files`` are the generator's files in arrival order as ``{"lo",
    "hi"}`` event ranges; event ``i`` was created at ``start + i /
    rate``. ``batches`` are the progress records of the batches the
    sink saw, in order; ``ends`` maps ``batchId`` to the end of the
    sink call. Each event counts once, in the batch that read its file.
    Returns the three arrays and the number of events no batch read."""
    owner = assign_batches([f["hi"] - f["lo"] for f in files],
                           [p["numInputRows"] for p in batches])
    created, emitted, started, unread = [], [], [], 0
    for f, b in zip(files, owner):
        if b < 0:
            unread += f["hi"] - f["lo"]
            continue
        c = start + np.arange(f["lo"], f["hi"]) / rate
        c = c[(c >= window[0]) & (c < window[1])]
        created.append(c)
        emitted.append(np.full(len(c), ends[batches[b]["batchId"]]))
        started.append(np.full(len(c), start_s(batches[b])))
    cat = lambda xs: np.concatenate(xs) if xs else np.zeros(0)  # noqa
    return cat(created), cat(emitted), cat(started), unread


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans at the benchmark's calls into each layer, kept in memory
    and written once at the end. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Peak resident memory of the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional resident size: pages shared by several processes
    (the Python workers are forks of one daemon) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples, every ``interval`` s, the resident memory of a JVM plus
    every Python process below it (the PySpark daemon and its workers).
    The Python processes count by proportional set size, so a worker
    forked from the daemon adds only its own pages; the JVM counts by
    RSS, which costs no page-table walk of its large heap. Other
    children are short-lived helpers the JVM forks, which read as the
    JVM itself until they exec, and are skipped."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            tree, total, procs = _children(self.pid), _rss_bytes(self.pid), 0
            while tree:
                p = tree.pop()
                if _is_python(p):
                    total += _pss_bytes(p)
                    procs += 1
                    tree.extend(_children(p))
            self.peak = max(self.peak, total)
            self.peak_python = max(self.peak_python, procs)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark's public REST metrics (stages and SQL executions)
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """SQL-tab metric text -> number (seconds for times, bytes for
    sizes). Task-aggregated metrics read ``total (min, med, max ...)``
    followed by the total on the next line."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Reads stage and SQL-execution metrics from the application's UI
    REST endpoint; ``mark`` remembers what existed before a window."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl
        app = self._get("/applications")[0]["id"]
        self.app = f"/applications/{app}"
        self.stage0 = self.exec0 = -1

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/api/v1{path}",
                                    timeout=30) as fh:
            return json.load(fh)

    def _stages(self) -> list[dict]:
        return self._get(f"{self.app}/stages?status=complete")

    def _executions(self) -> list[dict]:
        return self._get(f"{self.app}/sql?details=true&planDescription=false"
                         "&offset=0&length=100000")

    def mark(self) -> None:
        self.stage0 = max((s["stageId"] for s in self._stages()), default=-1)
        self.exec0 = max((e["id"] for e in self._executions()), default=-1)

    def metrics(self) -> dict[str, float]:
        stages = [s for s in self._stages() if s["stageId"] > self.stage0]
        out = {"shuffle.bytes_written": float(sum(s["shuffleWriteBytes"]
                                                  for s in stages)),
               "shuffle.bytes_read": float(sum(s["shuffleReadBytes"]
                                               for s in stages)),
               "tasks.count": float(sum(s["numTasks"] for s in stages)),
               "catalog.bytes_read": float(sum(s["inputBytes"]
                                               for s in stages)),
               "shuffle.task_skew": 1.0,
               # peak JVM heap in use, from the memory metrics Spark
               # polls while tasks run
               "memory.jvm_heap_peak_mb": max(
                   (e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0)
                    for e in self._get(f"{self.app}/executors")
                    if e["id"] == "driver"), default=0) / 2**20}
        wide = max(stages, key=lambda s: (s["numTasks"], s["stageId"]),
                   default=None)
        if wide is not None and wide["numTasks"] > 1:
            q = self._get(f"{self.app}/stages/{wide['stageId']}/"
                          f"{wide['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0")["executorRunTime"]
            out["shuffle.task_skew"] = q[1] / max(q[0], 1.0)
        join = agg = rows_in = rows_out = 0.0
        for ex in self._executions():
            if ex["id"] <= self.exec0:
                continue
            nodes = sorted(ex.get("nodes", []), key=lambda n: n["nodeId"])
            parents = {e["toId"] for e in ex.get("edges", [])}
            root_rows = None
            for n in nodes:
                mets = {m["name"]: m["value"] for m in n.get("metrics", [])}
                name = n["nodeName"]
                if "Aggregate" in name:
                    agg += parse_metric(mets.get("time in aggregation build",
                                                 "0"))
                if name == "BroadcastExchange":
                    join += (parse_metric(mets.get("time to build", "0"))
                             + parse_metric(mets.get("time to broadcast",
                                                     "0")))
                if "Join" in name:
                    join += parse_metric(mets.get("time to build hash map",
                                                  "0"))
                rows = mets.get("number of output rows")
                if rows is None:
                    continue
                if root_rows is None:
                    root_rows = parse_metric(rows)
                if n["nodeId"] not in parents:     # a leaf: a scan
                    rows_in += parse_metric(rows)
            rows_out += root_rows or 0.0
        out.update({"operators.join_s": join, "operators.agg_s": agg,
                    "operators.rows_in": rows_in,
                    "operators.rows_out": rows_out})
        return out


# ---------------------------------------------------------------------------
# Machine-speed reference
# ---------------------------------------------------------------------------


def cpu_steal(since: tuple[int, int] | None = None):
    """Without ``since``: the host's (steal, total) CPU ticks so far.
    With it: the share of CPU time the hypervisor took from this
    machine since then, which slows every run it overlaps."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def host_reference(spark) -> dict[str, float]:
    """``bench.py``'s CPU probes plus core count and load average, so a
    shift in the host can be told apart from a change in the code."""
    import bench

    ref = {f"host.{k}": float(v) for k, v in bench._cpu_ref(spark).items()}
    ref["host.nproc"] = float(os.cpu_count() or 1)
    ref["host.loadavg_1m"] = os.getloadavg()[0]
    return ref
