"""``stream_live_json``: the paper's flagship streaming query, open loop.

A separate generator process (``livegen.py``) writes JSON sales events
at a fixed rate into a file-stream stand-in for the Kafka topic. The
query decodes the value, left-joins the customer dimension with
null-fill, aggregates 10-minute windows sliding by 5 minutes under a
10-minute watermark and emits through a complete-mode ``foreachBatch``
sink. Latency is per event, from its creation stamp to the end of the
first sink call that emits it. After the stream, the final emission
is published through the program's manifest-committed file sink and a
dashboard reads it back with SQL, each read checked against the
generator's tally.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import event_times, p50, quantiles, slope, start_s

LIVE_RATE = 5000          # offered events per second
LIVE_TICK_S = 0.1         # generator file interval
#: processing-time trigger, as the reference's streams run: a batch
#: reads the files of one interval, so its size does not follow how
#: long the previous batch took. Batches take 0.9-2.4 s on 4 cores, so
#: 3 s leaves room before the query falls behind its schedule.
LIVE_TRIGGER_S = 3.0
#: generated but not measured: the first three batches run slower than
#: the trigger interval while the JVM compiles the query's code, and
#: the fourth drains what they left behind
LIVE_WARMUP_S = 12.0
CUSTOMERS = gen.SF01["customer"]
#: set-ups; the first pays the JVM's warm-up and is not counted
SETUP_REPS = 3
#: dashboard reads of the served result after the stream
READ_ROUNDS = 8
READ_WARMUP = 2
VIEW = "window_sales"


def event_struct():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("created_us", T.LongType()),
    ])


def decode_json_values(src):
    from kafka_connect_msk_demo_spark import serde
    return serde.decode_json(src, event_struct())


def decode_avro_values(src):
    from pyspark.sql import functions as F

    from kafka_connect_msk_demo_spark import serde
    sid, payload = serde.unframe_registry(F.col("value"))
    framed = (src.select(sid.alias("sid"), payload.alias("payload"))
              .filter(F.col("sid") == gen.SCHEMA_ID))
    return serde.from_avro_column(framed, gen.EVENT_AVRO, event_struct(),
                                  value_col="payload")


def windowed_sales(events, dim):
    """Enrich, watermark and aggregate — the query under test."""
    from kafka_connect_msk_demo_spark.operators.aggregates import \
        windowed_sum_count
    from kafka_connect_msk_demo_spark.operators.joins import enrich
    enriched = enrich(events, dim, ["user_id"],
                      fill={"segment": "Unassigned"})
    return windowed_sum_count(enriched.withWatermark("ts", "10 minutes"),
                              ["segment"], "ts", "value")


class Sink:
    """``foreachBatch`` body: collects the complete emission and stamps
    the instant the batch's results reached the consumer."""

    def __init__(self) -> None:
        self.ends: dict[int, float] = {}
        self.last: list = []

    def __call__(self, df, batch_id: int) -> None:
        self.last = df.collect()
        self.ends[batch_id] = time.time()


def load_dim(ctx, sf_dir: str):
    from pyspark.sql import functions as F

    from kafka_connect_msk_demo_spark.catalog import load_table
    with ctx.tracer.span("catalog.load_table", table="customer"):
        dim = (load_table(ctx.spark, sf_dir, "customer")
               .select(F.col("c_custkey").alias("user_id"),
                       F.col("c_mktsegment").alias("segment"))
               .cache())
        dim.count()
    return dim


def start_query(ctx, src_dir: str, dim, name: str,
                available_now: bool = False):
    from kafka_connect_msk_demo_spark.catalog import KAFKA_ENVELOPE
    from kafka_connect_msk_demo_spark.streaming.runner import file_stream
    src = file_stream(ctx.spark, src_dir, KAFKA_ENVELOPE,
                      max_files_per_trigger=None)
    sink = Sink()
    w = (windowed_sales(decode_json_values(src), dim).writeStream
         .foreachBatch(sink).outputMode("complete")
         .option("checkpointLocation", ctx.path(f"ckpt-{name}")))
    w = (w.trigger(availableNow=True) if available_now
         else w.trigger(processingTime=f"{LIVE_TRIGGER_S} seconds"))
    return w.start(), sink


def emission_errors(rows, tally: dict) -> int:
    """Groups of the final complete emission that differ from the
    generator's tally, missing or extra."""
    got = {(r["segment"], int(r["window_start"])):
           (int(r["orders"]), int(round(r["sales"] * 100))) for r in rows}
    return sum(got.get(k) != tally.get(k) for k in set(got) | set(tally))


def served_reads(ctx, rows, tally: dict) -> tuple[list[float], int]:
    """Dashboard reads of the served result. The sink's final complete
    emission is published once through the program's exactly-once file
    sink (``sources.files.manifest_commit``); each read loads the
    published table with ``read_manifested`` and rolls the windows up
    per segment in SQL. ``READ_WARMUP`` untimed reads come first.
    Returns the read latencies and the number of reads whose answer
    differs from the generator's tally rolled up the same way."""
    from kafka_connect_msk_demo_spark.sources.files import (
        manifest_commit, read_manifested)
    spark, path = ctx.spark, ctx.path("served")
    manifest_commit(spark.createDataFrame(rows), path, "final")
    want: dict[str, tuple] = {}
    for (segment, _), (n, cents) in tally.items():
        n0, c0 = want.get(segment, (0, 0))
        want[segment] = (n0 + n, c0 + cents)
    out, wrong = [], 0
    for _ in range(READ_WARMUP + READ_ROUNDS):
        t0 = time.perf_counter()
        with ctx.tracer.span("sql.read"):
            read_manifested(spark, path).createOrReplaceTempView(VIEW)
            got = spark.sql(f"SELECT segment, SUM(orders) AS orders, "
                            f"SUM(sales) AS sales FROM {VIEW} "
                            "GROUP BY segment").collect()
        out.append(time.perf_counter() - t0)
        wrong += want != {r["segment"]: (int(r["orders"]),
                                         int(round(r["sales"] * 100)))
                          for r in got}
    return out[READ_WARMUP:], wrong


def emission_rate(ends, rows, window) -> float:
    """Events the sink received per second: the median, over the batches
    that ended in ``window``, of a batch's rows over the time since the
    previous batch ended. ``ends`` and ``rows`` are per batch, in
    order."""
    ends, rows = np.asarray(ends), np.asarray(rows)
    inside = np.flatnonzero((ends >= window[0]) & (ends < window[1]))
    inside = inside[inside > 0]
    if not len(inside):
        return 0.0
    return float(np.median(rows[inside] / (ends[inside] - ends[inside - 1])))


def _progress(query) -> list:
    """One progress record per batch, in order. An idle query repeats
    the id of the batch it waits to run with zero input rows; the
    record of the batch that ran supersedes it."""
    out = {}
    for p in query.recentProgress:
        if p["batchId"] not in out or p["numInputRows"]:
            out[p["batchId"]] = p
    return [out[b] for b in sorted(out)]


def stream_layers(progress, window) -> dict[str, float]:
    """Runner and state-store metrics of the batches started in
    ``window`` (a (start, end) pair of epoch seconds)."""
    ps = [p for p in progress if window[0] <= start_s(p) < window[1]]
    dur = lambda k: p50([p["durationMs"].get(k, 0) for p in ps])  # noqa
    state = [p["stateOperators"][0] for p in ps if p["stateOperators"]]
    last = state[-1] if state else {}
    return {
        "streaming.batches": float(len(ps)),
        "streaming.rows_per_batch_p50": p50([p["numInputRows"] for p in ps]),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.offset_commit_ms_p50": dur("commitOffsets"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "state.rows_total": float(last.get("numRowsTotal", 0)),
        "state.memory_bytes": float(last.get("memoryUsedBytes", 0)),
        "state.commit_ms_p50": p50([s["commitTimeMs"] for s in state]),
        "state.rows_dropped_by_watermark": float(sum(
            s["numRowsDroppedByWatermark"] for s in state)),
    }


def drain_rate(ctx, src: str, sf_dir: str, name: str) -> float:
    """Events per second of an ``availableNow`` drain of ``src`` through
    the same query, closed loop."""
    dim = load_dim(ctx, sf_dir)
    t0 = time.perf_counter()
    with ctx.tracer.span("streaming.drain", query=name):
        q, _ = start_query(ctx, src, dim, name, available_now=True)
        q.awaitTermination()
    took = time.perf_counter() - t0
    dim.unpersist()
    return sum(p["numInputRows"] for p in _progress(q)) / took


def isolate_layers(ctx, src: str, sf_dir: str, ev) -> dict:
    """Traced run only. Times, as batch jobs over the events the stream
    consumed, a plain scan, the JSON decode and the registry-framed Avro
    decode (the same events re-encoded), each the median of three, so
    the codecs stand apart from the query; then drains the consumed
    files on every core and on ``local[1]``, the single-threaded
    baseline of the same job."""
    from bench import _force

    from kafka_connect_msk_demo_spark.catalog import load_table
    spark = ctx.spark

    def timed(name, build):
        out = []
        for _ in range(3):
            t0 = time.perf_counter()
            with ctx.tracer.span(name):
                _force(build())
            out.append(time.perf_counter() - t0)
        return p50(out)

    avro = ctx.path("avro.parquet")
    n = len(ev["event_id"])
    pq.write_table(gen.envelope_table(
        gen.avro_values(ev, 0, n, np.zeros(n, dtype="int64")),
        ev["user_id"], 0, 0), avro)
    files = [os.path.join(src, f) for f in sorted(os.listdir(src))]
    json_s = timed("serde.decode_json",
                   lambda: decode_json_values(spark.read.parquet(*files))) \
        - timed("isolate.scan_json", lambda: spark.read.parquet(*files))
    avro_s = timed("serde.decode_avro",
                   lambda: decode_avro_values(spark.read.parquet(avro))) \
        - timed("isolate.scan_avro", lambda: spark.read.parquet(avro))
    json_s, avro_s = max(json_s, 1e-6), max(avro_s, 1e-6)
    return {
        "serde.decode_rows": float(n), "serde.decode_s": json_s,
        "serde.decode_rows_per_s": n / json_s,
        "serde.avro_decode_s": avro_s,
        "serde.avro_decode_rows_per_s": n / avro_s,
        "catalog.scan_s": timed("catalog.scan", lambda: load_table(
            spark, sf_dir, "customer")),
        "baseline.all_cores_events_per_s": drain_rate(ctx, src, sf_dir,
                                                      "drain"),
        "baseline.local1_events_per_s": ctx.single_core(
            lambda: drain_rate(ctx, src, sf_dir, "drain-local1")),
    }


def live(ctx) -> dict:
    n_events = int(LIVE_RATE * (LIVE_WARMUP_S + ctx.seconds))
    ev = gen.events(ctx.seed, n_events, CUSTOMERS)

    def setup(rep):
        sf = ctx.path(f"sf-{rep}")
        gen.write_customers(ctx.seed, sf, CUSTOMERS)
        dim = load_dim(ctx, sf)
        src, stage = ctx.path(f"topic-{rep}"), ctx.path(f"stage-{rep}")
        os.makedirs(src)
        os.makedirs(stage)
        q, sink = start_query(ctx, src, dim, f"live-{rep}")
        return sf, dim, src, stage, q, sink

    def teardown(state):
        state[4].stop()
        state[1].unpersist()

    sf, dim, src, stage, q, sink = ctx.repeat_setup(setup, teardown,
                                                    reps=SETUP_REPS)
    log = ctx.path("gen-log.json")
    t0 = time.time() + 1.0    # the generator imports and draws first
    cmd = [sys.executable, os.path.join(ctx.bench_dir, "livegen.py"),
           "--seed", str(ctx.seed), "--rate", str(LIVE_RATE),
           "--seconds", str(LIVE_WARMUP_S + ctx.seconds),
           "--tick", str(LIVE_TICK_S), "--customers", str(CUSTOMERS),
           "--start", repr(t0), "--out", src, "--stage", stage,
           "--log", log]
    if ctx.rest:
        ctx.rest.mark()
    with ctx.tracer.span("gen.live"):
        proc = subprocess.Popen(cmd, env=dict(os.environ,
                                              OMP_NUM_THREADS="1"))
        try:
            proc.wait(timeout=LIVE_WARMUP_S + ctx.seconds + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"live generator exited with {proc.returncode}")
    with open(log) as fh:
        glog = json.load(fh)
    deadline = time.time() + 60
    with ctx.tracer.span("streaming.drain"):
        while sum(p["numInputRows"] for p in _progress(q)) < n_events:
            if q.exception() is not None or time.time() > deadline:
                break
            time.sleep(0.05)
        time.sleep(0.2)   # the last batch's progress follows its sink call
    progress = _progress(q)
    trigger_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    layers = ctx.rest.metrics() if ctx.rest else {}

    files = glog["files"]
    batches = [p for p in progress if p["batchId"] in sink.ends]
    w0, w1 = t0 + LIVE_WARMUP_S, t0 + LIVE_WARMUP_S + ctx.seconds
    created, emitted_at, started, unread = event_times(
        files, batches, sink.ends, t0, LIVE_RATE, (w0, w1))
    lat = emitted_at - created
    ends = np.array([sink.ends[p["batchId"]] for p in batches])
    emitted = np.cumsum([p["numInputRows"] for p in batches])
    inside = (ends >= w0) & (ends < w1)
    due = np.minimum(n_events, np.floor((ends - t0) * LIVE_RATE))
    segments = gen.customers(ctx.seed, CUSTOMERS)["c_mktsegment"] \
        .to_numpy(zero_copy_only=False)
    q.stop()
    tally = gen.window_tally(ev, segments)
    wrong = emission_errors(sink.last, tally)
    reads, wrong_reads = served_reads(ctx, sink.last, tally)
    lq, rq = quantiles(lat), quantiles(reads)
    layers.update(stream_layers(progress, (w0, w1)))
    layers.update({
        "reads.p50_s": rq["p50"], "reads.p95_s": rq["tail"],
        "streaming.queue_wait_ms_p50": p50(started - created) * 1000,
        "backlog_growth_events_per_s": slope(ends[inside],
                                             (due - emitted)[inside]),
        "gen.events": float(glog["events"]), "gen.files": float(len(files)),
        "gen.lag_s_max": max((f["visible"] - f["due"] for f in files),
                             default=0.0)})
    if ctx.trace:
        layers.update(isolate_layers(ctx, src, sf, ev))
    return {
        "e2e": {"events_per_s": emission_rate(
                    ends, [p["numInputRows"] for p in batches], (w0, w1)),
                "latency_p50_s": lq["p50"], "latency_p95_s": lq["tail"]},
        "layers": layers,
        # every event and every read is one operation; an event fails
        # when no batch read it, and all fail when the final emission
        # differs from the tally
        "attempted": n_events + READ_WARMUP + READ_ROUNDS,
        "failed": (n_events if wrong else unread) + wrong_reads,
        "details": {"latency": lq, "reads": rq, "read_s": reads,
                    "trigger_ms": trigger_ms,
                    "unread_events": unread,
                    "wrong_groups": wrong, "wrong_reads": wrong_reads,
                    "gen_lag_s_max": layers["gen.lag_s_max"]},
    }
