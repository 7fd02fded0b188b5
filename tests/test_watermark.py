"""T1 — prove the watermark actually DROPS late rows in append mode.

The oracle-parity streaming queries run in complete mode (which keeps
all state), so this is the one streaming semantic only a dedicated test
can exercise. Three checkpointed runs over a growing file source:

1. run 1 seeds window [00:00, 00:10) and advances the watermark to
   00:50 (max event 01:00 − 10 min), persisted in the checkpoint;
2. run 2 delivers a row at 00:02 — 48 minutes behind the persisted
   watermark. Its window was already finalized and evicted, so the row
   must be DROPPED (not merged, not re-emitted);
3. run 3 pushes the watermark past every window so all survivors are
   flushed to the append sink.

The [00:00, 00:10) window must appear exactly once, containing only the
run-1 row. (Within a single multi-batch run, state eviction lags one
micro-batch, so the restart pattern is the precise way to pin the
documented drop semantics — and it doubles as a checkpoint-recovery
test, T6.)
"""

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("v", T.DoubleType(), True),
])


def _write_batch(path: str, name: str, rows: list[tuple[str, float]],
                 mtime: int) -> None:
    pdf = pd.DataFrame(rows, columns=["ts", "v"])
    # micros, not pandas-default nanos: Spark's parquet reader rejects
    # TIMESTAMP(NANOS) against a TimestampType schema
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    f = os.path.join(path, name)
    pq.write_table(pa.Table.from_pandas(pdf), f)
    os.utime(f, (mtime, mtime))  # file-stream orders batches by mtime


def _drain(spark, src: str, out: str, ckpt: str) -> str:
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "10 minutes"))
           .agg(F.sum("v").alias("total"), F.count("v").alias("n"))
           .select(F.col("window.start").alias("ws"), "total", "n"))
    q = (agg.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (q.lastProgress or {}).get("eventTime", {}).get("watermark", "")


def test_append_mode_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    now = int(time.time())

    _write_batch(src, "b1.parquet",
                 [("2024-01-01 00:01:00", 1.0),
                  ("2024-01-01 01:00:00", 5.0)], now - 60)
    wm1 = _drain(spark, src, out, ckpt)
    assert wm1 == "2024-01-01T00:50:00.000Z"

    # 48 min behind the persisted watermark → must be dropped
    _write_batch(src, "b2.parquet",
                 [("2024-01-01 00:02:00", 100.0),
                  ("2024-01-01 01:10:00", 7.0)], now - 30)
    wm2 = _drain(spark, src, out, ckpt)
    assert wm2 == "2024-01-01T01:00:00.000Z"

    # flush every remaining window past the watermark
    _write_batch(src, "b3.parquet",
                 [("2024-01-01 02:00:00", 3.0)], now - 5)
    _drain(spark, src, out, ckpt)

    got = {r.ws: (r.total, r.n)
           for r in spark.read.parquet(out).collect()}
    first = [v for k, v in got.items() if (k.hour, k.minute) == (0, 0)]
    assert first == [(1.0, 1)], got  # late 100.0 dropped, emitted once
    assert got[max(got)] != (100.0, 1)  # and never re-emitted later


KV_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("k", T.StringType(), True),
    T.StructField("v", T.DoubleType(), True),
])


def _write_kv(path, name, rows, mtime):
    pdf = pd.DataFrame(rows, columns=["ts", "k", "v"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    f = os.path.join(path, name)
    pq.write_table(pa.Table.from_pandas(pdf), f)
    os.utime(f, (mtime, mtime))


def _drain_dedup(spark, src, out, ckpt):
    from kafka_connect_msk_demo_spark.streaming.stateful import (
        dedup_within_watermark)
    stream = spark.readStream.schema(KV_SCHEMA).parquet(src)
    deduped = dedup_within_watermark(stream, ["k"], "ts", "10 minutes")
    q = (deduped.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the delay are
    dropped; a key recurring after its state was evicted (watermark
    passed event time + delay) is admitted again — the bounded-state
    contract that distinguishes it from dropDuplicates."""
    src = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    now = int(time.time())

    # A twice within the delay -> one survivor; B once; watermark -> 00:50
    _write_kv(src, "b1.parquet",
              [("2024-01-01 00:01:00", "A", 1.0),
               ("2024-01-01 00:02:00", "A", 2.0),
               ("2024-01-01 01:00:00", "B", 5.0)], now - 60)
    _drain_dedup(spark, src, out, ckpt)

    # B at 01:02: state alive (01:00 + 10min > 00:50) -> dropped.
    # A at 00:55: state evicted (00:01 + 10min < 00:50) -> re-admitted.
    _write_kv(src, "b2.parquet",
              [("2024-01-01 01:02:00", "B", 9.0),
               ("2024-01-01 00:55:00", "A", 3.0),
               ("2024-01-01 02:00:00", "C", 7.0)], now - 30)
    _drain_dedup(spark, src, out, ckpt)

    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [("A", 1.0), ("A", 3.0), ("B", 5.0), ("C", 7.0)], got


def _orderby_window_sales(stream):
    """The sorted window aggregate as ``windowed_sum_count`` planned it
    with a global ``orderBy`` (range-partitioned sort)."""
    from kafka_connect_msk_demo_spark.operators.aggregates import dec
    return (stream.groupBy("k", F.window("ts", "10 minutes", "5 minutes"))
            .agg(F.sum(dec("v")).cast("double").alias("sales"),
                 F.count("v").alias("orders"))
            .select("k",
                    F.unix_timestamp("window.start").alias("window_start"),
                    F.unix_timestamp("window.end").alias("window_end"),
                    "sales", "orders")
            .orderBy(F.col("window_start").desc(), F.col("sales").desc()))


def _drain_window_sales(spark, src, ckpt, shape):
    """One availableNow run of a complete-mode window aggregate; returns
    the final emission and the query's last progress."""
    stream = (spark.readStream.schema(KV_SCHEMA).parquet(src)
              .withWatermark("ts", "10 minutes"))
    last: list = []

    def sink(df, _batch_id):
        last[:] = df.collect()

    q = (shape(stream).writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt).outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return last, q.lastProgress


def test_window_sales_resumes_checkpoint_of_orderby_plan(spark, tmp_path):
    """A checkpoint written by the range-sorted plan keeps working when
    the query restarts with ``windowed_sum_count``'s single-partition
    sort: the restored state carries run 1's groups into run 2, whose
    final emission equals the batch answer over both runs' input."""
    from kafka_connect_msk_demo_spark.operators.aggregates import (
        windowed_sum_count)

    def sales(df):
        return windowed_sum_count(df, ["k"], "ts", "v")

    src = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    now = int(time.time())

    _write_kv(src, "b1.parquet",
              [("2024-01-01 00:01:00", "A", 1.25),
               ("2024-01-01 00:07:00", "B", 2.5),
               ("2024-01-01 00:12:00", "A", 4.0)], now - 60)
    first, p1 = _drain_window_sales(spark, src, ckpt, _orderby_window_sales)
    assert first and p1["batchId"] == 0

    _write_kv(src, "b2.parquet",
              [("2024-01-01 00:03:00", "A", 8.0),
               ("2024-01-01 00:21:00", "B", 16.5)], now - 30)
    got, p2 = _drain_window_sales(spark, src, ckpt, sales)
    assert p2["batchId"] == 1 and p2["numInputRows"] == 2

    truth = sales(spark.read.schema(KV_SCHEMA).parquet(src)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in truth]


SESSION_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("u", T.StringType(), True),
    T.StructField("v", T.DoubleType(), True),
])


def _write_batch_u(path: str, name: str, rows: list, mtime: int) -> None:
    pdf = pd.DataFrame(rows, columns=["ts", "u", "v"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    f = os.path.join(path, name)
    pq.write_table(pa.Table.from_pandas(pdf), f)
    os.utime(f, (mtime, mtime))


def _drain_sessions(spark, src: str, out: str, ckpt: str) -> None:
    stream = spark.readStream.schema(SESSION_SCHEMA).parquet(src)
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy("u", F.session_window("ts", "30 minutes"))
           .agg(F.sum("v").alias("total"), F.count("v").alias("n"))
           .select(F.col("session_window.start").alias("ss"),
                   F.col("session_window.end").alias("se"), "total", "n"))
    # (grouped by user: streaming session windows reject global aggs)
    q = (agg.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_session_window_state_survives_restart(spark, tmp_path):
    """T6 for SESSION state: a session opened in run 1 must MERGE with
    a run-2 event that falls inside its gap — across a full query
    restart from the checkpoint — and extend its end; a separate later
    event starts a fresh session. Run 3 pushes the watermark past
    everything to flush the append sink."""
    src = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    now = int(time.time())

    # run 1: open session at 00:00, second event 00:10 (same session)
    _write_batch_u(src, "b1.parquet",
                 [("2024-01-01 00:00:00", "u1", 1.0),
                  ("2024-01-01 00:10:00", "u1", 2.0)], now - 60)
    _drain_sessions(spark, src, out, ckpt)

    # run 2 (restart): 00:30 is 20 min after the last event — inside
    # the 30-min gap, so it must merge into the restored session; a
    # 03:00 event opens a second session
    _write_batch_u(src, "b2.parquet",
                 [("2024-01-01 00:30:00", "u1", 4.0),
                  ("2024-01-01 03:00:00", "u1", 8.0)], now - 30)
    _drain_sessions(spark, src, out, ckpt)

    # run 3: far-future event flushes everything finalized
    _write_batch_u(src, "b3.parquet",
                 [("2024-01-01 09:00:00", "u1", 0.5)], now)
    _drain_sessions(spark, src, out, ckpt)

    got = {(r.ss.isoformat(), r.se.isoformat(), r.total, r.n)
           for r in spark.read.schema(
               "ss timestamp, se timestamp, total double, n long")
           .parquet(out).collect()}
    merged = ("2024-01-01T00:00:00", "2024-01-01T01:00:00", 7.0, 3)
    second = ("2024-01-01T03:00:00", "2024-01-01T03:30:00", 8.0, 1)
    assert merged in got, f"restored session did not merge: {got}"
    assert second in got
    # the merged session appears exactly once (no split/double emission)
    assert len([g for g in got if g[0] == merged[0]]) == 1


def test_manifest_stream_sink_exactly_once(spark, sf_small, tmp_path):
    """Replaying the whole stream (checkpoint wiped, same deterministic
    source) REPLACES each epoch's manifest instead of duplicating it —
    published row count is stable across the replay; a second drain
    with the surviving checkpoint publishes nothing new either."""
    from kafka_connect_msk_demo_spark.catalog import stream_table
    from kafka_connect_msk_demo_spark.sources.files import read_manifested
    from kafka_connect_msk_demo_spark.streaming.runner import (
        manifest_stream_sink)

    out = str(tmp_path / "published")
    ckpt = str(tmp_path / "ckpt")

    def drain(checkpoint):
        ev = stream_table(spark, sf_small, "events",
                          max_files_per_trigger=1)
        sdf = ev.selectExpr("event_id", "user_id", "event_type",
                            "unix_micros(ts) as ts_us")
        manifest_stream_sink(sdf, out, checkpoint)

    drain(ckpt)
    n_events = read_manifested(spark, out).count()
    assert n_events > 0

    # same checkpoint: already-committed epochs are not re-fired
    drain(ckpt)
    assert read_manifested(spark, out).count() == n_events

    # checkpoint LOST: epochs replay from scratch with the same ids;
    # manifest replacement keeps the published table exactly-once
    import shutil
    shutil.rmtree(ckpt)
    drain(str(tmp_path / "ckpt2"))
    assert read_manifested(spark, out).count() == n_events
    assert (read_manifested(spark, out)
            .select("event_id").distinct().count() == n_events)
