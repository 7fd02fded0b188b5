"""Null-value parity for the custom stateful streaming operators.

The events fixture carries no NULL values, so the driver oracles never
exercise the null paths — but the operators' contracts are "identical
to the batch twin", and a NULL value used to either crash the streaming
query (``int(NaN)`` in the anomaly/EWMA folds), poison per-key state
forever (``max(NaN, x)`` in running stats), or emit wrong rows (the
record-high shifted-cummax mask read a NaN slot as "no previous max").
These tests drive each operator over a null-bearing two-chunk file
stream and pin the result to the batch twin / window definition on the
same data.
"""

import glob
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_connect_msk_demo_spark.streaming.runner import (
    run_to_memory, stamp_arrival_order)
from kafka_connect_msk_demo_spark.streaming.stateful import (
    ewma_stream, latest_emission, record_high_stream,
    rolling_anomaly_stream, running_user_stats)

SCHEMA_DDL = "user_id long, ts timestamp, event_id long, value double"


def _stage(tmp_path, chunks):
    """Write each chunk as ONE parquet file with strictly increasing
    mtimes so FileStreamSource delivers them in order (the same
    invariant catalog staging pins)."""
    d = str(tmp_path / "stream")
    os.makedirs(d, exist_ok=True)
    paths = []
    for i, rows in enumerate(chunks):
        tbl = pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([pd.Timestamp(r[1], unit="s", tz="UTC")
                            for r in rows],
                           pa.timestamp("us", tz="UTC")),
            "event_id": pa.array([r[2] for r in rows], pa.int64()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
        })
        p = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(tbl, p)
        paths.append(p)
    stamp_arrival_order(paths)
    return d


def _read_stream(spark, d):
    return (spark.readStream.schema(SCHEMA_DDL)
            .option("maxFilesPerTrigger", "1").parquet(d))


def _read_batch(spark, d):
    return spark.read.schema(SCHEMA_DDL).parquet(d)


# values ~100 with a spike, nulls interleaved so every long column
# crosses Arrow→pandas as float64; user 2 leads with an all-null chunk
CHUNK_A = ([(1, 1000 + i, i, 100.0 + (i % 3)) for i in range(6)]
           + [(1, 1006, 6, None), (1, 1007, 7, 101.0),
              (2, 1000, 100, None), (2, 1001, 101, None)])
CHUNK_B = ([(1, 1008 + i, 8 + i, 99.0 + (i % 2)) for i in range(4)]
           + [(1, 1012, 12, None), (1, 1013, 13, 500.0),  # the anomaly
              (1, 1014, 14, 100.0),
              (2, 1002, 102, 7.0), (2, 1003, 103, None),
              (2, 1004, 104, 3.0), (2, 1005, 105, 9.0)])


def test_rolling_anomaly_stream_nulls_match_batch(spark, tmp_path):
    from kafka_connect_msk_demo_spark.operators.temporal import (
        rolling_zscore_anomalies)
    d = _stage(tmp_path, [CHUNK_A, CHUNK_B])
    got = {(r.user_id, r.event_id, r.v_q, r.n_w, r.s_w)
           for r in run_to_memory(
               rolling_anomaly_stream(_read_stream(spark, d)),
               "update").collect()}
    want = {(r.user_id, r.event_id, r.v_q, r.n_w, r.s_w)
            for r in rolling_zscore_anomalies(
                _read_batch(spark, d), "user_id", ["ts", "event_id"],
                "value").collect()}
    assert got == want and want, (got, want)


def test_ewma_stream_nulls_match_batch(spark, tmp_path):
    import math

    from kafka_connect_msk_demo_spark.operators.temporal import ewma_halving
    d = _stage(tmp_path, [CHUNK_A, CHUNK_B])
    norm = lambda rows: {  # noqa: E731
        (r.user_id, r.event_id,
         None if r.value is None else float(r.value), r.n_window,
         "nan" if r.ewma is not None and math.isnan(r.ewma)
         else r.ewma)
        for r in rows}
    got = norm(run_to_memory(
        ewma_stream(_read_stream(spark, d)), "update").collect())
    want = norm(ewma_halving(_read_batch(spark, d), "user_id",
                             ["ts", "event_id"], "value").collect())
    assert got == want and want, (got, want)
    # user 2's leading all-null window has NO defined EWMA on either
    # side (and ANSI mode must not crash the batch twin's division)
    assert (2, 100, None, 0, None) in got


def test_record_high_stream_nulls_match_window(spark, tmp_path):
    d = _stage(tmp_path, [CHUNK_A, CHUNK_B])
    got = {(r.user_id, r.event_id, r.value)
           for r in run_to_memory(
               record_high_stream(_read_stream(spark, d)),
               "append").collect()}
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    batch = (_read_batch(spark, d)
             .withColumn("prev_max", F.max("value").over(w))
             .filter(F.col("value").isNotNull()
                     & (F.col("prev_max").isNull()
                        | (F.col("value") > F.col("prev_max")))))
    want = {(r.user_id, r.event_id, r.value) for r in batch.collect()}
    assert got == want and want, (got, want)
    # the null rows themselves never surface as record highs
    assert all(v is not None for _, _, v in got)


def test_running_user_stats_nulls_do_not_poison_state(spark, tmp_path):
    d = _stage(tmp_path, [CHUNK_A, CHUNK_B])
    out = {r.user_id: (r.n, r.vmax, r.last_us)
           for r in latest_emission(run_to_memory(
               running_user_stats(_read_stream(spark, d)),
               "update")).collect()}
    truth = {r.user_id: (r.n, r.vmax, r.last_us)
             for r in (_read_batch(spark, d).groupBy("user_id")
                       .agg(F.count(F.lit(1)).alias("n"),
                            F.max("value").alias("vmax"),
                            F.max(F.unix_micros("ts"))
                            .alias("last_us"))).collect()}
    assert out == truth
    # user 2's first micro-batch was ALL-null: vmax must be the later
    # chunk's max, not NaN-poisoned
    assert out[2][1] == 9.0


def test_brute_force_topk_empty_queries(spark):
    from kafka_connect_msk_demo_spark.pipeline.similarity import (
        brute_force_topk, queries_by_mod)
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 4)],
        "vec_id long, embedding array<double>")
    q = queries_by_mod(vecs, 1000)  # matches nothing
    out = brute_force_topk(vecs, q, k=2, dim=2)
    assert out.count() == 0
    assert out.columns == ["q_id", "vec_id", "cos", "rank"]
