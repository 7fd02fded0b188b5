"""Streaming run harness — start, drain, and collect streaming queries.

The reference starts each stream with a processing-time trigger and
blocks on ``awaitTermination()`` (``03:84-93`` and five twins). For
deterministic tests and the driver's batch-style correctness gate we run
the same unbounded plans with ``trigger(availableNow=True)``: Spark
processes everything available in (possibly several) micro-batches
through the normal IncrementalExecution path — real state store, real
watermark advancement — then stops. A production deployment passes a
``processing_time`` trigger instead; the plan is unchanged.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def file_stream(spark: SparkSession, path: str, schema: T.StructType,
                fmt: str = "parquet",
                max_files_per_trigger: int | None = None) -> DataFrame:
    """S3-analog file stream source (stands in for a Kafka topic in
    tests, per SURVEY.md §2.1 S3). ``maxFilesPerTrigger`` splits the
    input into multiple micro-batches to exercise incremental state."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def stamp_arrival_order(paths: list[str]) -> None:
    """Give ``paths`` strictly increasing whole-second mtimes in the
    past, in list order. FileStreamSource orders pending files by
    MILLISECOND mtime, and files written back-to-back tie in listing
    order — a stream could deliver a later file first and re-order
    every stateful fold (and its batch-twin oracle) downstream."""
    base = int(time.time()) - len(paths) - 1
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def run_to_memory(df: DataFrame, output_mode: str = "complete",
                  query_name: str | None = None,
                  collect_progress: list | None = None) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table and return
    the final result as a batch DataFrame.

    This is the reference's console-sink shape (``03:84-91``) with the
    sink swapped for the inspectable memory sink; complete mode permits
    the reference's ``orderBy`` before the sink (§2.9 T3).

    Pass a list as ``collect_progress`` to receive the query's
    per-micro-batch progress dicts after termination (used by tests to
    assert genuinely incremental execution).
    """
    spark = df.sparkSession
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    q = (df.writeStream
         .format("memory")
         .queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    if collect_progress is not None:
        collect_progress.extend(q.recentProgress)
    return spark.table(name)


def run_foreach_batch(df: DataFrame, fn, checkpoint_dir: str,
                      output_mode: str = "update") -> None:
    """Run a stream through ``foreachBatch`` to completion — the MERGE
    writer path (§3.3). ``fn(batch_df, batch_id)``."""
    q = (df.writeStream
         .foreachBatch(fn)
         .outputMode(output_mode)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def kafka_sink(writer_df: DataFrame, bootstrap_servers: str, topic: str,
               checkpoint: str, processing_time: str | None = None,
               output_mode: str = "complete",
               query_name: str | None = None) -> DataStreamWriter:
    """S6 (06:105-112): Kafka streaming sink config builder. The input
    must already carry binary/string ``key``/``value`` columns. Returned
    unstarted so environments without the Kafka connector jar can still
    unit-test the configuration."""
    w = (writer_df.writeStream
         .format("kafka")
         .option("kafka.bootstrap.servers", bootstrap_servers)
         .option("topic", topic)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode))
    if query_name:
        w = w.queryName(query_name)
    if processing_time:
        w = w.trigger(processingTime=processing_time)
    else:
        w = w.trigger(availableNow=True)
    return w


def console_sink_batch(df: DataFrame, num_rows: int = 25,
                       truncate: bool = False) -> None:
    """S7 (02:93-98): batch console sink — debug only; the reference
    caps output with numRows, which maps to the console format's
    numRows option."""
    (df.write.format("console")
     .option("numRows", str(num_rows))
     .option("truncate", str(truncate).lower())
     .save())


def console_sink_stream(df: DataFrame, num_rows: int = 25,
                        truncate: bool = False,
                        output_mode: str = "complete",
                        query_name: str = "streaming_to_console",
                        processing_time: str | None = None):
    """S8 (03:84-91): streaming console sink; returns the started
    query (caller owns awaitTermination — T7)."""
    w = (df.writeStream.format("console")
         .option("numRows", str(num_rows))
         .option("truncate", str(truncate).lower())
         .outputMode(output_mode)
         .queryName(query_name))
    if processing_time:
        w = w.trigger(processingTime=processing_time)
    else:
        w = w.trigger(availableNow=True)
    return w.start()


def manifest_stream_sink(sdf: DataFrame, path: str,
                         checkpoint_dir: str) -> None:
    """Exactly-once streaming FILE sink: each micro-batch publishes
    through the manifest-commit table (sources/files.py) with the
    epoch id as the commit id. Idempotence comes from the commit-id
    keying, not the checkpoint: a replayed epoch (failure before the
    checkpoint write, or a rebuilt checkpoint over a deterministic
    source) REPLACES its earlier files in one table-log commit instead
    of appending a duplicate — the file-sink twin of the Kafka sink's
    transactional producer epoch."""
    from ..sources.files import manifest_commit

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        manifest_commit(batch_df, path, f"epoch-{batch_id:010d}")

    run_foreach_batch(sdf, _publish, checkpoint_dir=checkpoint_dir)
