"""File sources & sinks — CSV (S1/S9), Avro container files (S10), and
the rotating object sink (S13).

Reference parity:

* S1 — every reference pipeline seeds from schema-explicit CSV:
  ``spark.read.csv(path, schema=..., header=True, sep="|")``
  (``01_seed_sales_kafka.py:46-48``; ``,``-separated variant
  ``08_streaming_read_kafka_join_window.py:72-74``; generic util
  ``11_incremental_sales_avro.py:88-95``). Schemas are ALWAYS passed —
  never inferred (SURVEY.md §1.3); :func:`read_csv` enforces that.
* S9 — CSV sink (``02_batch_read_kafka.py:100-104``; note the
  reference's ``.mode("overwrite")`` after ``.csv()`` bug — here the
  mode is applied before the write, i.e. the intended semantics).
* S10 — Avro-on-S3 file source (DeltaStreamer ``AvroDFSSource``,
  ``hudi/debezium_hudi_demo/deltastreamer_jobs_bulk.sh:15``). With the
  spark-avro jar absent, :func:`write_avro`/:func:`read_avro` implement
  the Avro **Object Container File** format over the engine's pure
  binary codec: the sink writes one OCF per partition from the
  executors (``foreachPartition`` — no driver collect), the source
  reads via Spark's distributed ``binaryFile`` reader + an
  Arrow-batched parser. On a jar-equipped cluster
  ``spark.read.format("avro")`` replaces both transparently.
* S13 — size/time-based object rotation (``s3_sink_connector_00.json:9-10``
  ``flush.size`` + ``rotate.schedule.interval.ms``): ``flush.size`` maps
  to ``maxRecordsPerFile`` (per-task file split), the rotate interval to
  the streaming ``processingTime`` trigger.
"""

from __future__ import annotations

import io
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import tablelog
from ..serde import avro_encode_block as _avro_encode_block
from ..serde import avro_encode_rows  # noqa: F401 (re-exported for tests)
from ..serde import _zigzag_decode
from ..serde import _zigzag_encode as _zigzag

# ---------------------------------------------------------------------------
# CSV (S1 / S9)
# ---------------------------------------------------------------------------


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             sep: str = "|", header: bool = True) -> DataFrame:
    """S1: schema-explicit CSV scan. ``schema`` is mandatory by design —
    inference is nondeterministic and re-reads the data."""
    return (spark.read.schema(schema)
            .option("header", str(header).lower())
            .option("sep", sep)
            .csv(path))


def write_csv(df: DataFrame, path: str, sep: str = "|",
              header: bool = True, mode: str = "overwrite",
              single_file: bool = False) -> None:
    """S9: CSV sink. ``single_file`` reproduces the reference's
    ``coalesce(1)`` habit (O6) — keep it off for big outputs."""
    out = df.coalesce(1) if single_file else df
    (out.write.mode(mode)
     .option("header", str(header).lower())
     .option("sep", sep)
     .csv(path))


# ---------------------------------------------------------------------------
# Avro Object Container Files (S10) — no-jar implementation
# ---------------------------------------------------------------------------

_OCF_MAGIC = b"Obj\x01"
#: deterministic sync marker (OCF requires 16 bytes; uniqueness across
#: files is only needed to detect corrupt concatenation, which the
#: engine's own files never do)
_SYNC = b"spark-graft-sync"


def _ocf_bytes(pdf: pd.DataFrame, avro_json: str) -> bytes:
    """One Avro OCF: header (magic, metadata map, sync) + one block."""
    buf = io.BytesIO()
    buf.write(_OCF_MAGIC)
    meta = {"avro.schema": avro_json, "avro.codec": "null"}
    buf.write(_zigzag(len(meta)))
    for k, v in meta.items():
        kb, vb = k.encode(), v.encode()
        buf.write(_zigzag(len(kb)) + kb)
        buf.write(_zigzag(len(vb)) + vb)
    buf.write(_zigzag(0))  # end of metadata map
    buf.write(_SYNC)
    body = _avro_encode_block(pdf, avro_json)
    buf.write(_zigzag(len(pdf)))
    buf.write(_zigzag(len(body)))
    buf.write(body)
    buf.write(_SYNC)
    return buf.getvalue()


def _ocf_parse(blob: bytes) -> tuple[str, list[bytes], list[int]]:
    """OCF → (schema json, block payloads, per-block record counts)."""
    if blob[:4] != _OCF_MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _zigzag_decode(blob, pos)
        if n == 0:
            break
        if n < 0:
            # Avro spec: a negative map-block count is followed by a
            # long byte-size of the block; the item count is abs(n).
            _, pos = _zigzag_decode(blob, pos)
            n = -n
        for _ in range(n):
            kl, pos = _zigzag_decode(blob, pos)
            k = blob[pos:pos + kl].decode()
            pos += kl
            vl, pos = _zigzag_decode(blob, pos)
            meta[k] = blob[pos:pos + vl]
            pos += vl
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b"", b"deflate"):
        raise ValueError(
            f"unsupported Avro codec {codec!r}: this pure-Python OCF "
            "reader handles null and deflate codecs — read snappy/"
            "zstandard files with spark-avro instead")
    inflate = None
    if codec == b"deflate":
        # Avro deflate = RFC 1951 raw DEFLATE (no zlib header/checksum)
        import zlib

        def inflate(raw: bytes) -> bytes:
            return zlib.decompress(raw, wbits=-15)
    sync = blob[pos:pos + 16]
    pos += 16
    payloads = []
    counts = []
    while pos < len(blob):
        cnt, pos = _zigzag_decode(blob, pos)
        size, pos = _zigzag_decode(blob, pos)
        body = blob[pos:pos + size]
        payloads.append(inflate(body) if inflate else body)
        counts.append(cnt)
        pos += size
        if blob[pos:pos + 16] != sync:
            raise ValueError(f"Avro sync marker mismatch at byte {pos}")
        pos += 16
    return meta["avro.schema"].decode(), payloads, counts


def write_avro(df: DataFrame, path: str, avro_json: str) -> None:
    """S10 sink: one OCF per partition, written from the executors.

    Local/NFS paths only in this container (executor-side ``open``);
    with spark-avro deployed use ``df.write.format("avro")`` instead.
    Files written here are null-codec (uncompressed) OCFs, readable by
    any Avro implementation; the reader below accepts null-codec files
    only (spark-avro's default output is snappy — re-encode or read
    those with spark-avro itself)."""
    from ..serde import _as_wire_types

    os.makedirs(path, exist_ok=True)
    # timestamps cross as epoch-ms longs (timestamp-millis wire form) —
    # exact in any session timezone
    wire = df.select(*_as_wire_types(df, df.columns))

    def _write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow-batched (a foreachPartition formulation moves the rows
        # as pickled Row objects — measurably slower); one OCF per task
        from pyspark import TaskContext
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pid = TaskContext.get().partitionId()
        pdf = pd.concat(parts, ignore_index=True)
        fname = os.path.join(path, f"part-{pid:05d}.avro")
        with open(fname, "wb") as f:
            f.write(_ocf_bytes(pdf, avro_json))
        yield pd.DataFrame({"path": [fname], "rows": [len(pdf)]})

    # collect the tiny (path, rows) manifest — one row per written file
    wire.mapInPandas(_write_part, "path string, rows long").collect()


def read_avro(spark: SparkSession, path: str, avro_json: str,
              schema: T.StructType,
              resolve: bool = False) -> DataFrame:
    """S10 source: distributed ``binaryFile`` scan + Arrow-batched OCF
    parse (one Python crossing per file, not per row).

    With ``resolve=True`` each file's embedded WRITER schema is
    resolved against ``avro_json`` as the READER schema (Avro schema
    resolution: field matching by name, numeric/string-bytes
    promotions, writer-only fields skipped, reader-only fields take
    their defaults) — a directory of OCF files written across a
    schema's lifetime reads as one uniform frame. Without it, files
    decode against their own schema and must already match."""
    from ..serde import _millis_wire

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.avro").load(path)
             .select("content"))
    wire, restore = _millis_wire(schema)
    reader = avro_json if resolve else None

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..serde import avro_decode_block
        for pdf in batches:
            for blob in pdf["content"]:
                # decode against the file's own embedded schema
                # (schema-on-read; the caller schema types the output)
                file_schema, payloads, counts = _ocf_parse(bytes(blob))
                yield avro_decode_block(b"".join(payloads), sum(counts),
                                        file_schema, reader)

    return restore(files.mapInPandas(_parse, wire))


# ---------------------------------------------------------------------------
# Rotating object sink (S13)
# ---------------------------------------------------------------------------


def rotating_sink_batch(df: DataFrame, path: str, fmt: str = "parquet",
                        flush_size: int = 10000,
                        partition_by: str | None = None,
                        mode: str = "overwrite") -> None:
    """S13 batch form: ``flush.size`` → ``maxRecordsPerFile`` (each task
    rolls a new object every ``flush_size`` records — the S3 sink
    connector's size-based rotation)."""
    w = (df.write.mode(mode)
         .option("maxRecordsPerFile", str(flush_size)))
    if partition_by:
        w = w.partitionBy(partition_by)
    getattr(w, fmt)(path) if fmt in ("parquet", "json", "csv") \
        else w.format(fmt).save(path)


def rotating_sink_stream(sdf: DataFrame, path: str, checkpoint: str,
                         fmt: str = "parquet", flush_size: int = 10000,
                         rotate_interval: str | None = "60 seconds",
                         available_now: bool = False):
    """S13 streaming form: size rotation via ``maxRecordsPerFile``, time
    rotation via the processing-time trigger (the connector's
    ``rotate.schedule.interval.ms=60000``). Returns the started query."""
    writer = (sdf.writeStream.format(fmt)
              .option("path", path)
              .option("checkpointLocation", checkpoint)
              .option("maxRecordsPerFile", str(flush_size)))
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif rotate_interval:
        writer = writer.trigger(processingTime=rotate_interval)
    return writer.start()


# ---------------------------------------------------------------------------
# Manifest-commit table (exactly-once object sink)
# ---------------------------------------------------------------------------
# The S3 sink connector's exactly-once story is deterministic object
# names + atomic visibility. The same contract here, through the table
# log (tablelog.py): a commit writes its files named after the commit
# id, publishes the next log entry (the commit point), then deletes
# what that entry dropped. Readers see the whole commit or none of it;
# a crashed attempt's files are never named by an entry. Retrying a
# commit id drops that id's earlier files in the same entry.


@tablelog.retried
def manifest_commit(df: DataFrame, path: str, commit_id: str) -> list[str]:
    """Write ``df`` as one atomic, idempotent commit; returns the
    published file names (relative to ``path``, each starting with
    ``commit_id``). Re-running the same ``commit_id`` republishes
    (replaces) that commit rather than appending a duplicate."""
    spark = df.sparkSession
    snap = tablelog.snapshot(spark, path)
    add = tablelog.write(df, path, None, "base", commit_id)
    tablelog.commit(spark, path, snap, add,
                    [f for f in snap.files if f["commit"] == commit_id],
                    df.schema)
    return [f["path"] for f in add]


def read_manifested(spark: SparkSession, path: str,
                    schema: T.StructType | None = None) -> DataFrame:
    """Read ONLY the files the newest log entry names — uncommitted or
    orphan objects are invisible. ``schema`` defaults to the one the
    last commit logged."""
    snap = tablelog.snapshot(spark, path)
    if schema is None and snap.schema is None:
        raise ValueError("empty manifested table needs a schema")
    return tablelog.read(spark, path, snap, snap.files, schema)
