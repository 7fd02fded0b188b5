"""Schemas and table loaders — the engine's explicit-schema catalog.

The reference converts Avro JSON → StructType by reading an empty Avro
source (``11_incremental_sales_avro.py:98-109``). Here the StructTypes
are authored directly and :func:`struct_to_avro_json` derives the Avro
JSON, no dummy reads; the registry's artifact lifecycle lives in
``sources/registry.py``.

Also provides the table loader for the deterministic parquet test
tables (``/root/testdata/sf*``), always with explicit schemas-on-read
semantics: parquet is self-describing, CSV entries pass ``schema=``
and never infer, mirroring the reference's discipline (SURVEY.md §1.3).

Every temporary file of the package lives under one scratch root per
process (:func:`_scratch_dir`), removed when the interpreter exits.
"""

from __future__ import annotations

import atexit
import json
import logging
import os
import shutil
import tempfile
from functools import cache, lru_cache
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import env_int
from .streaming.runner import file_stream, stamp_arrival_order

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Reference-domain schemas (SURVEY.md §1 / FIXTURES.md).
# ---------------------------------------------------------------------------

#: Kafka transport envelope, as produced by the Kafka source (FIXTURES.md §4).
#: A parquet table with these columns lets any pipeline run against a file
#: source standing in for a topic.
KAFKA_ENVELOPE = T.StructType([
    T.StructField("key", T.BinaryType(), True),
    T.StructField("value", T.BinaryType(), False),
    T.StructField("topic", T.StringType(), True),
    T.StructField("partition", T.IntegerType(), True),
    T.StructField("offset", T.LongType(), True),
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("timestampType", T.IntegerType(), True),
])


def _avro_field(f: T.StructField) -> dict:
    mapping = {
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.StringType(): "string",
        T.BinaryType(): "bytes",
        T.BooleanType(): "boolean",
    }
    if isinstance(f.dataType, T.TimestampType):
        avro_t: object = {"type": "long", "logicalType": "timestamp-millis"}
    else:
        avro_t = mapping.get(f.dataType, "string")
    if f.nullable:
        avro_t = [avro_t, "null"] if not isinstance(avro_t, list) else avro_t
    return {"name": f.name, "type": avro_t}


def struct_to_avro_json(name: str, schema: T.StructType) -> str:
    """StructType → Avro record schema JSON (replaces the registry)."""
    return json.dumps({
        "type": "record",
        "name": name,
        "namespace": "kafka_connect_msk_demo_spark",
        "fields": [_avro_field(f) for f in schema.fields],
    })


# ---------------------------------------------------------------------------
# Test-table loading (driver-generated parquet star schema, TESTDATA.md).
#
# Timestamps are read as raw LONG in their storage unit and converted to
# TimestampType via timestamp_micros(). Rationale: (a) events.ts is
# TIMESTAMP(NANOS) which Spark's parquet converter rejects outright, and
# (b) reading through Spark's NTZ/LTZ inference makes epoch extraction
# depend on the caller's session config (spark.sql.parquet.inferTimestampNTZ,
# session timeZone). Raw-long + timestamp_micros pins the instant
# unambiguously regardless of who built the SparkSession.
# ---------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: timestamp columns per table → storage unit ("ms" | "us" | "ns")
_TS_COLUMNS: dict[str, dict[str, str]] = {
    "orders": {"o_orderdate": "ms"},
    "lineitem": {"l_shipdate": "ms"},
    "events": {"ts": "ns"},
}

#: explicit read schemas (timestamps as LongType) for tables that have them
_RAW_FIELDS: dict[str, list[tuple[str, T.DataType]]] = {
    "orders": [("o_orderkey", T.LongType()), ("o_custkey", T.LongType()),
               ("o_orderstatus", T.StringType()),
               ("o_totalprice", T.DoubleType()),
               ("o_orderdate", T.LongType()),
               ("o_orderpriority", T.StringType())],
    "lineitem": [("l_orderkey", T.LongType()), ("l_partkey", T.LongType()),
                 ("l_suppkey", T.LongType()), ("l_linenumber", T.IntegerType()),
                 ("l_quantity", T.DoubleType()),
                 ("l_extendedprice", T.DoubleType()),
                 ("l_discount", T.DoubleType()), ("l_tax", T.DoubleType()),
                 ("l_returnflag", T.StringType()),
                 ("l_linestatus", T.StringType()),
                 ("l_shipdate", T.LongType())],
    "events": [("event_id", T.LongType()), ("ts", T.LongType()),
               ("user_id", T.LongType()), ("event_type", T.StringType()),
               ("value", T.DoubleType()), ("props", T.StringType())],
}

_UNIT_TO_MICROS = {"s": 1_000_000, "ms": 1000, "us": 1,
                   "ns": None}  # ns divides instead

# the raw-schema table set and the ts-unit table set must stay in sync:
# stream_table picks its explicit schema by _RAW_FIELDS membership and
# its units by _TS_COLUMNS — a table added to one but not the other
# would silently fall back to inference or skip conversion. A real
# raise, not `assert`: python -O must not strip the guard.
if _RAW_FIELDS.keys() != _TS_COLUMNS.keys():
    raise RuntimeError(
        f"_RAW_FIELDS/_TS_COLUMNS key sets diverged: "
        f"{sorted(_RAW_FIELDS)} vs {sorted(_TS_COLUMNS)}")


def raw_schema(name: str) -> T.StructType:
    """Explicit read schema for a timestamped table: event-time columns
    as LONG (raw storage integers), everything else self-typed. Reading
    a parquet ``timestamp[ms|us|ns]`` column as LongType yields the
    underlying epoch integer unchanged, so this one schema covers both
    the raw-int64 encoding (round-2 testdata) and the native timestamp
    encoding (round-3 testdata)."""
    return T.StructType([T.StructField(c, t, True)
                         for c, t in _RAW_FIELDS[name]])


def _storage_units(path: str, name: str) -> tuple[tuple[str, str], ...]:
    """Per event-time column, the unit its raw int64 is denominated in,
    read from the parquet footer: ``timestamp[unit]`` columns carry
    their unit; plain int64 columns fall back to the documented legacy
    unit in :data:`_TS_COLUMNS`. Memoized on (path, mtime, size) — the
    source stamp that also keys each ``_stream_dir`` stage — so a
    testdata regeneration with a different encoding invalidates the
    memo instead of returning stale units to a long-lived process."""
    st = os.stat(path)
    return _storage_units_cached(path, name, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=None)
def _storage_units_cached(path: str, name: str, mtime_ns: int,
                          size: int) -> tuple[tuple[str, str], ...]:
    import pyarrow.parquet as pq
    schema = pq.read_schema(path)
    out = []
    for c, legacy in _TS_COLUMNS[name].items():
        unit = getattr(schema.field(c).type, "unit", None)
        out.append((c, unit if unit in _UNIT_TO_MICROS else legacy))
    return tuple(out)


def finalize_timestamps(df: DataFrame, name: str,
                        units: dict[str, str]) -> DataFrame:
    """Convert raw long event-time columns to TimestampType at micro
    precision (nanos truncate, matching DuckDB's ``epoch_us``).

    ``units`` is REQUIRED and should come from :func:`_storage_units`
    (footer-derived) — an earlier optional fallback to the hardcoded
    legacy :data:`_TS_COLUMNS` units silently produced instants off by
    1000× once the round-3 testdata regeneration switched storage from
    raw int64 ns/ms to ``timestamp[us]``.

    The conversion goes through ``timestamp_micros(absolute_us)``, i.e.
    the stored integer IS the absolute epoch — deliberately independent
    of ``spark.sql.session.timeZone``, so a driver session pinned to
    any zone computes the same instants the DuckDB oracle does
    (``epoch_us`` over a naive read). Integer arithmetic only: double
    division would lose precision on epoch-nanos (> 2^53)."""
    ts_cols = dict(units)
    cols = []
    for f in df.schema.fields:
        c = f.name
        if c in ts_cols and isinstance(f.dataType, T.LongType):
            mult = _UNIT_TO_MICROS[ts_cols[c]]
            us = (F.col(c) * mult) if mult else F.expr(f"`{c}` div 1000")
            cols.append(F.timestamp_micros(us.cast("long")).alias(c))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def load_table(spark: SparkSession, sf_dir: str, name: str,
               spread: bool = False) -> DataFrame:
    """Read one deterministic parquet table with unambiguous timestamps.

    Tables without timestamp columns read self-described; tables with
    them read through an explicit long-typed schema (which surfaces the
    raw epoch integers regardless of whether storage is plain int64 or
    native ``timestamp[unit]``) and convert to TimestampType at micro
    precision, with the unit taken from the parquet footer. Column
    order and names are preserved, so downstream operators see the
    documented TESTDATA.md shape. Projection/filter pushdown still
    reaches the scan (the conversion is a Project on top).

    ``spread=True`` opts a SCAN-STAGE-COMPUTE-HEAVY consumer into the
    unsplittable-input fix (optimization guide §2.5): parquet's atomic
    read unit is the row group, and the deterministic testdata ships
    every table as ONE row group — so the scan stage (and everything
    Spark fuses into it: projections, partial aggregation, explodes,
    Arrow kernel feeds) runs as ONE task no matter how many cores the
    session has. When — and only when — the layout cannot feed the
    session's parallelism, the frame is hash-repartitioned on the
    table's unique key (``_ROW_KEYS``; spreading a table without
    one raises ``KeyError``) to ``defaultParallelism`` partitions. On a
    production layout (row groups >> cores) the condition is false and
    this is a literal no-op, so no extra corpus-scale exchange ever
    ships at 100 TB; the key-hash repartition avoids round-robin's
    sort-before-repartition pass and is deterministic under task retry
    (guide §2.5's SPARK-38388 note).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name not in _TS_COLUMNS:
        df = spark.read.parquet(path)
    else:
        df = spark.read.schema(raw_schema(name)).parquet(path)
        df = finalize_timestamps(df, name, dict(_storage_units(path, name)))
    if spread:
        keys = _ROW_KEYS[name]
        par = spark.sparkContext.defaultParallelism
        if _scan_splits(path, par) < par:
            df = df.repartition(par, *[F.col(k) for k in keys])
    return df


#: unique row keys: the hash-repartition keys of ``spread=True``
#: (unique => even spread, guide §2.5; spreading any other table raises
#: ``KeyError``) and the id tiebreaks of the stream-staging sort, so
#: tied event times land in the same total order a batch (ts, id)-
#: ordered window uses
_ROW_KEYS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
}


#: non-local paths ``spread=True`` has already warned about
_REMOTE_WARNED: set[str] = set()


def _scan_splits(path: str, cap: int) -> int:
    """How many parallel read tasks this parquet layout can actually
    feed — the row-group count summed across files, short-circuited at
    ``cap`` (a layout that can already feed every core needs no
    inspection beyond that). Footer metadata only; milliseconds, and
    memoized on every file's (mtime, size), so a layout rewritten in
    place is inspected again.

    The footers are read with local file APIs: a non-local path reports
    ``cap``, which turns ``spread`` into a no-op, and logs one warning
    saying so."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        if path not in _REMOTE_WARNED:
            _REMOTE_WARNED.add(path)
            _log.warning("load_table(spread=True) is a no-op on non-local "
                         "path %s: its parquet footers are not inspected",
                         path)
        return cap
    path = url.path if url.scheme else path
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))
                 if f.endswith(".parquet")]
    else:
        files = [path]
    if len(files) >= cap:
        return cap
    stamp = []
    for f in files:
        st = os.stat(f)
        stamp.append((f, st.st_mtime_ns, st.st_size))
    return _row_groups(tuple(stamp), cap)


@lru_cache(maxsize=None)
def _row_groups(stamp: tuple[tuple[str, int, int], ...], cap: int) -> int:
    import pyarrow.parquet as pq

    total = 0
    for f, _, _ in stamp:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:  # unreadable footer: assume splittable
            return cap
        if total >= cap:
            return cap
    return total


#: how many file chunks a staged stream table is split into; with
#: ``maxFilesPerTrigger=1`` this is the number of genuine micro-batches
#: an availableNow drain executes (state restore/save per batch).
STREAM_CHUNKS = env_int("SPARK_GRAFT_STREAM_CHUNKS", 4)


@cache
def _scratch_root(pid: int) -> str:
    root = tempfile.mkdtemp(prefix="registry_scratch_")
    atexit.register(_remove_scratch, root, pid)
    return root


def _remove_scratch(root: str, pid: int) -> None:
    if os.getpid() == pid:  # a forked child inherits the exit hook
        shutil.rmtree(root, ignore_errors=True)


def _scratch_dir(prefix: str) -> str:
    """A fresh directory for the package's temporary files (staged
    streams and registry inputs, checkpoints, oracle spill), under one
    root per process that is removed when the interpreter exits: the
    frames that read those files do so lazily, so they cannot go any
    sooner."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root(os.getpid()))


def _stream_dir(sf_dir: str, name: str, chunks: int | None = None) -> str:
    """The file-stream source requires a directory; testdata tables are
    single files. Stage a per-table directory of N parquet chunks in
    this process's scratch root (testdata itself is read-only) so every
    streaming query runs genuinely incremental — a single-file stage
    would collapse any ``maxFilesPerTrigger`` into one micro-batch,
    never exercising state across batches.

    Tables with an event-time column are chunked in ascending event
    time (the realistic arrival order: watermarks advance monotonically
    across batches, so append-mode results stay equal to the batch
    answer — late-data DROPPING is exercised separately by the
    watermark tests with explicit out-of-order fixtures).

    A process stages each (source, chunk count) once and never
    rewrites a stage, like the input files a file source lists: the
    memo is keyed on the source's mtime and size, so a regenerated
    source gets a new directory and a reader of the old one keeps it
    whole until the process exits. Another process stages its own."""
    chunks = chunks or STREAM_CHUNKS
    target = f"{sf_dir}/{name}.parquet"
    st = os.stat(target)
    return _stage(os.getpid(), target, name, chunks, st.st_mtime_ns,
                  st.st_size)


@cache
def _stage(pid: int, target: str, name: str, chunks: int, mtime_ns: int,
           size: int) -> str:
    d = _scratch_dir(f"{name}-")
    _write_chunks(target, name, chunks, d)
    return d


def _write_chunks(target: str, name: str, chunks: int, d: str) -> None:
    """Write the ordered chunk files into ``d`` in arrival order."""
    import pyarrow.parquet as pq
    t = pq.read_table(target)
    order_col = next(iter(_TS_COLUMNS.get(name, {})), None)
    if order_col is not None:
        # composite (ts, id) order: a ts-only stable sort preserves the
        # FILE order of tied-ts rows, so a chunk boundary between two
        # tied rows with out-of-order ids would deliver them to
        # stateful operators in a different order than a batch
        # (ts, id)-ordered window sees — the id tiebreak pins both
        # sides to the same total order
        tiebreak = [c for c in _ROW_KEYS.get(name, ())
                    if c in t.column_names]
        t = t.sort_by([(order_col, "ascending")]
                      + [(c, "ascending") for c in tiebreak])
    n = max(1, min(chunks, t.num_rows or 1))
    step = -(-max(t.num_rows, 1) // n)
    parts = [os.path.join(d, f"part-{i:05d}.parquet") for i in range(n)]
    for i, part in enumerate(parts):
        pq.write_table(t.slice(i * step, step), part)
    stamp_arrival_order(parts)


def stream_table(spark: SparkSession, sf_dir: str, name: str,
                 max_files_per_trigger: int | None = 1) -> DataFrame:
    """The same table as an unbounded stream (file-stream source standing
    in for a Kafka topic, SURVEY.md §2.1 S3 test mapping).

    Defaults to one staged chunk per micro-batch (``maxFilesPerTrigger=1``
    over :data:`STREAM_CHUNKS` chunks) so an availableNow drain executes
    multiple real IncrementalExecution rounds — state restore/save and
    watermark advancement across batches, not a single-batch simulation.
    Pass ``max_files_per_trigger=None`` for a one-batch read.

    The chunks live in this process's scratch root (:func:`_stream_dir`)
    and go when the interpreter exits, so a checkpoint over the stream
    resumes only in the process that staged it. A process that ends by
    ``os._exit`` or a signal (a ``multiprocessing`` fork child ends by
    ``os._exit``) skips the exit hook and leaves its root behind."""
    path = _stream_dir(sf_dir, name)
    source = f"{sf_dir}/{name}.parquet"
    # schema selection keys on _RAW_FIELDS (the explicit-schema table
    # set), unit conversion on _TS_COLUMNS; a module-level check
    # pins the two key sets equal so membership checks can't diverge
    if name in _RAW_FIELDS:
        schema = raw_schema(name)
    else:
        schema = spark.read.parquet(source).schema
    df = file_stream(spark, path, schema,
                     max_files_per_trigger=max_files_per_trigger)
    # staged chunks are pyarrow rewrites of the source table, so the
    # source footer's storage units apply to them unchanged
    return finalize_timestamps(df, name, dict(_storage_units(source, name))) \
        if name in _TS_COLUMNS else df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so ``spark.sql`` queries (the reference's
    interactive SQL plane, SURVEY.md §0.4) run over the same tables."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
