"""SchemaCatalog — the engine's local, network-free schema registry.

The reference fetches Avro schemas from an Apicurio registry over REST at
job start (``pyspark_scripts/10_create_schemas.py:77-118``,
``11_incremental_sales_avro.py:112-119``, ``12:150-157``) and converts
Avro JSON → StructType by reading an empty Avro source
(``11:98-109``). Our engine replaces that with an in-process catalog:
named StructTypes plus the equivalent Avro-JSON strings, no network and
no dummy reads (``T.StructType`` is authored directly).

Also provides the table loader for the deterministic parquet test
tables (``/root/testdata/sf*``), always with explicit schemas-on-read
semantics: parquet is self-describing, CSV entries pass ``schema=``
and never infer, mirroring the reference's discipline (SURVEY.md §1.3).
"""

from __future__ import annotations

import json
import logging
import os
import tempfile
import time
from functools import lru_cache
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import env_int

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Reference-domain schemas (SURVEY.md §1 / FIXTURES.md).
# ---------------------------------------------------------------------------

#: Core fact stream (reference: 01_seed_sales_kafka.py:36-44 decoded form
#: 02_batch_read_kafka.py:66-74; Avro registry form 10_create_schemas.py:48-57)
SALES = T.StructType([
    T.StructField("payment_id", T.IntegerType(), False),
    T.StructField("customer_id", T.IntegerType(), False),
    T.StructField("amount", T.FloatType(), False),
    T.StructField("payment_date", T.TimestampType(), False),
    T.StructField("city", T.StringType(), True),
    T.StructField("district", T.StringType(), True),
    T.StructField("country", T.StringType(), False),
])

#: Static dimension (reference: 08_streaming_read_kafka_join_window.py:67-70)
SALES_REGIONS = T.StructType([
    T.StructField("country", T.StringType(), False),
    T.StructField("region", T.StringType(), False),
])

#: Aggregated output topic (reference: 10_create_schemas.py:65-74,
#: 07_batch_read_kafka.py:36-42)
SALES_SUMMARY = T.StructType([
    T.StructField("region", T.StringType(), False),
    T.StructField("sales", T.FloatType(), False),
    T.StructField("orders", T.IntegerType(), False),
    T.StructField("window_start", T.LongType(), False),
    T.StructField("window_end", T.LongType(), False),
])

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

#: Flattened (post-unwrap) Debezium CDC record for the artists table
#: (reference: avro_samples envelope header + SMT config
#: debezium_avro_source_connector_postgresql_06.json:19-24; FIXTURES.md §5).
CDC_ARTISTS = T.StructType([
    T.StructField("artist_id", T.IntegerType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("nationality", T.StringType(), True),
    T.StructField("gender", T.StringType(), True),
    T.StructField("birth_year", T.IntegerType(), True),
    T.StructField("death_year", T.IntegerType(), True),
    T.StructField("__op", T.StringType(), False),
    T.StructField("__db", T.StringType(), True),
    T.StructField("__table", T.StringType(), True),
    T.StructField("__schema", T.StringType(), True),
    T.StructField("__lsn", T.LongType(), True),
    T.StructField("__source_ts_ms", T.LongType(), False),
    T.StructField("__deleted", T.StringType(), True),
])

#: Debezium envelope (pre-unwrap): before/after/source/op/ts_ms
#: (reference: avro_samples/moma.public.artists+0+0000000000.avro header).
def debezium_envelope(record_schema: T.StructType) -> T.StructType:
    source = T.StructType([
        T.StructField("db", T.StringType(), True),
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("ts_ms", T.LongType(), False),
    ])
    return T.StructType([
        T.StructField("before", record_schema, True),
        T.StructField("after", record_schema, True),
        T.StructField("source", source, False),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts_ms", T.LongType(), False),
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


class SchemaCatalog:
    """Named schemas: artifact-id → (StructType, Avro JSON).

    Mirrors the artifact ids the reference registers in Apicurio
    (``10_create_schemas.py:21-74``) but resolves locally.
    """

    _BUILTINS: dict[str, T.StructType] = {
        "pagila.sales": SALES,
        "pagila.sales.regions": SALES_REGIONS,
        "pagila.sales.summary": SALES_SUMMARY,
        "kafka.envelope": KAFKA_ENVELOPE,
        "cdc.artists": CDC_ARTISTS,
        "cdc.artists.envelope": debezium_envelope(
            T.StructType(CDC_ARTISTS.fields[:6])),
    }

    def __init__(self) -> None:
        self._schemas = dict(self._BUILTINS)

    def register(self, artifact_id: str, schema: T.StructType) -> None:
        self._schemas[artifact_id] = schema

    def struct(self, artifact_id: str) -> T.StructType:
        return self._schemas[artifact_id]

    def avro_json(self, artifact_id: str) -> str:
        return struct_to_avro_json(artifact_id.replace(".", "_"),
                                   self._schemas[artifact_id])

    def ddl(self, artifact_id: str) -> str:
        return self._schemas[artifact_id].simpleString()[7:-1]

    def list(self) -> list[str]:
        return sorted(self._schemas)


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

#: deterministic id tiebreaks for the stream-staging sort (see
#: _stream_dir): tied event times must land in the same total order a
#: batch (ts, id)-ordered window uses
_STREAM_TIEBREAK: dict[str, tuple[str, ...]] = {
    "events": ("event_id",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
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
    same staleness stamp ``_stream_dir`` uses — so a testdata
    regeneration with a different encoding invalidates the memo instead
    of returning stale units to a long-lived process."""
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
    table's unique key (``_SPREAD_KEYS``; spreading a table without
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
        keys = _SPREAD_KEYS[name]
        par = spark.sparkContext.defaultParallelism
        if _scan_splits(path, par) < par:
            df = df.repartition(par, *[F.col(k) for k in keys])
    return df


#: unique row keys of the tables callers spread — high-cardinality
#: hash-repartition keys (unique => even spread, guide §2.5). Spreading
#: any other table raises ``KeyError``.
_SPREAD_KEYS: dict[str, tuple[str, ...]] = {
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


def _stream_dir(sf_dir: str, name: str, chunks: int | None = None) -> str:
    """The file-stream source requires a directory; testdata tables are
    single files. Stage a per-table directory of N parquet chunks under
    /tmp (testdata itself is read-only) so every streaming query runs
    genuinely incremental — a single-file stage would collapse any
    ``maxFilesPerTrigger`` into one micro-batch, never exercising state
    across batches.

    Tables with an event-time column are chunked in ascending event
    time (the realistic arrival order: watermarks advance monotonically
    across batches, so append-mode results stay equal to the batch
    answer — late-data DROPPING is exercised separately by the
    watermark tests with explicit out-of-order fixtures). A staleness
    stamp (source mtime+size+chunk count) makes restaging idempotent
    and safe across testdata regeneration."""
    chunks = chunks or STREAM_CHUNKS
    safe = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), "spark_graft_streams", safe,
                     f"{name}-c{chunks}")
    os.makedirs(d, exist_ok=True)
    target = f"{sf_dir}/{name}.parquet"
    st = os.stat(target)
    # v3: composite (ts, id) staging order + strictly increasing chunk
    # mtimes — bump on layout changes so previously staged dirs restage
    # instead of serving the old order
    stamp = f"{st.st_mtime_ns}:{st.st_size}:{chunks}:v3"
    marker = os.path.join(d, "_STAGED")

    def _staged() -> bool:
        try:
            with open(marker) as fh:
                return fh.read() == stamp
        except OSError:
            return False

    if _staged():
        return d
    # Concurrency: two processes (pytest-xdist workers) that both see a
    # stale/absent marker must not interleave the sweep with each
    # other's writes — a torn stage under the strictly-increasing-mtime
    # invariant is silently ORDER-corrupting, not merely duplicated.
    # Stage into a private temp dir and atomically rename into place,
    # serialized by an advisory flock on a PERSISTENT lock file. flock
    # is released by the kernel when the holder's fd closes — including
    # on SIGKILL — so there is no stale-lock state, no mtime-based
    # breaking, and no unlink: the earlier O_EXCL-create/stale-break/
    # unlink protocol had TOCTOU races on every one of those edges
    # (a breaker could delete a freshly re-created lock; a slow holder
    # whose lock was stolen unlinked the new owner's lock in finally).
    # The lock file itself is never removed. /tmp is local, so NFS
    # flock caveats don't apply.
    # The lock path is PER-UID and 0o600 (ADVICE r8): only same-uid
    # workers can actually collide on the staged dir (it is created by
    # one uid; a foreign uid's write fails at makedirs regardless), so
    # a shared world-writable lock on a predictable /tmp path bought
    # no real cross-uid exclusion while letting any local user flock
    # it and stall staging indefinitely. O_NOFOLLOW refuses a
    # pre-planted symlink at the (still predictable, but now
    # uid-scoped) path.
    # Availability fallback: a pre-planted foreign-owned file (or
    # symlink — O_NOFOLLOW turns it into ELOOP) at the predictable
    # lock path must not crash staging forever. The lock's parent dir
    # is OURS (we makedirs'd it; a foreign-owned tree fails later at
    # makedirs regardless) and not sticky, so we may unlink a PLANTED
    # entry and retry. ADVICE r9: the fallback must never unlink a
    # same-uid regular file — that is another worker's freshly
    # recreated lock, and unlinking it re-opens the unlink TOCTOU the
    # flock protocol exists to close (two workers holding flocks on
    # different inodes of the same path = interleaved staging). So the
    # recovery is errno-scoped (ELOOP/EACCES/EPERM only — a transient
    # EMFILE/ENFILE must not delete a healthy lock someone else holds),
    # lstat-verified (only a symlink or a foreign-owned entry is ever
    # unlinked; a same-uid regular file means retry the open), and the
    # open->flock window is closed by an fstat/stat inode check after
    # the flock: if the path no longer names our inode, someone
    # replaced the entry while we waited — drop the fd and loop.
    lock = f"{d}.lock.{os.getuid()}"
    fd = _open_staging_lock(lock)
    try:
        if _staged():
            return d
        import shutil
        tmp = f"{d}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write_chunks(target, name, chunks, tmp)
        with open(os.path.join(tmp, "_STAGED"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    finally:
        os.close(fd)  # releases the flock; the lock file persists
    return d


def _open_staging_lock(lock: str, attempts: int = 16) -> int:
    """Open + flock the per-uid staging lock, returning a locked fd
    whose inode is verified to still be what ``lock`` names.

    Recovery discipline (ADVICE r9):

    * Only errno ELOOP (O_NOFOLLOW hit a planted symlink), EACCES or
      EPERM enter the recovery path. Anything else — EMFILE, ENFILE,
      ENOSPC, ... — is transient or environmental and must NOT unlink
      a healthy lock another worker may be holding; it propagates.
    * Recovery lstats the path and unlinks ONLY a symlink or a
      foreign-owned entry. A same-uid regular file is another worker's
      just-recreated lock: retry the open instead of unlinking it.
    * After flock, os.fstat(fd).st_ino is compared against
      os.stat(lock).st_ino: a mismatch means the directory entry was
      replaced while we waited for the lock (our flock serializes
      nothing), so the fd is dropped and the open retried.
    * Attempts after the first back off exponentially (1 ms doubling
      to ~100 ms, ADVICE r10) — without it an active symlink-replant
      race burns the whole attempts budget in microseconds, and the
      unrecoverable same-uid EACCES case just spins 16 tight opens.
    """
    import errno
    import fcntl
    import time

    flags = os.O_CREAT | os.O_RDWR | os.O_NOFOLLOW
    last: OSError | None = None
    for attempt in range(attempts):
        if attempt:
            time.sleep(min(0.1, 0.001 * (1 << min(attempt - 1, 7))))
        try:
            fd = os.open(lock, flags, 0o600)
        except OSError as e:
            last = e
            if e.errno not in (errno.ELOOP, errno.EACCES, errno.EPERM):
                raise
            try:
                st = os.lstat(lock)
            except FileNotFoundError:
                continue  # entry vanished — plain retry
            except OSError as e2:
                last = e2
                continue
            import stat as _stat
            if _stat.S_ISLNK(st.st_mode) or st.st_uid != os.getuid():
                try:  # planted symlink / foreign file: safe to clear
                    os.unlink(lock)
                except OSError as e2:
                    last = e2
            # same-uid regular file: another worker's lock — never
            # unlink; fall through and retry the open
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            if os.fstat(fd).st_ino == os.stat(lock).st_ino:
                return fd
            # entry replaced behind us; our flock is on a dead inode
            os.close(fd)
        except OSError as e:
            last = e
            os.close(fd)
    raise RuntimeError(
        f"staging lock {lock!r} is unusable after {attempts} attempts "
        f"(pre-planted entry not owned by uid {os.getuid()}, or the "
        f"path keeps being replaced): {last}"
    ) from last


def _write_chunks(target: str, name: str, chunks: int, d: str) -> None:
    """Write the ordered, mtime-stamped chunk files into ``d``."""
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
        tiebreak = [c for c in _STREAM_TIEBREAK.get(name, ())
                    if c in t.column_names]
        t = t.sort_by([(order_col, "ascending")]
                      + [(c, "ascending") for c in tiebreak])
    n = max(1, min(chunks, t.num_rows or 1))
    step = -(-max(t.num_rows, 1) // n)
    # FileStreamSource orders pending files by modification time in
    # MILLISECONDS; four small chunks written back-to-back land in the
    # same millisecond and the tie order is whatever the directory
    # listing yields — micro-batches can then deliver chunk 2 before
    # chunk 1, silently re-ordering the event-time fold that the
    # stateful operators (and their batch-twin oracles) depend on.
    # Stamp strictly increasing whole-second mtimes so the source's
    # ascending modTime sort IS the staged chunk order.
    base = int(time.time()) - n - 1
    for i in range(n):
        part = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(t.slice(i * step, step), part)
        os.utime(part, (base + i, base + i))


def stream_table(spark: SparkSession, sf_dir: str, name: str,
                 max_files_per_trigger: int | None = 1) -> DataFrame:
    """The same table as an unbounded stream (file-stream source standing
    in for a Kafka topic, SURVEY.md §2.1 S3 test mapping).

    Defaults to one staged chunk per micro-batch (``maxFilesPerTrigger=1``
    over :data:`STREAM_CHUNKS` chunks) so an availableNow drain executes
    multiple real IncrementalExecution rounds — state restore/save and
    watermark advancement across batches, not a single-batch simulation.
    Pass ``max_files_per_trigger=None`` for a one-batch read."""
    path = _stream_dir(sf_dir, name)
    source = f"{sf_dir}/{name}.parquet"
    # schema selection keys on _RAW_FIELDS (the explicit-schema table
    # set), unit conversion on _TS_COLUMNS; a module-level assertion
    # pins the two key sets equal so membership checks can't diverge
    if name in _RAW_FIELDS:
        schema = raw_schema(name)
    else:
        schema = spark.read.parquet(source).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    df = reader.load(path)
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
