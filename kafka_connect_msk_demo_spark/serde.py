"""Record en/decoding — the reference's serde operator family (§2.2).

* E1-E4 — binary↔string casts, ``from_json``/``to_json`` round trips.
* E5/E6 — Avro decode/encode. The reference uses
  ``pyspark.sql.avro.functions`` (``12:70``, ``11:76-77``), which needs
  the external spark-avro jar. This engine prefers those JVM functions
  when the jar is present and otherwise falls back to a pure-Python
  **Arrow-batched Pandas UDF** implementing the Avro binary encoding for
  the flat record schemas the catalog manages (int/long/float/double/
  string/boolean/bytes + nullable unions + timestamp-millis). The wire
  bytes are standard Avro binary — interoperable with any Avro reader
  given the same schema.

Scale note: JSON serde runs fully JVM-side (codegen'd). The Avro
fallback is Arrow-batched (thousands of rows per Python call), not
row-at-a-time; on a real cluster with spark-avro deployed the JVM path
is selected automatically.
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import struct as _struct

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# JSON (E1-E4)
# ---------------------------------------------------------------------------

#: microsecond-preserving timestamp format (Spark's to_json default is
#: millisecond ISO-8601, which silently truncates micros)
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_JSON_OPTS = {"timestampFormat": TS_FMT}


def encode_json(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """E4 (01:75-76): whole-row JSON envelope —
    ``key = CAST(key_col AS STRING)``, ``value = to_json(struct(*))``."""
    value = F.to_json(F.struct(*df.columns), _JSON_OPTS).alias("value")
    if key_col is None:
        return df.select(value)
    return df.select(F.col(key_col).cast("string").alias("key"), value)


def decode_json(df: DataFrame, schema: T.StructType,
                value_col: str = "value",
                keep: list[str] | None = None) -> DataFrame:
    """E1+E2+E3 (02:80-83): cast value to string, parse against the
    explicit schema, flatten ``data.*`` (plus optional envelope columns
    such as the Kafka ingest timestamp)."""
    parsed = df.withColumn(
        "data",
        F.from_json(F.col(value_col).cast("string"),
                    schema, _JSON_OPTS))
    return parsed.select("data.*", *(keep or []))


# ---------------------------------------------------------------------------
# Avro (E5/E6) — JVM functions when available, Pandas-UDF fallback otherwise.
# ---------------------------------------------------------------------------

_JVM_AVRO: bool | None = None  # memoized — probe once per process


def _jvm_avro_available(spark) -> bool:
    """True when the spark-avro jar is loadable. Memoized: the probe
    runs a tiny Spark job, so doing it per encode/decode call would add
    a job per operator invocation."""
    global _JVM_AVRO
    if _JVM_AVRO is None:
        try:
            from pyspark.sql.avro.functions import to_avro  # noqa: F401
            spark.range(1).select(
                to_avro(F.struct(F.lit(1).alias("x")))).collect()
            _JVM_AVRO = True
        except Exception:
            _JVM_AVRO = False
            logging.getLogger(__name__).warning(
                "spark-avro is not loadable: Avro encode/decode falls back"
                " to the Arrow-batched Python codec")
    return _JVM_AVRO


# -- pure-Python Avro binary codec (flat records only) ----------------------

def _zigzag_encode(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _parse_schema(avro_json: str) -> list[tuple[str, str, int | None]]:
    """Record schema → [(field, primitive_type, null_branch)].

    ``null_branch`` is the POSITION of "null" inside the union (None
    for non-nullable fields). Avro writes the union branch index on
    the wire, and real-world schemas use BOTH orders: this repo's
    generated schemas say ``[type, "null"]`` (null = 1) while
    Debezium/Connect artifacts say ``["null", type]`` (null = 0) — a
    hardcoded index mis-decodes one of the two (caught by the
    reference's own S3-sink OCF files in
    tests/test_reference_artifacts.py)."""
    rec = json.loads(avro_json)
    fields = []
    for f in rec["fields"]:
        t = f["type"]
        null_branch = None
        if isinstance(t, list):
            if len(t) != 2 or "null" not in t:
                raise NotImplementedError(
                    f"only 2-branch nullable unions supported: {t}")
            null_branch = t.index("null")
            t = t[1 - null_branch]
        if isinstance(t, dict):
            t = f"{t['type']}:{t.get('logicalType', '')}"
        fields.append((f["name"], t, null_branch))
    return fields


def _field_encoder(typ: str):
    """Per-field value→bytes closure — the type dispatch happens once
    per batch here instead of once per cell in the row loop."""
    if typ.startswith("long:timestamp-millis"):
        def _ts(val):
            # canonical wire form is epoch millis; datetime inputs are
            # converted, integer inputs pass through (the tz-robust
            # path: callers pre-convert via unix_millis)
            if isinstance(val, (pd.Timestamp, _dt.datetime)):
                return _zigzag_encode(pd.Timestamp(val).value // 1_000_000)
            return _zigzag_encode(int(val))
        return _ts
    if typ in ("int", "long") or typ.startswith("long:"):
        return lambda val: _zigzag_encode(int(val))
    if typ == "float":
        return _struct.Struct("<f").pack
    if typ == "double":
        return _struct.Struct("<d").pack
    if typ == "string":
        def _s(val):
            raw = str(val).encode("utf-8")
            return _zigzag_encode(len(raw)) + raw
        return _s
    if typ == "bytes":
        return lambda val: _zigzag_encode(len(val)) + bytes(val)
    if typ == "boolean":
        return lambda val: b"\x01" if val else b"\x00"
    raise NotImplementedError(f"avro type {typ}")


def _avro_encode_rows_py(rows: pd.DataFrame, avro_json: str) -> pd.Series:
    """Reference per-cell encoder (the pre-r12 implementation) — kept
    as the fallback for field shapes the vectorized path declines
    (e.g. ``bytes`` cells) and as the differential-test twin."""
    fields = _parse_schema(avro_json)
    per_field: list[list[bytes]] = []
    for i, (name, typ, null_branch) in enumerate(fields):
        enc = _field_encoder(typ)
        col = rows.iloc[:, i]
        if null_branch is not None:
            # union branch indexes follow the SCHEMA's declared order
            null_marker = _zigzag_encode(null_branch)
            val_marker = _zigzag_encode(1 - null_branch)
            per_field.append([
                null_marker if (val is None
                                or (isinstance(val, float)
                                    and pd.isna(val)))
                else val_marker + enc(val)
                for val in col])
        else:
            per_field.append([enc(val) for val in col])
    return pd.Series([b"".join(cells) for cells in zip(*per_field)])


# --- r12 vectorized encoder (guide §4.2: whole-batch numpy kernels) ---


def _vec_zigzag(v: "np.ndarray") -> "np.ndarray":
    """int64 → uint64 zigzag, bit-identical to ``_zigzag_encode``'s
    ``(n << 1) ^ (n >> 63)`` (uint64 wraparound == the arbitrary-
    precision result reduced mod 2^64 for int64 inputs)."""
    import numpy as np
    u = v.astype(np.uint64)
    return (u << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64)


def _vec_varint(zz: "np.ndarray"):
    """(flat uint8 buffer, per-value lengths) — Avro base-128 varints
    for a whole uint64 array: byte j of value i is
    ``(zz[i] >> 7j) & 0x7F`` with the continuation bit on every byte
    but the last, exactly the loop in ``_zigzag_encode``."""
    import numpy as np
    n = len(zz)
    nb = np.ones(n, dtype=np.int64)
    for t in range(1, 10):
        nb += zz >= (np.uint64(1) << np.uint64(7 * t))
    width = int(nb.max()) if n else 1
    B = np.empty((n, width), dtype=np.uint8)
    for j in range(width):
        B[:, j] = (((zz >> np.uint64(7 * j)) & np.uint64(0x7F))
                   | np.uint64(0x80)).astype(np.uint8)
    B[np.arange(n), nb - 1] &= 0x7F
    mask = np.arange(width)[None, :] < nb[:, None]
    return B[mask], nb  # row-major compaction keeps per-value order


def _vec_null_mask(col: pd.Series) -> "np.ndarray":
    """The exact null predicate of the per-cell encoder:
    ``val is None or (isinstance(val, float) and pd.isna(val))`` —
    deliberately NOT pd.isna (which would also nullify NaT)."""
    import numpy as np
    if col.dtype.kind == "f":
        return np.isnan(col.to_numpy())
    if col.dtype == object:
        return np.fromiter(
            (v is None or (isinstance(v, float) and v != v)
             for v in col), dtype=bool, count=len(col))
    return np.zeros(len(col), dtype=bool)


def _vec_field_segments(col: pd.Series, typ: str, null_branch):
    """[(flat uint8, per-row lengths)] segments for one field, or
    ``None`` when this field shape is not vectorized (caller falls
    back to the per-cell encoder for the whole batch). Byte-identical
    to ``_field_encoder`` by construction — every arithmetic step
    mirrors the per-cell closure (asserted in tests)."""
    import numpy as np
    n = len(col)
    isnull = _vec_null_mask(col)
    if null_branch is None and isnull.any():
        return None  # per-cell path would raise; let it
    segs = []
    if null_branch is not None:
        # both branch markers are single-byte varints (0 -> 0x00,
        # 1 -> 0x02), prepended per row
        marker = np.where(isnull, np.uint8(2 * null_branch),
                          np.uint8(2 * (1 - null_branch)))
        segs.append((marker.astype(np.uint8), np.ones(n, np.int64)))
    sub = col[~isnull] if isnull.any() else col

    def _expand(sub_lens, sub_flat):
        lens = np.zeros(n, dtype=np.int64)
        lens[~isnull] = sub_lens
        return sub_flat, lens

    if typ in ("int", "long") or typ.startswith("long:"):
        is_ts = typ.startswith("long:timestamp-millis")
        try:
            if sub.dtype.kind == "i":
                vals = sub.to_numpy(dtype=np.int64)
            elif sub.dtype.kind == "f":
                # int(float) truncates toward zero; C cast matches
                vals = sub.to_numpy().astype(np.int64)
            else:  # object: Decimal / int / (datetime for ts fields)
                if is_ts:
                    vals = np.fromiter(
                        ((pd.Timestamp(v).value // 1_000_000
                          if isinstance(v, (pd.Timestamp, _dt.datetime))
                          else int(v)) for v in sub),
                        dtype=np.int64, count=len(sub))
                else:
                    vals = np.fromiter((int(v) for v in sub),
                                       dtype=np.int64, count=len(sub))
        except (TypeError, ValueError, OverflowError):
            return None
        flat, lens = _vec_varint(_vec_zigzag(vals))
        segs.append(_expand(lens, flat))
        return segs
    if typ == "double" or typ == "float":
        try:
            a = sub.to_numpy(dtype=np.float64)
        except (TypeError, ValueError):
            return None
        w = 8 if typ == "double" else 4
        raw = a.astype("<f8" if typ == "double" else "<f4") \
               .view(np.uint8).reshape(-1)
        segs.append(_expand(np.full(len(sub), w, np.int64), raw))
        return segs
    if typ == "string":
        import pyarrow as pa
        try:
            arr = pa.array([x if type(x) is str else str(x)
                            for x in sub], type=pa.large_string())
        except (pa.ArrowInvalid, TypeError, ValueError):
            return None
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int64,
                             count=len(arr) + 1)
        data = np.frombuffer(arr.buffers()[2] or b"", dtype=np.uint8,
                             count=int(offs[-1]))
        slens = np.diff(offs)
        vflat, vlens = _vec_varint(_vec_zigzag(slens))
        segs.append(_expand(vlens, vflat))      # length varints
        segs.append(_expand(slens, data))       # utf-8 payloads
        return segs
    if typ == "boolean":
        try:
            b = sub.to_numpy().astype(bool).astype(np.uint8)
        except (TypeError, ValueError):
            return None
        segs.append(_expand(np.ones(len(sub), np.int64), b))
        return segs
    return None  # bytes / exotic — per-cell fallback


def _vec_assemble(n: int, segments):
    """Interleave per-field segments into one flat record buffer.
    Returns (buffer, row_offsets, row_lengths)."""
    import numpy as np
    row_len = np.zeros(n, dtype=np.int64)
    seg_off = []
    for _, lens in segments:
        seg_off.append(row_len.copy())
        row_len = row_len + lens
    row_starts = np.zeros(n, dtype=np.int64)
    if n:
        np.cumsum(row_len[:-1], out=row_starts[1:])
    out = np.empty(int(row_len.sum()), dtype=np.uint8)
    for (flat, lens), off in zip(segments, seg_off):
        m = int(lens.sum())
        if m == 0:
            continue
        dst_starts = row_starts + off
        src_starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=src_starts[1:])
        dst_idx = (np.repeat(dst_starts - src_starts, lens)
                   + np.arange(m))
        out[dst_idx] = flat[:m]
        del dst_idx
    return out, row_starts, row_len


def _vec_encode_record_buffer(rows: pd.DataFrame, avro_json: str):
    """(flat buffer, row_offsets, row_lengths) for a whole batch, or
    None when any field declines vectorization."""
    fields = _parse_schema(avro_json)
    segments = []
    for i, (name, typ, null_branch) in enumerate(fields):
        segs = _vec_field_segments(rows.iloc[:, i], typ, null_branch)
        if segs is None:
            return None
        segments.extend(segs)
    return _vec_assemble(len(rows), segments)


def avro_encode_rows(rows: pd.DataFrame, avro_json: str) -> pd.Series:
    """Encode a pandas batch to Avro binary (one cell per row).

    r12 (guide §4.2): the encode is one numpy pass per field —
    vectorized zigzag varints, float bit-views, Arrow string buffers —
    scattered into a single flat record buffer, instead of ~n·fields
    per-cell closure calls. Byte-identical to the per-cell encoder
    (``_avro_encode_rows_py``, kept as the fallback for exotic field
    shapes and asserted equal in tests)."""
    enc = _vec_encode_record_buffer(rows, avro_json)
    if enc is None:
        return _avro_encode_rows_py(rows, avro_json)
    out, starts, lens = enc
    buf = out.tobytes()
    return pd.Series([buf[s:s + ln]
                      for s, ln in zip(starts.tolist(), lens.tolist())])


def avro_encode_block(rows: pd.DataFrame, avro_json: str) -> bytes:
    """All records of a batch concatenated — the OCF block body — in
    one buffer, skipping the per-row split+join entirely."""
    enc = _vec_encode_record_buffer(rows, avro_json)
    if enc is None:
        return b"".join(_avro_encode_rows_py(rows, avro_json))
    return enc[0].tobytes()


def _field_decoder(typ: str):
    """Per-field (buf, pos) → (value, pos) closure — dispatch hoisted
    out of the row loop, mirroring :func:`_field_encoder`."""
    if typ in ("int", "long") or typ.startswith("long:"):
        # timestamp-millis stays an epoch-ms integer here; the Spark
        # boundary converts with timestamp_millis() — exact in any
        # session timezone (a wall-clock datetime round-trip is
        # ambiguous inside DST folds)
        return _zigzag_decode
    if typ == "float":
        unpack = _struct.Struct("<f").unpack_from
        return lambda buf, pos: (unpack(buf, pos)[0], pos + 4)
    if typ == "double":
        unpack = _struct.Struct("<d").unpack_from
        return lambda buf, pos: (unpack(buf, pos)[0], pos + 8)
    if typ == "string":
        def _s(buf, pos):
            n, pos = _zigzag_decode(buf, pos)
            return buf[pos:pos + n].decode("utf-8"), pos + n
        return _s
    if typ == "bytes":
        def _b(buf, pos):
            n, pos = _zigzag_decode(buf, pos)
            return bytes(buf[pos:pos + n]), pos + n
        return _b
    if typ == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    raise NotImplementedError(f"avro type {typ}")


def _record_loop(buf: bytes, n: int, steps) -> None:
    """Decode ``n`` records laid end to end in ``buf`` through the
    steps of :func:`resolve_decode_plan` — the one record loop."""
    pos = 0
    for _ in range(n):
        for dec, null_branch, add in steps:
            if null_branch is not None:
                branch, pos = _zigzag_decode(buf, pos)
                if branch == null_branch:
                    add(None)
                    continue
            val, pos = dec(buf, pos)
            add(val)


def _as_object_frame(cols: dict[str, list]) -> pd.DataFrame:
    # dtype=object: pandas would otherwise coerce an int column that
    # contains a null to float64, corrupting longs above 2^53; Arrow
    # converts object columns to the declared Spark types losslessly
    return pd.DataFrame({k: pd.Series(v, dtype=object)
                         for k, v in cols.items()})


def avro_decode_rows(blobs: pd.Series, avro_json: str) -> pd.DataFrame:
    """Decode one Avro-binary record per cell."""
    steps, cols = resolve_decode_plan(avro_json)
    for blob in blobs:
        _record_loop(blob, 1, steps)
    return _as_object_frame(cols)


def avro_decode_block(body: bytes, n: int, writer_json: str,
                      reader_json: str | None = None) -> pd.DataFrame:
    """Decode ``n`` concatenated records (an OCF data block) in one
    sequential pass — Avro binary is not self-delimiting, so block
    decoding is strictly cheaper than split-then-decode (which must
    walk every field twice). With ``reader_json`` the records come out
    in the READER's shape (schema resolution, below); without it, in
    the writer's own."""
    steps, cols = resolve_decode_plan(writer_json, reader_json)
    _record_loop(body, n, steps)
    return _as_object_frame(cols)


def _ts_fields(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields
            if isinstance(f.dataType, T.TimestampType)]


def _as_wire_types(df: DataFrame, use: list[str]) -> list[Column]:
    """Timestamp columns → epoch-ms longs (tz-exact); LONG columns →
    decimal(20,0); others pass.

    The decimal carrier is load-bearing, not cosmetic: Spark's
    Arrow→pandas conversion renders a nullable BIGINT batch that
    actually contains a null as float64 (pandas int64 can't hold
    NaN), silently rounding values above 2^53 BEFORE the encoder
    sees them — measured: 4506221015505416675 arrived as …704 when a
    null shared its Arrow batch. decimal(20,0) crosses as
    object(Decimal) with None for null — lossless at any magnitude —
    and the per-field int() in the encoder accepts it unchanged."""
    ts = set(_ts_fields(df.schema))
    longs = {f.name for f in df.schema.fields
             if isinstance(f.dataType, T.LongType)}
    cols = []
    for c in use:
        if c in ts:
            cols.append(F.unix_millis(c).alias(c))
        elif c in longs:
            cols.append(F.col(c).cast("decimal(20,0)").alias(c))
        else:
            cols.append(F.col(c))
    return cols


def _millis_wire(schema: T.StructType):
    """``(wire schema, restore)`` for Avro decoded in Python: timestamp
    fields cross the Arrow boundary as the epoch-ms longs of their
    ``timestamp-millis`` wire form, and ``restore`` turns a decoded
    frame's longs back into timestamps with ``timestamp_millis`` —
    exact in any session timezone."""
    ts = set(_ts_fields(schema))
    wire = T.StructType([
        T.StructField(f.name, T.LongType() if f.name in ts else f.dataType,
                      f.nullable)
        for f in schema.fields])

    def restore(flat: DataFrame) -> DataFrame:
        return flat.select(*[
            F.timestamp_millis(c).alias(c) if c in ts else F.col(c)
            for c in flat.columns])
    return wire, restore


def to_avro_column(df: DataFrame, avro_json: str,
                   cols: list[str] | None = None) -> Column:
    """E6 (11:76-77): encode columns as one Avro-binary value column.
    Uses the JVM ``to_avro`` when loadable, else the Pandas-UDF codec."""
    use = cols or df.columns
    spark = df.sparkSession
    if _jvm_avro_available(spark):
        from pyspark.sql.avro.functions import to_avro
        return to_avro(F.struct(*use), avro_json)

    @F.pandas_udf(T.BinaryType())
    def _enc(*series: pd.Series) -> pd.Series:
        return avro_encode_rows(pd.concat(series, axis=1), avro_json)

    return _enc(*_as_wire_types(df, list(use)))


def from_avro_column(df: DataFrame, avro_json: str,
                     schema: T.StructType,
                     value_col: str = "value") -> DataFrame:
    """E5 (12:70, 13:65-67): decode an Avro-binary value column into
    typed columns (flattened, reference's ``select("data.*")`` shape)."""
    spark = df.sparkSession
    if _jvm_avro_available(spark):
        from pyspark.sql.avro.functions import from_avro
        return df.withColumn("data", from_avro(F.col(value_col), avro_json)) \
                 .select("data.*")

    wire, restore = _millis_wire(schema)

    @F.pandas_udf(wire)
    def _dec(blobs: pd.Series) -> pd.DataFrame:
        return avro_decode_rows(blobs, avro_json)

    return restore(df.select(_dec(F.col(value_col)).alias("data"))
                   .select("data.*"))


# ---------------------------------------------------------------------------
# Schema resolution (Avro spec §"Schema Resolution") — decode data written
# with an older/newer WRITER schema into the shape of a READER schema:
# matching fields decode (with numeric/string-bytes promotions), writer-only
# fields are decoded-and-skipped, reader-only fields take their declared
# default. This is what makes a directory of OCF files written across a
# schema's lifetime readable as ONE frame.
# ---------------------------------------------------------------------------

#: legal writer→reader primitive promotions (Avro spec order)
_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def frame_registry(value: Column, schema_id: int) -> Column:
    """Confluent/Apicurio wire framing: ``0x00 magic + 4-byte
    big-endian schema id + payload`` — the envelope every
    registry-backed serde puts on the topic (the reference's Avro
    topics carry it via the Apicurio Confluent-compatible serdes,
    `10_create_schemas.py:77-118` / `11:112-119`). Pure JVM column
    expression: the id renders through hex/unhex, so framing runs at
    scan speed with no Python."""
    if not (0 <= schema_id <= 0x7FFFFFFF):
        raise ValueError(f"schema id out of range: {schema_id}")
    header = "00" + format(schema_id, "08x")
    return F.concat(F.unhex(F.lit(header)), value)


def unframe_registry(value: Column) -> tuple[Column, Column]:
    """Inverse of :func:`frame_registry`: returns ``(schema_id,
    payload)`` columns. Malformed frames — a non-0x00 magic byte OR a
    frame shorter than the 5-byte header (a truncated id would
    otherwise right-align through conv() into a bogus-but-plausible
    schema id) — yield a NULL schema id, the dead-letter routing
    signal."""
    intact = (F.length(value) >= 5) \
        & (F.hex(F.substring(value, 1, 1)) == "00")
    sid = F.when(
        intact,
        F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("int"))
    payload = F.substring(value, 6, 2147483647)
    return sid, payload


def _parse_schema_defaults(avro_json: str) -> dict[str, object]:
    """field name → declared default (only fields that have one)."""
    rec = json.loads(avro_json)
    return {f["name"]: f["default"] for f in rec["fields"]
            if "default" in f}


def _base_type(typ: str) -> str:
    """'long:timestamp-millis' → 'long' for promotion matching."""
    return typ.split(":", 1)[0]


def _promoted(w_typ: str, r_typ: str):
    """Decoder of a ``w_typ`` field read as ``r_typ``: the writer's
    field decoder, converting the value when the types differ by a
    legal promotion."""
    dec = _field_decoder(w_typ)
    w, r = _base_type(w_typ), _base_type(r_typ)
    if w == r:
        return dec
    if (w, r) not in _PROMOTIONS:
        raise ValueError(f"illegal Avro promotion {w_typ} -> {r_typ}")
    if r == "long":
        return dec  # python ints are width-free
    conv = {"float": float, "double": float,
            "bytes": lambda v: v.encode("utf-8"),
            "string": lambda v: v.decode("utf-8")}[r]

    def _conv(buf, pos):
        val, pos = dec(buf, pos)
        return conv(val), pos
    return _conv


def _discard(_val) -> None:
    """The append of a writer-only field: decoded, then dropped."""


def resolve_decode_plan(writer_json: str, reader_json: str | None = None):
    """Decode plan of writer-encoded records in the READER's shape
    (the writer's own when ``reader_json`` is None).

    Returns ``(steps, cols)``: ``cols`` maps the reader's field names,
    in its order, to fresh lists, and ``steps`` holds one ``(decoder,
    null_branch, append)`` per field, writer fields first in wire order.
    A promotion is folded into its field's decoder, a writer-only field
    appends to :func:`_discard`, and a reader-only field gets a decoder
    that reads nothing and returns its declared default. Raises
    ``ValueError`` when the reader cannot read the writer's data."""
    reader_json = reader_json or writer_json
    w_fields = _parse_schema(writer_json)
    r_fields = _parse_schema(reader_json)
    r_types = {name: typ for name, typ, _ in r_fields}
    r_defaults = _parse_schema_defaults(reader_json)
    cols = {name: [] for name, _, _ in r_fields}
    steps = [(_promoted(typ, r_types[name]), null_branch,
              cols[name].append) if name in r_types
             else (_field_decoder(typ), null_branch, _discard)
             for name, typ, null_branch in w_fields]
    w_names = {name for name, _, _ in w_fields}
    for name, _, _ in r_fields:
        if name in w_names:
            continue
        if name not in r_defaults:
            raise ValueError(
                f"reader field {name!r} absent from writer schema and "
                f"has no default")
        steps.append((lambda buf, pos, v=r_defaults[name]: (v, pos), None,
                      cols[name].append))
    return steps, cols
