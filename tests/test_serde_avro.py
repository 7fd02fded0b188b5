"""Unit tests for the column-level Avro serde (E5/E6) — the
``to_avro_column``/``from_avro_column`` pair on the Pandas-UDF fallback
path (the configuration this container always runs), plus the console
sinks (S7/S8)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_msk_demo_spark.catalog import struct_to_avro_json
from kafka_connect_msk_demo_spark.serde import (from_avro_column,
                                                to_avro_column)
from kafka_connect_msk_demo_spark.streaming.runner import (
    console_sink_batch, console_sink_stream)

SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("amount", T.FloatType(), True),
    T.StructField("ok", T.BooleanType(), True),
    T.StructField("ts", T.TimestampType(), True),
])


def _df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5, True, "2021-06-01 12:00:00.25"),
         (2, None, None, None, None),
         (3, "δ unicode", -0.25, False, "1969-12-31 23:59:59")],
        "id int, name string, amount float, ok boolean, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))


def test_avro_column_roundtrip(spark):
    df = _df(spark)
    avro_json = struct_to_avro_json("rec", SCHEMA)
    enveloped = df.select(
        to_avro_column(df, avro_json).alias("value"))
    back = from_avro_column(enveloped, avro_json, SCHEMA)
    assert sorted(map(tuple, back.collect())) \
        == sorted(map(tuple, df.collect()))


def test_avro_column_value_is_binary(spark):
    df = _df(spark)
    avro_json = struct_to_avro_json("rec", SCHEMA)
    out = df.select(to_avro_column(df, avro_json).alias("value"))
    assert isinstance(out.schema["value"].dataType, T.BinaryType)
    assert all(isinstance(r.value, (bytes, bytearray))
               for r in out.collect())


def test_console_sinks_smoke(spark, sf_small):
    from kafka_connect_msk_demo_spark.catalog import (load_table,
                                                      stream_table)
    console_sink_batch(load_table(spark, sf_small, "region"), num_rows=5)
    q = console_sink_stream(
        stream_table(spark, sf_small, "region"),
        num_rows=5, output_mode="append", query_name="t_console")
    q.awaitTermination()


# -- OCF parser edge cases (Avro spec compliance) ---------------------------

def test_ocf_parse_rejects_unsupported_codec():
    """A snappy/zstandard-coded OCF must fail loudly, not feed
    compressed bytes to the record decoder (null and deflate are the
    supported codecs)."""
    import io

    import pandas as pd
    import pytest

    from kafka_connect_msk_demo_spark.sources import files as fmod

    pdf = pd.DataFrame({"id": [1]})
    aj = '{"type":"record","name":"r","fields":[{"name":"id","type":"int"}]}'
    blob = bytearray(fmod._ocf_bytes(pdf, aj))
    buf = io.BytesIO()
    buf.write(fmod._OCF_MAGIC)
    meta = {"avro.schema": aj, "avro.codec": "snappy"}
    buf.write(fmod._zigzag(len(meta)))
    for k, v in meta.items():
        kb, vb = k.encode(), v.encode()
        buf.write(fmod._zigzag(len(kb)) + kb)
        buf.write(fmod._zigzag(len(vb)) + vb)
    buf.write(fmod._zigzag(0))
    buf.write(blob[-16:])  # reuse a sync marker
    with pytest.raises(ValueError, match="snappy"):
        fmod._ocf_parse(buf.getvalue())


def test_ocf_parse_negative_map_block_count():
    """Avro spec: a negative map-block count is followed by a byte-size
    long, with abs(n) entries — writers may emit this form."""
    import io

    import pandas as pd

    from kafka_connect_msk_demo_spark.sources import files as fmod

    pdf = pd.DataFrame({"id": [7]})
    aj = '{"type":"record","name":"r","fields":[{"name":"id","type":"int"}]}'
    normal = fmod._ocf_bytes(pdf, aj)
    schema_json, payloads, counts = fmod._ocf_parse(normal)

    # rebuild the same file with the metadata map in negative-count form
    buf = io.BytesIO()
    buf.write(fmod._OCF_MAGIC)
    meta = {"avro.schema": aj, "avro.codec": "null"}
    entries = io.BytesIO()
    for k, v in meta.items():
        kb, vb = k.encode(), v.encode()
        entries.write(fmod._zigzag(len(kb)) + kb)
        entries.write(fmod._zigzag(len(vb)) + vb)
    eb = entries.getvalue()
    buf.write(fmod._zigzag(-len(meta)))  # negative count ...
    buf.write(fmod._zigzag(len(eb)))     # ... then byte size
    buf.write(eb)
    buf.write(fmod._zigzag(0))
    # tail = sync + blocks: everything after the original header, whose
    # length we recover by re-serializing it
    hdr = io.BytesIO()
    hdr.write(fmod._OCF_MAGIC)
    hdr.write(fmod._zigzag(len(meta)))
    for k, v in meta.items():
        kb, vb = k.encode(), v.encode()
        hdr.write(fmod._zigzag(len(kb)) + kb)
        hdr.write(fmod._zigzag(len(vb)) + vb)
    hdr.write(fmod._zigzag(0))
    buf.write(normal[len(hdr.getvalue()):])
    schema_json2, payloads2, counts2 = fmod._ocf_parse(buf.getvalue())
    assert (schema_json2, payloads2, counts2) == (schema_json, payloads, counts)


def test_ocf_parse_rejects_bad_magic_and_bad_sync_marker():
    """The file comes from outside the program, so a wrong magic or a
    torn block raises ValueError — a check that ``python -O`` keeps."""
    import pandas as pd
    import pytest

    from kafka_connect_msk_demo_spark.sources import files as fmod

    pdf = pd.DataFrame({"id": [1, 2]})
    aj = '{"type":"record","name":"r","fields":[{"name":"id","type":"int"}]}'
    blob = fmod._ocf_bytes(pdf, aj)
    with pytest.raises(ValueError, match="not an Avro object container"):
        fmod._ocf_parse(b"PAR1" + blob[4:])
    torn = blob[:-16] + b"x" * 16  # the block's trailing sync marker
    with pytest.raises(ValueError, match="sync marker mismatch"):
        fmod._ocf_parse(torn)


def test_avro_schema_resolution_block():
    """Writer→reader resolution: promotions, dropped fields, defaults,
    and nullable-union handling at the codec level."""
    import pandas as pd

    from kafka_connect_msk_demo_spark.serde import (
        avro_decode_block, avro_encode_rows)

    writer = """
    {"type":"record","name":"v1","fields":[
      {"name":"id","type":"int"},
      {"name":"name","type":"string"},
      {"name":"val","type":["float","null"]}]}
    """
    reader = """
    {"type":"record","name":"v2","fields":[
      {"name":"id","type":"long"},
      {"name":"val","type":["double","null"]},
      {"name":"score","type":"double","default":1.5},
      {"name":"tag","type":["null","string"],"default":null}]}
    """
    rows = pd.DataFrame({"id": [1, 2], "name": ["a", "b"],
                         "val": [2.5, None]})
    body = b"".join(avro_encode_rows(rows, writer))
    out = avro_decode_block(body, 2, writer, reader)
    assert list(out.columns) == ["id", "val", "score", "tag"]
    assert list(out["id"]) == [1, 2]            # int -> long
    assert out["val"][0] == 2.5 and out["val"][1] is None
    assert list(out["score"]) == [1.5, 1.5]     # reader default
    assert list(out["tag"]) == [None, None]
    # "name" (writer-only) was decoded-and-skipped, not mis-aligned


def test_avro_schema_resolution_rejects_illegal():
    import pytest

    from kafka_connect_msk_demo_spark.serde import resolve_decode_plan

    w = '{"type":"record","name":"w","fields":[{"name":"a","type":"double"}]}'
    r = '{"type":"record","name":"r","fields":[{"name":"a","type":"int"}]}'
    with pytest.raises(ValueError, match="illegal Avro promotion"):
        resolve_decode_plan(w, r)
    r2 = ('{"type":"record","name":"r","fields":['
          '{"name":"a","type":"double"},{"name":"b","type":"long"}]}')
    with pytest.raises(ValueError, match="no default"):
        resolve_decode_plan(w, r2)


def test_avro_mixed_schema_directory_resolves(spark, tmp_path):
    """Two OCF files written with DIFFERENT schema generations read as
    one uniform frame under resolve=True — the schema-lifetime
    directory case."""
    from pyspark.sql import types as T

    from kafka_connect_msk_demo_spark.sources.files import (read_avro,
                                                            write_avro)

    v1 = """
    {"type":"record","name":"e","fields":[
      {"name":"id","type":"long"},
      {"name":"amount","type":"float"}]}
    """
    v2 = """
    {"type":"record","name":"e","fields":[
      {"name":"id","type":"long"},
      {"name":"amount","type":"double"},
      {"name":"source","type":"string","default":"legacy"}]}
    """
    old = spark.createDataFrame([(1, 1.5), (2, 2.25)],
                                "id long, amount float")
    new = spark.createDataFrame([(3, 3.125, "api")],
                                "id long, amount double, source string")
    p = str(tmp_path / "mixed")
    write_avro(old, p + "/g1", v1)
    write_avro(new, p + "/g2", v2)
    reader_schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("amount", T.DoubleType(), False),
        T.StructField("source", T.StringType(), False)])
    import glob as _g
    # read the whole tree as one frame
    back = read_avro(spark, p + "/*", v2, reader_schema, resolve=True)
    got = sorted(map(tuple, back.collect()))
    assert got == [(1, 1.5, "legacy"), (2, 2.25, "legacy"),
                   (3, 3.125, "api")]


def test_schema_resolution_randomized_evolutions():
    """Fuzz the Avro schema-resolution matrix (deterministic seeds):
    random writer schemas (mixed primitives, nullable unions in BOTH
    branch orders — the round-6 bug class), random rows, and a reader
    derived by randomly DROPPING writer fields, ADDING defaulted
    fields, and applying legal promotions (int→long, int→double,
    long→double, string↔bytes). Writer-encoded blocks must decode
    into exactly the reader's shape with promoted values and applied
    defaults."""
    import json
    import random

    import pandas as pd

    from kafka_connect_msk_demo_spark.serde import (
        avro_decode_block, avro_encode_rows)

    PRIMS = ["int", "long", "double", "string", "boolean", "bytes"]
    PROMOS = {"int": ["long", "double"], "long": ["double"],
              "string": ["bytes"], "bytes": ["string"]}

    def rand_value(rng, typ):
        return {
            "int": lambda: rng.randrange(-2**31, 2**31),
            "long": lambda: rng.randrange(-2**62, 2**62),
            "double": lambda: rng.choice(
                [0.0, -1.5, 3.25, 1e300, -2.5e-10, 12345.678125]),
            "string": lambda: "".join(
                rng.choices("abcXYZ äöü 日本語 🎈", k=rng.randrange(0, 9))),
            "boolean": lambda: rng.random() < 0.5,
            "bytes": lambda: bytes(rng.randrange(256)
                                   for _ in range(rng.randrange(0, 6))),
        }[typ]()

    def promote(val, w, r):
        if val is None or w == r:
            return val
        if r == "double":
            return float(val)
        if r == "long":
            return val
        if r == "bytes":
            return val.encode("utf-8")
        if r == "string":
            return val.decode("utf-8")
        raise AssertionError((w, r))

    for seed in range(25):
        rng = random.Random(424200 + seed)
        n_fields = rng.randrange(1, 7)
        w_fields = []
        for i in range(n_fields):
            typ = rng.choice(PRIMS)
            nullable = rng.random() < 0.4
            null_first = rng.random() < 0.5   # both branch orders
            w_fields.append((f"f{i}", typ, nullable, null_first))
        writer = {"type": "record", "name": "W", "fields": [
            {"name": n,
             "type": (["null", t] if nf else [t, "null"])
             if nu else t}
            for n, t, nu, nf in w_fields]}

        # reader: keep/promote a subset, add defaulted extras
        r_fields, expect_cols = [], {}
        kept = []
        for n, t, nu, nf in w_fields:
            if rng.random() < 0.25:
                continue                      # writer-only: skipped
            r_t = rng.choice([t] + PROMOS.get(t, [])) \
                if not nu else t              # promote plain fields
            r_fields.append(
                {"name": n,
                 "type": (["null", t] if nf else [t, "null"])
                 if nu else r_t})
            kept.append((n, t, r_t if not nu else t))
        for j in range(rng.randrange(0, 3)):  # reader-only w/ default
            dt = rng.choice(["int", "string", "boolean"])
            dv = {"int": 7, "string": "dflt", "boolean": True}[dt]
            r_fields.append({"name": f"new{j}", "type": dt,
                             "default": dv})
            expect_cols[f"new{j}"] = dv
        if not r_fields:
            continue
        reader = {"type": "record", "name": "W", "fields": r_fields}

        n_rows = rng.randrange(1, 6)
        # bytes -> string promotion presumes UTF-8 payloads (Avro spec:
        # string IS utf-8 bytes); generate such fields as encodings
        promo_to_string = {n for n, w_t, r_t in kept
                           if w_t == "bytes" and r_t == "string"}
        rows = {}
        for n, t, nu, nf in w_fields:
            def gen(n=n, t=t):
                if n in promo_to_string:
                    return rand_value(rng, "string").encode("utf-8")
                return rand_value(rng, t)
            rows[n] = [None if (nu and rng.random() < 0.3)
                       else gen() for _ in range(n_rows)]
        # object dtype mirrors the engine's wire boundary: the decimal
        # carrier (serde._as_wire_types) delivers nullable longs as
        # object(Decimal/None) — a raw pd.DataFrame(list-with-None)
        # would float64-coerce and corrupt >2^53 longs (the exact bug
        # the carrier exists to prevent)
        pdf = pd.DataFrame({k: pd.Series(v, dtype=object)
                            for k, v in rows.items()})
        blobs = avro_encode_rows(pdf, json.dumps(writer))
        body = b"".join(blobs)

        got = avro_decode_block(body, n_rows,
                                json.dumps(writer),
                                json.dumps(reader))
        assert list(got.columns) == [f["name"] for f in r_fields], seed
        for n, w_t, r_t in kept:
            want = [promote(v, w_t, r_t) for v in rows[n]]
            assert list(got[n]) == want, (seed, n, w_t, r_t,
                                          list(got[n]), want)
        for n, dv in expect_cols.items():
            assert list(got[n]) == [dv] * n_rows, (seed, n)


def test_nullable_long_roundtrip_exact_beyond_2p53(spark):
    """Regression (r7 fuzz find): a nullable BIGINT whose Arrow batch
    also contains a null used to cross the pandas-UDF boundary as
    float64, silently rounding values above 2^53 before encoding
    (4506221015505416675 arrived as …704). The decimal(20,0) wire
    carrier must keep the round-trip exact at any magnitude —
    coalesce(1) forces the null and the big values into ONE batch."""
    import json

    from pyspark.sql import types as T

    from kafka_connect_msk_demo_spark.serde import (from_avro_column,
                                                    to_avro_column)

    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    big = 4506221015505416675
    want = [big, None, big + 1, -2**62, 2**62, 0]
    df = spark.createDataFrame([(v,) for v in want], schema).coalesce(1)
    avro = json.dumps({"type": "record", "name": "r",
                       "fields": [{"name": "k",
                                   "type": ["long", "null"]}]})
    enc = df.select(to_avro_column(df, avro).alias("value"))
    back = from_avro_column(enc, avro, schema)
    assert [r.k for r in back.collect()] == want
