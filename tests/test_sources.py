"""Unit tests for the file source/sink plane (S1/S9/S10/S13) and the
hash functions backing surrogate keys (F7)."""

import glob
import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_msk_demo_spark.catalog import struct_to_avro_json
from kafka_connect_msk_demo_spark.operators.relational import surrogate_key
from kafka_connect_msk_demo_spark.sources.files import (read_avro, read_csv,
                                                        rotating_sink_batch,
                                                        write_avro, write_csv)

SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("amount", T.DoubleType(), True),
])


def test_csv_roundtrip_pipe_and_comma(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a|b-safe", 1.5), (2, None, None), (3, "c", -2.0)], SCHEMA)
    for sep in ("|", ","):
        p = str(tmp_path / f"csv_{ord(sep)}")
        write_csv(df, p, sep=sep)
        back = read_csv(spark, p, SCHEMA, sep=sep)
        assert sorted(map(tuple, back.collect())) \
            == sorted(map(tuple, df.collect()))


def test_avro_ocf_roundtrip_with_nulls_and_timestamps(spark, tmp_path):
    schema = T.StructType([
        T.StructField("id", T.IntegerType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    df = spark.createDataFrame(
        [(1, "x", "2021-03-14 06:59:59.123"),   # crosses a DST boundary
         (2, None, "2021-11-07 01:30:00.5"),    # inside the DST fold
         (3, "z", None)],
        "id int, label string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    avro_json = struct_to_avro_json("t", schema)
    p = str(tmp_path / "avro")
    write_avro(df, p, avro_json)
    assert glob.glob(f"{p}/*.avro")
    back = read_avro(spark, p, avro_json, schema)
    assert sorted(map(tuple, back.collect())) \
        == sorted(map(tuple, df.collect()))


def test_avro_ocf_readable_at_scale_tables(spark, sf_small, tmp_path):
    from kafka_connect_msk_demo_spark.catalog import load_table
    orders = load_table(spark, sf_small, "orders")
    avro_json = struct_to_avro_json("orders", orders.schema)
    p = str(tmp_path / "orders_avro")
    write_avro(orders, p, avro_json)
    back = read_avro(spark, p, avro_json, orders.schema)
    assert back.count() == orders.count()
    # spot-check a value column sum survives the trip
    a = orders.agg(F.sum("o_totalprice")).first()[0]
    b = back.agg(F.sum("o_totalprice")).first()[0]
    assert a == pytest.approx(b)


def test_rotating_sink_flush_size(spark, tmp_path):
    df = spark.range(1000).coalesce(1)
    p = str(tmp_path / "rot")
    rotating_sink_batch(df, p, fmt="parquet", flush_size=100)
    files = glob.glob(f"{p}/*.parquet")
    # 1000 rows in one task / flush.size 100 → 10 rolled objects
    assert len(files) == 10
    assert spark.read.parquet(p).count() == 1000


def test_sha1_matches_hashlib(spark):
    df = spark.createDataFrame([(5, "x")], "a int, b string")
    row = surrogate_key(df, ["a", "b"], out="k", algo="sha1").first()
    assert row.k == hashlib.sha1(b"5x").hexdigest()


def test_md5_matches_hashlib(spark):
    df = spark.createDataFrame([(5, "x")], "a int, b string")
    row = surrogate_key(df, ["a", "b"], out="k", algo="md5").first()
    assert row.k == hashlib.md5(b"5x").hexdigest()


def test_rotating_sink_stream(spark, sf_small, tmp_path):
    from kafka_connect_msk_demo_spark.catalog import stream_table
    from kafka_connect_msk_demo_spark.sources.files import \
        rotating_sink_stream

    sdf = stream_table(spark, sf_small, "events").coalesce(1)
    out = str(tmp_path / "rotated")
    q = rotating_sink_stream(sdf, out, str(tmp_path / "ckpt"),
                             flush_size=500, available_now=True)
    q.awaitTermination()
    files = glob.glob(f"{out}/*.parquet")
    n = spark.read.parquet(out).count()
    # size-based rotation: ~n/flush.size objects from the single task
    assert n > 500 and len(files) >= n // 500
    assert all(
        rows <= 500 for rows in
        [spark.read.parquet(f).count() for f in files])


def test_integrity_audit_detects_planted_violations(spark):
    """The audit must count planted orphan FKs and null keys exactly
    (the registered query's real-data legs are supplemented here with
    a synthetic fact referencing a missing dim row and a NULL key)."""
    from kafka_connect_msk_demo_spark.queries import fk_audit

    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long")
    dim = spark.createDataFrame([(10,), (20,)], "dk long")
    row = fk_audit("f", fact, "fk", dim, "dk").collect()[0]
    assert (row.fact_table, row.rows, row.orphans, row.null_keys) \
        == ("f", 4, 1, 1)


def test_doc_counts_match_registry():
    """README/COVERAGE headline counts must equal the actual registry —
    hand-edited claims drift; this pins them."""
    import re

    from kafka_connect_msk_demo_spark.queries import ALL_QUERIES, oracles

    n_reg, n_ora = len(ALL_QUERIES), len(oracles())
    readme = open("README.md").read()
    coverage = open("COVERAGE.md").read()
    assert f"({n_reg} registered)" in readme, \
        f"README says something other than ({n_reg} registered)"
    assert f"({n_ora} DuckDB-checked" in readme
    assert f"{n_reg} registered queries, {n_ora}" in coverage
    # the verification-tiers table must quote the live gate sets
    import bench
    from kafka_connect_msk_demo_spark.queries import DRIVER_WINDOW
    assert f"`DRIVER_WINDOW` ({DRIVER_WINDOW})" in coverage
    assert f"{len(bench.HEADLINE)} HEADLINE" in coverage
    assert f"the {len(bench.SKIP)} bench-SKIP" in coverage
    assert f"ALL {n_reg} registered queries" in coverage


def test_manifest_commit_exactly_once(spark, tmp_path):
    """Atomic visibility + idempotent retry: orphan data files are
    invisible, re-running a commit id does not double-publish, and
    distinct commits append."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_connect_msk_demo_spark.sources.files import (
        manifest_commit, read_manifested)

    path = str(tmp_path / "tbl")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    files = manifest_commit(df1, path, "c-0001")
    assert files and all(f.startswith("c-0001-") for f in files)
    assert read_manifested(spark, path).count() == 10

    # a crashed writer's orphan file is never read
    pq.write_table(pa.table({"k": [999, 998]}),
                   f"{path}/zz-orphan-00000.parquet")
    assert read_manifested(spark, path).count() == 10

    # retrying the SAME commit id republishes, not duplicates
    manifest_commit(df1, path, "c-0001")
    assert read_manifested(spark, path).count() == 10

    # a new commit id appends atomically
    manifest_commit(spark.range(100, 105).withColumnRenamed("id", "k"),
                    path, "c-0002")
    got = sorted(r.k for r in read_manifested(spark, path).collect())
    assert got == list(range(10)) + list(range(100, 105))


def test_manifest_commit_empty_table_needs_schema(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    from kafka_connect_msk_demo_spark.sources.files import read_manifested

    path = str(tmp_path / "empty")
    with pytest.raises(ValueError):
        read_manifested(spark, path)
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    assert read_manifested(spark, path, schema).count() == 0


def test_storage_units_cache_invalidates_on_rewrite(tmp_path):
    """The footer-unit memo must key on (mtime, size), not path alone:
    a testdata regeneration that rewrites the same path with a
    different timestamp encoding must yield the NEW units, not a stale
    cached tuple (the r3→r4 regeneration changed encodings in place)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_connect_msk_demo_spark.catalog import _storage_units

    path = str(tmp_path / "events.parquet")

    def write(ts_arr):
        cols = {"event_id": pa.array([1], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["click"]),
                "value": pa.array([1.0], pa.float64()),
                "props": pa.array(["{}"])}
        pq.write_table(pa.table(cols), path)

    write(pa.array([1_700_000_000_000_000], pa.timestamp("us")))
    assert dict(_storage_units(path, "events"))["ts"] == "us"

    # rewrite in place as plain int64 → legacy fallback unit ("ns")
    time.sleep(0.01)
    write(pa.array([1_700_000_000_000_000_000], pa.int64()))
    os.utime(path)  # ensure a distinct mtime stamp even on coarse clocks
    assert dict(_storage_units(path, "events"))["ts"] == "ns", \
        "stale cached units returned after in-place rewrite"


def test_avro_ocf_deflate_codec(spark, tmp_path):
    """The OCF reader accepts deflate-codec files (RFC 1951 raw
    DEFLATE, the non-null codec Avro guarantees everywhere): build one
    by recompressing a null-codec file's blocks, then read it through
    the distributed source and compare with the original rows."""
    import json
    import struct as _struct
    import zlib

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_msk_demo_spark.sources.files import (_ocf_parse,
                                                            read_avro,
                                                            write_avro)

    avro_json = json.dumps({
        "name": "R", "type": "record",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "label", "type": ["null", "string"]}]})
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("label", T.StringType(), True)])
    df = spark.range(100).select(
        "id", F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("x"), F.col("id"))).alias("label"))
    plain_dir = tmp_path / "plain"
    write_avro(df.coalesce(1), str(plain_dir), avro_json)
    src = next(p for p in plain_dir.iterdir() if p.suffix == ".avro")
    schema_json, payloads, counts = _ocf_parse(src.read_bytes())

    def zz(n: int) -> bytes:
        u = (n << 1) ^ (n >> 63)
        out = bytearray()
        while True:
            b = u & 0x7F
            u >>= 7
            if u:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    sync = b"\x00" * 16
    meta = {"avro.schema": schema_json.encode(),
            "avro.codec": b"deflate"}
    buf = bytearray(b"Obj\x01")
    buf += zz(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        buf += zz(len(kb)) + kb + zz(len(v)) + v
    buf += zz(0) + sync
    comp = zlib.compressobj(9, zlib.DEFLATED, -15)
    for body, cnt in zip(payloads, counts):
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        packed = c.compress(body) + c.flush()
        buf += zz(cnt) + zz(len(packed)) + packed + sync
    defl_dir = tmp_path / "deflate"
    defl_dir.mkdir()
    (defl_dir / "part-deflate.avro").write_bytes(bytes(buf))

    back = read_avro(spark, str(defl_dir), avro_json, schema)
    want = {(r.id, r.label) for r in df.collect()}
    got = {(r.id, r.label) for r in back.collect()}
    assert got == want
