"""Environment knobs are checked when read, and quiet fallbacks to
something slower or weaker log a warning."""

import logging
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _import_error(module: str, var: str, value: str) -> str:
    """stderr of importing ``module`` in a fresh interpreter with
    ``var=value``; the import must fail."""
    r = subprocess.run([sys.executable, "-c", f"import {module}"],
                       env={**os.environ, var: value}, cwd=ROOT,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode != 0, r.stdout
    return r.stderr


@pytest.mark.parametrize("value", ["many", "0", "-4", "1.5"])
def test_bad_shuffle_knob_names_the_variable(value):
    err = _import_error("kafka_connect_msk_demo_spark.session",
                        "SPARK_GRAFT_SHUFFLE", value)
    assert "ValueError: SPARK_GRAFT_SHUFFLE=" in err


@pytest.mark.parametrize("value", ["four", "0"])
def test_bad_stream_chunks_knob_names_the_variable(value):
    err = _import_error("kafka_connect_msk_demo_spark.catalog",
                        "SPARK_GRAFT_STREAM_CHUNKS", value)
    assert "ValueError: SPARK_GRAFT_STREAM_CHUNKS=" in err


@pytest.mark.parametrize("value", ["0", "four", "-2", "2.5", "**", "8*"])
def test_bad_cpus_knob_names_the_variable(value):
    err = _import_error("kafka_connect_msk_demo_spark.session",
                        "SPARK_GRAFT_CPUS", value)
    assert "ValueError: SPARK_GRAFT_CPUS=" in err


@pytest.mark.parametrize("value", ["lots", "8 g", "1.5g", "-1", "8q"])
def test_bad_driver_mem_knob_names_the_variable(value):
    err = _import_error("kafka_connect_msk_demo_spark.session",
                        "SPARK_GRAFT_DRIVER_MEM", value)
    assert "ValueError: SPARK_GRAFT_DRIVER_MEM=" in err


def test_cpus_and_driver_mem_knobs_read_good_values():
    code = ("from kafka_connect_msk_demo_spark import session as s; "
            "print(s.DEFAULT_CPUS, s.DEFAULT_DRIVER_MEM)")
    for cpus, mem in (("*", "8g"), (" 4 ", "512m"), ("12", "2048")):
        r = subprocess.run([sys.executable, "-c", code],
                           env={**os.environ, "SPARK_GRAFT_CPUS": cpus,
                                "SPARK_GRAFT_DRIVER_MEM": mem},
                           cwd=ROOT, capture_output=True, text=True,
                           timeout=120)
        assert r.returncode == 0, r.stderr
        assert r.stdout.split() == [cpus.strip(), mem]


def test_env_int_reads_good_values(monkeypatch):
    from kafka_connect_msk_demo_spark.session import env_int
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    assert env_int("SPARK_GRAFT_SHUFFLE", 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", " 12 ")
    assert env_int("SPARK_GRAFT_SHUFFLE", 32) == 12


@pytest.mark.parametrize("value", ["lots", "64 mb", "1.5g", "-1", "64q"])
def test_bad_shj_threshold_names_the_variable(monkeypatch, value):
    from kafka_connect_msk_demo_spark.session import get_spark
    monkeypatch.setenv("SPARK_GRAFT_SHJ_THRESHOLD", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHJ_THRESHOLD="):
        get_spark()


@pytest.mark.parametrize("value", ["0", "134217728", "64m", "64MB", "1g",
                                   "512k", "10b"])
def test_shj_threshold_takes_bytes_and_size_strings(monkeypatch, value):
    from kafka_connect_msk_demo_spark.session import env_bytes
    monkeypatch.setenv("SPARK_GRAFT_SHJ_THRESHOLD", value)
    assert env_bytes("SPARK_GRAFT_SHJ_THRESHOLD", "1") == value


def test_scan_splits_cache_sees_a_rewrite(tmp_path):
    """The layout probe is memoized on the file's (mtime, size): a
    fixture rewritten in place with more row groups is inspected
    again, not served from the cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_connect_msk_demo_spark.catalog import _scan_splits

    path = str(tmp_path / "t.parquet")
    table = pa.table({"k": list(range(4000))})
    pq.write_table(table, path)
    assert _scan_splits(path, 8) == 1
    pq.write_table(table, path, row_group_size=1000)
    assert _scan_splits(path, 8) == 4


def test_spread_on_remote_path_warns_once(caplog):
    """``spread=True`` cannot read footers of a non-local path, so it
    stays a no-op there — and says so, once per path. (The probe is
    called directly: nothing may contact the host.)"""
    from kafka_connect_msk_demo_spark.catalog import _scan_splits

    path = "hdfs://namenode.invalid/warehouse/orders.parquet"
    with caplog.at_level(logging.WARNING,
                         logger="kafka_connect_msk_demo_spark.catalog"):
        assert _scan_splits(path, 8) == 8
        assert _scan_splits(path, 8) == 8
    hits = [r for r in caplog.records if path in r.getMessage()]
    assert len(hits) == 1 and "no-op" in hits[0].getMessage()


def test_spread_of_unkeyed_table_raises(spark, sf_small):
    """Only tables with a unique spread key can be spread; any other
    table fails loudly instead of taking a round-robin repartition."""
    from kafka_connect_msk_demo_spark.catalog import load_table

    with pytest.raises(KeyError, match="supplier"):
        load_table(spark, sf_small, "supplier", spread=True)


def test_avro_fallback_to_python_codec_warns_once(spark, monkeypatch,
                                                  caplog):
    from kafka_connect_msk_demo_spark import serde

    monkeypatch.setattr(serde, "_JVM_AVRO", None)
    with caplog.at_level(logging.WARNING,
                         logger="kafka_connect_msk_demo_spark.serde"):
        first = serde._jvm_avro_available(spark)
        assert serde._jvm_avro_available(spark) == first
    hits = [r for r in caplog.records if "Python codec" in r.getMessage()]
    assert len(hits) == (0 if first else 1)
