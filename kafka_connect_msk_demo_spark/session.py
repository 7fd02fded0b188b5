"""SparkSession factory with scale-oriented defaults.

The reference relies on EMR defaults plus a couple of hand-tuned knobs
(Hudi shuffle parallelism 2 for its toy data, Kryo — see SURVEY.md §4).
We instead pin the settings that matter for a large cluster and let AQE
re-plan at runtime:

* AQE on (coalesce partitions, skew-join splitting) — replaces the
  reference's static ``coalesce(1)``/parallelism-2 tuning.
* ``spark.sql.shuffle.partitions`` sized from the env (32 locally;
  a real deployment overrides to ~2-3x total cores).
* Arrow enabled so the few Pandas-UDF operators move batches, not rows.
* Session timezone pinned to UTC for deterministic event-time semantics.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import SparkSession

#: Spark's size strings (``JavaUtils.byteStringAsBytes``): a byte count
#: with an optional binary-unit suffix
_SIZE = re.compile(r"\d+(b|kb?|mb?|gb?|tb?|pb?)?", re.IGNORECASE)


def env_int(name: str, default: int) -> int:
    """A positive-integer environment knob, checked when read."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name}={raw!r}: expected a positive integer")
    return value


def env_bytes(name: str, default: str) -> str:
    """A byte-size environment knob — an integer byte count or a Spark
    size string such as ``64m`` — checked when read."""
    raw = os.environ.get(name, default).strip()
    if not _SIZE.fullmatch(raw):
        raise ValueError(f"{name}={raw!r}: expected a byte count or a "
                         "Spark size string such as 64m")
    return raw


DEFAULT_SHUFFLE_PARTITIONS = env_int("SPARK_GRAFT_SHUFFLE", 32)
#: local-mode core count: ``*`` (every core) or a positive integer
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*").strip()
if DEFAULT_CPUS != "*" and not re.fullmatch(r"[0-9]*[1-9][0-9]*",
                                            DEFAULT_CPUS):
    raise ValueError(f"SPARK_GRAFT_CPUS={DEFAULT_CPUS!r}: expected * or "
                     "a positive integer")
#: local-mode JVM heap. In local mode the driver JVM IS every executor:
#: PySpark's 1g default gives 32 task threads ~440 MB of combined
#: execution+storage memory, so the dense-graph and dedup kernels spend
#: their time spilling (kcore_peel measured 8.5 s at 1g vs 5.1 s at 8g;
#: the triangle wedge join 25 s vs 19 s). Only effective when THIS
#: process launches the JVM — a cluster deployment sizes
#: spark.executor.memory instead and this knob reverts to meaning the
#: (coordinator-only) driver heap.
DEFAULT_DRIVER_MEM = env_bytes("SPARK_GRAFT_DRIVER_MEM", "8g")


def get_spark(app_name: str = "kafka_connect_msk_demo_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Config already set on an existing session is left untouched —
    ``getOrCreate`` semantics — so tests can share one JVM.
    """
    shj_threshold = env_bytes("SPARK_GRAFT_SHJ_THRESHOLD", "134217728")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 (guide §3.1): let AQE rewrite sort-merge joins to
        # shuffled-hash at runtime when every post-shuffle build
        # partition is small — skips both sort passes. Size-guarded
        # per partition (the OOM risk §3.1 warns about), runtime-only
        # (planning and non-shuffle joins — e.g. the bucketed
        # zero-Exchange plans — are untouched). Default 128 MB per
        # build partition; a deployment tunes it to executor memory /
        # cores via SPARK_GRAFT_SHJ_THRESHOLD (0 restores Spark's
        # sort-merge-only default).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                shj_threshold)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Files: pack small test files but keep 128MB splits for big scans.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Streaming tests restart from checkpoints; keep state store default
        # (HDFS-backed) locally, RocksDB is a deploy-time override.
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        # Managed (e.g. bucketed) tables land in a scratch warehouse,
        # not ./spark-warehouse inside the repo. Only effective for the
        # session that creates the metastore; deployments override.
        .config("spark.sql.warehouse.dir",
                os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"))
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    spark = builder.getOrCreate()
    # spark.driver.memory only takes effect when THIS getOrCreate
    # launches the JVM; if a session already existed, the builder's 8g
    # is silently ignored and local-mode kernels run on the 1g default
    # with the documented spill regression (kcore 8.5 s vs 5.1 s).
    # Surface the mismatch instead of benchmarking it blind.
    try:
        actual = spark.sparkContext.getConf().get("spark.driver.memory",
                                                  "1g")
    except Exception:  # noqa: BLE001 - diagnostics must never fail a query
        actual = None
    if actual is not None and actual != DEFAULT_DRIVER_MEM:
        import logging
        logging.getLogger(__name__).warning(
            "reused SparkSession has spark.driver.memory=%s (wanted %s):"
            " the builder setting was ignored because the JVM was"
            " already running — expect spill-bound kernels in local mode",
            actual, DEFAULT_DRIVER_MEM)
    return spark
