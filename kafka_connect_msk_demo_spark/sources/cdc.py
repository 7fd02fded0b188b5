"""CDC envelope source — Debezium-shaped change-event streams.

The reference's CDC plane is Postgres WAL → Debezium envelope
``{before, after, source{db,schema,table,lsn,ts_ms}, op, ts_ms}`` →
SMT unwrap → Avro topic (SURVEY.md §3.3). The engine models the
connector boundary as a DataFrame of envelope rows; everything from
the envelope inward (unwrap, upsert, SQL read) is real.

``orders_cdc_envelope`` derives a deterministic change stream from the
``orders`` test table so upsert semantics can be oracle-checked:

* every order arrives as a snapshot read (``op='r'``),
* orders with ``o_orderkey % 10 ∈ {0,1,2}`` receive an update
  (``op='u'``) that raises the price 10%, flips the status, and shifts
  ``order_month`` — the table's date-like partition column — one month
  forward, MOVING the row across partitions (the reference's
  GLOBAL_BLOOM cross-partition concern, exercised at realistic
  partition cardinality: ~85 months, not a 3-value status column),
* orders with ``o_orderkey % 10 = 0`` are then deleted (``op='d'``),

with strictly increasing ``ts_ms`` epochs per key (snapshot < update <
delete) and ``lsn`` as a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..streaming.runner import stamp_arrival_order

RECORD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "order_month"]


def _envelope(record, before, op, ts_ms, lsn):
    return F.struct(
        before.alias("before"),
        record.alias("after"),
        F.struct(
            F.lit("pagila").alias("db"),
            F.lit("public").alias("schema"),
            F.lit("orders").alias("table"),
            lsn.alias("lsn"),
            ts_ms.alias("ts_ms"),
        ).alias("source"),
        op.alias("op"),
        ts_ms.alias("ts_ms"),
    )


def orders_cdc_envelope(spark: SparkSession, sf_dir: str,
                        spread: bool = False) -> DataFrame:
    """Deterministic Debezium-envelope stream derived from ``orders``.
    Returns envelope rows (unioned snapshot/update/delete phases) with
    a ``__phase`` column so callers can split into micro-batch files.

    ``spread=True`` (r13, guide §2.5): the per-row envelope build
    (tz-pinned month formatting, struct assembly, three legs) runs in
    the scan stage, which the single-row-group testdata pins to one
    task; batch snapshot readers opt in (no-op on production
    layouts). Stream staging keeps the default — its file layout is
    part of the replay contract."""
    # order_month: UTC-pinned month label (session-tz-independent) —
    # the date-like partition key a production CDC table would use
    utc_date = F.expr("convert_timezone('UTC', o_orderdate)")
    orders = (load_table(spark, sf_dir, "orders", spread=spread)
              .withColumn("order_month",
                          F.date_format(utc_date, "yyyy-MM"))
              .withColumn("order_month_next",
                          F.date_format(F.add_months(utc_date, 1),
                                        "yyyy-MM"))
              .select(*RECORD_COLS, "order_month_next"))
    key = F.col("o_orderkey")
    base_rec = F.struct(*[F.col(c) for c in RECORD_COLS])
    upd_rec = F.struct(
        F.col("o_orderkey"), F.col("o_custkey"),
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        F.col("order_month_next").alias("order_month"),
    )
    null_rec = F.lit(None).cast(
        orders.select(base_rec.alias("r")).schema["r"].dataType)

    snapshot = orders.select(
        _envelope(base_rec, null_rec, F.lit("r"),
                  F.lit(1_000_000_000) + key, key * 10).alias("e"),
        F.lit(0).alias("__phase"))
    updates = orders.filter(key % 10 < 3).select(
        _envelope(upd_rec, base_rec, F.lit("u"),
                  F.lit(2_000_000_000) + key, key * 10 + 1).alias("e"),
        F.lit(1).alias("__phase"))
    deletes = orders.filter(key % 10 == 0).select(
        _envelope(null_rec, upd_rec, F.lit("d"),
                  F.lit(3_000_000_000) + key, key * 10 + 2).alias("e"),
        F.lit(2).alias("__phase"))

    return (snapshot.unionByName(updates).unionByName(deletes)
            .select("e.*", "__phase"))


def write_envelope_stream_dir(spark: SparkSession, sf_dir: str,
                              out_dir: str,
                              files_per_phase: int = 1) -> None:
    """Materialize the envelope as ``files_per_phase`` parquet files
    per phase so a file stream with maxFilesPerTrigger=1 replays
    snapshot → updates → deletes as 3 × files_per_phase separate
    micro-batches (latest-wins is ordered by ts_ms, so arrival order
    within a phase doesn't matter — splitting a phase exercises that).

    Files are renamed into arrival order and stamped with
    :func:`stamp_arrival_order`: an uncontrolled
    mtime tie could deliver a phase-2 delete before the phase-0
    snapshot that the initial bulk-insert path depends on seeing first.

    Local-FS only (os.rename/utime): this is the TEST-FIXTURE
    materializer for the sandbox's file-stream Kafka stand-in; a real
    deployment reads the actual topic, where arrival order is the
    broker's per-partition order."""
    import os

    env = orders_cdc_envelope(spark, sf_dir)
    stage = f"{out_dir.rstrip('/')}__stage"
    arrivals: list[str] = []
    os.makedirs(out_dir, exist_ok=True)
    for phase in (0, 1, 2):
        part = env.filter(F.col("__phase") == phase).drop("__phase")
        if files_per_phase == 1:
            part = part.coalesce(1)
        else:
            # hash on the unique lsn: deterministic file membership
            part = part.repartition(files_per_phase, F.col("source.lsn"))
        part.write.mode("overwrite").parquet(stage)
        files = sorted(f for f in os.listdir(stage)
                       if f.endswith(".parquet"))
        for f in files:
            dst = os.path.join(out_dir,
                               f"phase{phase}-{len(arrivals):04d}.parquet")
            os.replace(os.path.join(stage, f), dst)
            arrivals.append(dst)
    stamp_arrival_order(arrivals)
    import shutil
    shutil.rmtree(stage, ignore_errors=True)
