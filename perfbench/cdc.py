"""``cdc_upsert``: the write path with reads beside it.

A seeded Debezium change feed over ``orders`` (snapshot, then update,
delete and insert batches with hot keys and cross-partition moves) is
unwrapped by ``transforms.cdc_unwrap`` and merged batch by batch into a
Copy-on-Write ``UpsertTable`` partitioned by ``order_month``. Closed
loop: each batch arrives when the previous one and its reads are done.
After every commit the reference notebook's SQL reads run against the
table: a grouped status rollup and a point lookup of a hot key.
The snapshot is the sf0.1 ``orders`` table (150,000 rows over 80
monthly partitions).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import dashboard
import gen
from harness import p50, quantiles

BATCHES = 12
BATCH_ROWS = 500
#: merges measured even when they overrun the run length
MIN_MERGES = 3
#: table bootstraps: the first pays the JVM's warm-up and is not counted
SETUP_REPS = 2
#: untimed merges after set-up: the first incremental merge takes about
#: half as long again as the third and later ones
WARM_MERGES = 1
VIEW = "orders_cdc"


def _table_files(path: str) -> dict[str, int]:
    """Data file -> size, over the table directory."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _write_feed(feed, out_dir: str) -> list[str]:
    os.makedirs(out_dir)
    paths = []
    for i, batch in enumerate(feed):
        p = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        pq.write_table(gen.cdc_table(batch), p)
        paths.append(p)
    return paths


def upsert(ctx) -> dict:
    from kafka_connect_msk_demo_spark.streaming.upsert import UpsertTable
    from kafka_connect_msk_demo_spark.transforms import cdc_unwrap
    spark = ctx.spark

    def merge(table, path):
        with ctx.tracer.span("transforms.cdc_unwrap"):
            rows = cdc_unwrap(spark.read.parquet(path))
        with ctx.tracer.span("upsert.merge_batch"):
            table.merge_batch(rows)
        with ctx.tracer.span("upsert.register_view"):
            table.register_view(spark, VIEW)

    with ctx.tracer.span("gen.cdc"):
        feed = gen.cdc_feed(ctx.seed, BATCHES, BATCH_ROWS)
        paths = _write_feed(feed, ctx.path("feed"))

    def setup(rep):
        table = UpsertTable(ctx.path(f"orders-{rep}"), ["o_orderkey"],
                            "__source_ts_ms", "__lsn",
                            partition_by="order_month")
        merge(table, paths[0])        # the snapshot bootstraps the table
        return table

    table = ctx.repeat_setup(setup, reps=SETUP_REPS)
    r = np.random.default_rng([ctx.seed, 8])
    hot = [a[0] for _, _, _, a in feed[1] if a]
    reads = ["SELECT o_orderstatus, COUNT(*) AS orders, "
             f"SUM(o_totalprice) AS revenue FROM {VIEW} "
             "GROUP BY o_orderstatus ORDER BY o_orderstatus",
             f"SELECT * FROM {VIEW} WHERE o_orderkey = {{key}}"]
    stats = {"rewritten": 0, "files": 0, "bytes": 0, "amp": []}

    def cycle(i):
        """Merge change batch ``i``, then run the reads; returns the
        commit latency and the read latencies."""
        before = _table_files(table.path) if ctx.trace else {}
        t0 = time.perf_counter()
        merge(table, paths[i])
        commit = time.perf_counter() - t0
        if ctx.trace:
            after = _table_files(table.path)
            new = [p for p in after if p not in before]
            stats["rewritten"] += len({os.path.dirname(p) for p in new} | {
                os.path.dirname(p) for p in before if p not in after})
            stats["files"] += len(new)
            stats["bytes"] += sum(after[p] for p in new)
            stats["amp"].append(sum(pq.ParquetFile(p).metadata.num_rows
                                    for p in new) / len(feed[i]))
        took = []
        for sql in reads:
            key = hot[int(r.integers(0, len(hot)))]
            t0 = time.perf_counter()
            with ctx.tracer.span("sql.read"):
                spark.sql(sql.format(key=key)).collect()
            took.append(time.perf_counter() - t0)
        return commit, took

    for i in range(1, 1 + WARM_MERGES):
        cycle(i)
    stats.update(rewritten=0, files=0, bytes=0, amp=[])
    if ctx.rest:
        ctx.rest.mark()
    commit_s, read_s, done = [], [], 1 + WARM_MERGES
    w0 = time.time()
    while done < len(paths) and (len(commit_s) < MIN_MERGES
                                 or time.time() - w0 < ctx.seconds):
        commit, took = cycle(done)
        commit_s.append(commit)
        read_s += took
        done += 1
    elapsed = time.time() - w0
    layers = ctx.rest.metrics() if ctx.rest else {}
    changes = sum(len(b) for b in feed[1 + WARM_MERGES:done])

    want = gen.cdc_fold(feed[:done])
    cols = gen.CDC_COLS + ["__lsn"]
    got = {t[0]: t for t in table.read(spark).select(*cols).toPandas()
           .itertuples(index=False, name=None)}
    wrong = sum(got.get(k) != want.get(k) for k in set(got) | set(want))

    if ctx.trace:
        from bench import _force

        unwrap = []
        for _ in range(3):
            t0 = time.perf_counter()
            with ctx.tracer.span("transforms.unwrap_isolated"):
                _force(cdc_unwrap(spark.read.parquet(
                    *paths[1 + WARM_MERGES:done])))
            unwrap.append(time.perf_counter() - t0)
        layers.update({
            "transforms.unwrap_rows": float(changes),
            "transforms.unwrap_s": p50(unwrap),
            "upsert.merge_s_p50": p50(ctx.tracer.durations(
                "upsert.merge_batch")[SETUP_REPS + WARM_MERGES:]),
            "upsert.partitions_rewritten": float(stats["rewritten"]),
            "upsert.files_written": float(stats["files"]),
            "upsert.bytes_written": float(stats["bytes"]),
            "upsert.write_amplification": p50(stats["amp"]),
            "upsert.table_files": float(len(_table_files(table.path)))})
        timings, wrong_queries = dashboard.query_pass(ctx)
        layers.update(timings)
        wrong += wrong_queries
    layers.update({"gen.events": float(sum(len(b) for b in feed)),
                   "gen.files": float(len(paths))})
    cq, rq = quantiles(commit_s), quantiles(read_s)
    layers.update({"reads.p50_s": rq["p50"], "reads.p95_s": rq["tail"]})
    return {
        "e2e": {"events_per_s": changes / elapsed,
                "latency_p50_s": cq["p50"], "latency_p95_s": cq["tail"]},
        "layers": layers,
        # one operation per merged change row and per final table row,
        # and per dashboard query in the traced run
        "attempted": changes + len(want)
        + (len(dashboard.HEADLINE) if ctx.trace else 0),
        "failed": wrong,
        "details": {"batches_timed": done - 1 - WARM_MERGES,
                    "commit_latency": cq,
                    "commit_s": commit_s, "read_s": read_s,
                    "reads": rq, "wrong_rows": wrong},
    }
