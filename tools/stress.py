"""Adversarial stress harness — the round-7 campaign as one command.

The r7 report (tools/stress_r7_report.md) closed with: re-run the
randomized-feed + hostile-session-config recipe after any upsert /
serde / staging change. This makes that a command instead of prose.
Seeds come from the CLI so the committed tests stay deterministic;
every axis exits non-zero on the first divergence.

    python tools/stress.py --axis cdc --seeds 7000-7019
    python tools/stress.py --axis session --sf /root/testdata/sf0.001
    python tools/stress.py --axis all          # full campaign, default seeds

Axes (matching the r7 report rows):

  cdc      randomized CDC feeds -> CoW == MoR _rt == post-compact _ro
           == pure-Python latest-wins reference; random inline
           compaction bounds; partitioned AND unpartitioned; random
           retain_tombstones (None/1/3) with tombstone-window
           invariants against the persisted merge counter (r9);
           after batch 0 a partitioned table holds one base file per
           partition (the bulk-insert layout)
  jaccard  prefix-filtered == unfiltered exact Jaccard pairs at random
           (threshold, k)
  ranking  exact_global_rank/ntile vs a SQL window at random
           (n, k, fan-out), skewed keys
  chunks   stateful stream queries vs oracle at chunk counts 1/2/7
  shuffle  registry queries vs oracle under hostile
           spark.sql.shuffle.partitions (3 and 200)
  session  hostile session configs (AQE off, ANSI off, Arrow toggled,
           Asia/Kolkata) over the config-sensitive query subset
  staging  N processes staging the same stream table concurrently ->
           one whole stage each, in intact mtime order, and nothing
           left under TMPDIR after they exit
  avro     randomized write_avro/read_avro roundtrips: random
           primitive schemas, nulls, >2^53 longs
  extremes shuffle-partition EXTREMES (1 and 256) across the cdc and
           stateful axes (r10 ask: AQE is load-bearing in several
           plans; 1 strips parallelism, 256 floods tiny SFs with
           empty shuffle partitions)
  evolve   schema-evolution fuzz on the resolved-decode path (r11):
           random writer/reader pairs through the legal promotion
           matrix, union-order flips, dropped/added fields with
           defaults, mixed-writer directories
  contention  (r12, VERDICT r11 #5) TWO real Spark sessions (separate
           JVM subprocesses) interleaving MoR appends on the SAME
           partitioned table — one of them also racing inline
           compaction — while the parent session reads ``_rt``
           concurrently; random SIGKILL of one writer mid-run, then
           in-contract replay of its batches + final compaction.
           Asserts convergence to the pure-Python latest-wins
           reference and ENUMERATES every transient read failure the
           reader recovered from (a commit deletes the files it
           dropped under a running read — retried reads must
           succeed; divergence or a dead table is a failure).
           Contract notes: appends carry globally-distinct batch ids
           (two writers re-using an id is out of contract), and only
           ONE process may compact (compaction is read-modify-write
           on base).
  restartfuzz (r12, VERDICT r11 #6) checkpoint-restart fuzz for the
           applyInPandasWithState operators: a randomized event feed
           is cut into files at random boundaries, grouped into
           random drain sessions (each availableNow drain = a
           restart recovering state from the checkpoint), with
           maxFilesPerTrigger randomized so micro-batch boundaries
           move too; some seeds SIGKILL a subprocess driver mid-drain
           and resume from its checkpoint. The idempotent
           foreachBatch census (per-batch-id overwrite) must equal
           the pure-Python batch twin exactly.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

SF_SMALL = "/root/testdata/sf0.001"


def _parse_seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",") if s]


def _spark(name: str, **conf):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master("local[8]").appName(name)
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false"))
    for k, v in conf.items():
        b = b.config(k.replace("__", "."), v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s


def _fresh_spark(name: str, **conf):
    """Stop any live session first: hostile configs like timezone and
    ANSI must apply from session construction."""
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return _spark(name, **conf)


def _check(spark, names, sf_dir) -> list[str]:
    from kafka_connect_msk_demo_spark.oracle import check_query
    from kafka_connect_msk_demo_spark.queries import ALL_QUERIES
    bad = []
    for n in names:
        fn, sql = ALL_QUERIES[n]
        if not sql:
            continue
        try:
            issues = check_query(spark, n, fn, sql, sf_dir)
        except Exception as exc:  # noqa: BLE001
            issues = [f"exception: {exc!r:.200}"]
        print(f"  {n}: {'ok' if not issues else issues}", flush=True)
        if issues:
            bad.append(n)
    return bad


# -- axes -----------------------------------------------------------------

def axis_cdc(seeds: list[int], spark=None) -> int:
    from test_mor import _batch, _random_feed, _reference_state

    from kafka_connect_msk_demo_spark import tablelog
    from kafka_connect_msk_demo_spark.streaming.upsert import (
        MergeOnReadTable, UpsertTable)
    if spark is None:
        spark = _spark("stress-cdc")
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        feed = _random_feed(rng, n_batches=rng.randrange(3, 7),
                            n_keys=rng.randrange(4, 12))
        bound = rng.choice([None, 1, 2, 3])
        part = rng.choice(["part", None])
        # soft-delete retention sweeps alongside hard-delete (r9 ask):
        # in-contract feeds (suffix replay only) must converge to the
        # SAME live state under any retention window.
        retain = rng.choice([None, 1, 3])
        tmp = tempfile.mkdtemp(prefix=f"stress_cdc_{seed}_")
        try:
            cow = UpsertTable(path=os.path.join(tmp, "cow"),
                              key_cols=["id"], ordering_col="ts",
                              tiebreak_col="seq", partition_by=part,
                              retain_tombstones=retain)
            mor = MergeOnReadTable(path=os.path.join(tmp, "mor"),
                                   key_cols=["id"], ordering_col="ts",
                                   tiebreak_col="seq", partition_by=part,
                                   retain_tombstones=retain)
            if bound is not None:
                mor.max_delta_commits = bound
            bad = []
            for i, rows in enumerate(feed):
                cow.merge_batch(_batch(spark, rows), i)
                mor.append_batch(_batch(spark, rows), i)
                if i == 0 and part:
                    # the first write is a bulk insert: one base file
                    # per partition, as the log names them
                    for name, tbl in (("CoW", cow), ("MoR_base", mor.base)):
                        n = Counter(f["partition"] for f in tablelog
                                    .snapshot(spark, tbl.path).of("base"))
                        if any(c != 1 for c in n.values()):
                            bad.append(f"{name}_bulk_files_{dict(n)}")
            ref = _reference_state(feed)
            cols = ("id", "part", "val", "ts", "seq")
            states = {
                "CoW": {tuple(r) for r in
                        cow.read(spark).select(*cols).collect()},
                "MoR_rt": {tuple(r) for r in
                           mor.read_realtime(spark).select(*cols)
                           .collect()},
            }
            mor.compact(spark)
            states["MoR_ro_postcompact"] = {
                tuple(r) for r in
                mor.read_optimized(spark).select(*cols).collect()}
            bad += [k for k, v in states.items() if v != ref]
            if retain is not None:
                # retention invariants: the stamp column never
                # surfaces, and every STORED tombstone is within its
                # window of the logged merge sequence (no unbounded
                # tombstone accumulation, no early purge). Both come
                # from the newest table log entry.
                for name, tbl in (("CoW", cow), ("MoR_base", mor.base)):
                    if UpsertTable.TOMB_COL in tbl.read(spark).columns:
                        bad.append(f"{name}_stamp_surfaced")
                    snap = tablelog.snapshot(spark, tbl.path)
                    seq = snap.merge_seq
                    stored = tablelog.read(spark, tbl.path, snap,
                                           snap.of("base"))
                    if UpsertTable.TOMB_COL in stored.columns:
                        stale = (stored
                                 .filter(stored[UpsertTable.TOMB_COL]
                                         <= seq - retain).count())
                        if stale:
                            bad.append(f"{name}_{stale}_aged_tombstones")
            print(f"  seed {seed} (bound={bound}, part={part}, "
                  f"retain={retain}): "
                  f"{'ok' if not bad else 'DIVERGED ' + str(bad)}",
                  flush=True)
            fails += bool(bad)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return fails


def axis_jaccard(seeds: list[int]) -> int:
    from kafka_connect_msk_demo_spark.catalog import load_table
    from kafka_connect_msk_demo_spark.pipeline.dedup import jaccard_pairs
    spark = _spark("stress-jaccard")
    docs = load_table(spark, SF_SMALL, "documents")
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        t = rng.choice([0.5, 0.6, 0.7, 0.8, 0.9, 0.95])
        k = rng.choice([2, 3])
        on = {(r.d1, r.d2) for r in
              jaccard_pairs(docs, t, k, prefix_filter=True).collect()}
        off = {(r.d1, r.d2) for r in
               jaccard_pairs(docs, t, k, prefix_filter=False).collect()}
        ok = on == off
        print(f"  seed {seed} (t={t}, k={k}): "
              f"{'ok' if ok else f'DIVERGED |on|={len(on)} |off|={len(off)}'}",
              flush=True)
        fails += not ok
    return fails


def axis_ranking(seeds: list[int]) -> int:
    from pyspark.sql import functions as F

    from kafka_connect_msk_demo_spark.operators.ranking import (
        exact_global_ntile, exact_global_rank)
    spark = _spark("stress-ranking")
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        n = rng.randrange(1, 1001)
        k = rng.randrange(2, 101)
        fan = rng.randrange(1, 65)
        # skewed keys: 80% of rows land on 20% of the key space
        rows = [(i, rng.randrange(10) if rng.random() < 0.8
                 else rng.randrange(10, 1000)) for i in range(n)]
        df = (spark.createDataFrame(rows, "id long, v long")
              .repartition(fan))
        got_rank = {(r.id, r.rk) for r in
                    exact_global_rank(df, [F.col("v"), F.col("id")],
                                      out_col="rk").collect()}
        got_tile = {(r.id, r.tile) for r in
                    exact_global_ntile(df, k, [F.col("v"), F.col("id")],
                                       out_col="tile").collect()}
        df.createOrReplaceTempView("t")
        want_rank = {(r.id, r.rk) for r in spark.sql(
            "SELECT id, row_number() OVER (ORDER BY v, id) AS rk FROM t"
        ).collect()}
        want_tile = {(r.id, r.tile) for r in spark.sql(
            f"SELECT id, ntile({k}) OVER (ORDER BY v, id) AS tile FROM t"
        ).collect()}
        ok = got_rank == want_rank and got_tile == want_tile
        print(f"  seed {seed} (n={n}, k={k}, fan={fan}): "
              f"{'ok' if ok else 'DIVERGED'}", flush=True)
        fails += not ok
    return fails


#: stream queries whose state logic the chunk-count axis must not
#: depend on (micro-batch boundaries move with the chunk count)
CHUNK_QUERIES = ["stream_sales_by_type", "stream_record_high",
                 "stream_anomaly", "stream_ewma", "stream_topk_users",
                 "stream_windowed_by_type"]


def axis_chunks(counts: list[int]) -> int:
    from kafka_connect_msk_demo_spark.queries import ALL_QUERIES
    fails = 0
    for c in counts:
        os.environ["SPARK_GRAFT_STREAM_CHUNKS"] = str(c)
        # catalog reads the env var at import; force re-read
        import kafka_connect_msk_demo_spark.catalog as cat
        cat.STREAM_CHUNKS = c
        spark = _fresh_spark(f"stress-chunks-{c}")
        print(f" chunk count {c}:", flush=True)
        names = [n for n in CHUNK_QUERIES if n in ALL_QUERIES]
        fails += len(_check(spark, names, SF_SMALL))
    os.environ.pop("SPARK_GRAFT_STREAM_CHUNKS", None)
    return fails


#: partition-mechanics-sensitive subset for the hostile-shuffle axis
#: (full-registry runs pass --all-queries)
SHUFFLE_QUERIES = [
    "limit_offset", "top25_formatted", "window_battery",
    "dedup_minhash", "dedup_clusters", "sorted_neighborhood",
    "embedding_dup_pairs", "interpolated_series", "exact_percentiles",
    "stratified_sample", "revenue_by_region", "kcore_peel",
    "triangle_count", "stream_record_high", "cdc_upsert_mor",
]


def axis_shuffle(all_queries: bool) -> int:
    from kafka_connect_msk_demo_spark.queries import ALL_QUERIES
    fails = 0
    names = (list(ALL_QUERIES) if all_queries else
             [n for n in SHUFFLE_QUERIES if n in ALL_QUERIES])
    for parts in (3, 200):
        spark = _fresh_spark(f"stress-shuffle-{parts}",
                             spark__sql__shuffle__partitions=str(parts))
        print(f" shuffle.partitions={parts}:", flush=True)
        fails += len(_check(spark, names, SF_SMALL))
    return fails


#: stateful-stream subset for the shuffle-extremes axis: the chunked
#: stream queries plus the applyInPandasWithState family and the
#: window-heavy rolling anomaly
EXTREME_STATEFUL = CHUNK_QUERIES + [
    "stream_running_user_stats", "stream_dedup_keys",
    "stream_dedup_census", "rolling_anomaly"]


def axis_extremes(seeds: list[int]) -> int:
    """VERDICT r9 #4's new axis: shuffle-partition EXTREMES (1 and 256)
    across the cdc and stateful axes. AQE is documented load-bearing
    in several plans; partitions=1 strips all shuffle parallelism
    (exercising single-partition window/agg edge cases) and 256
    over-parallelizes the tiny SF (hundreds of EMPTY shuffle
    partitions feeding stateful operators) — results must be identical
    either way."""
    from kafka_connect_msk_demo_spark.queries import ALL_QUERIES
    fails = 0
    for parts in (1, 256):
        spark = _fresh_spark(f"stress-extremes-{parts}",
                             spark__sql__shuffle__partitions=str(parts))
        print(f" shuffle.partitions={parts} stateful:", flush=True)
        names = [n for n in EXTREME_STATEFUL if n in ALL_QUERIES]
        fails += len(_check(spark, names, SF_SMALL))
        print(f" shuffle.partitions={parts} cdc:", flush=True)
        fails += axis_cdc(seeds, spark=spark)
    return fails


#: config-sensitive subset: pandas-UDF/decimal-heavy, arithmetic-heavy,
#: time-sensitive, join/iteration-heavy representatives
SESSION_QUERIES = [
    "sales_by_country_decimal", "avro_roundtrip", "serde_json_roundtrip",
    "summary_stats", "exact_percentiles", "case_interval",
    "windowed_sales", "time_formatted", "trailing_revenue",
    "revenue_by_region", "dedup_clusters", "kcore_peel",
    "embedding_dup_pairs", "kmv_set_ops", "stream_windowed_by_type",
    "cdc_scd2", "asof_attribution",
]

SESSION_CONFIGS = [
    ("aqe-off", {"spark__sql__adaptive__enabled": "false"}),
    ("ansi-off", {"spark__sql__ansi__enabled": "false"}),
    ("arrow-on", {"spark__sql__execution__arrow__pyspark__enabled":
                  "true"}),
    ("kolkata", {"spark__sql__session__timeZone": "Asia/Kolkata"}),
]


def axis_session() -> int:
    from kafka_connect_msk_demo_spark.queries import ALL_QUERIES
    names = [n for n in SESSION_QUERIES if n in ALL_QUERIES]
    fails = 0
    for label, conf in SESSION_CONFIGS:
        spark = _fresh_spark(f"stress-{label}", **conf)
        print(f" {label}:", flush=True)
        fails += len(_check(spark, names, SF_SMALL))
    return fails


def axis_staging(n_procs: int = 4) -> int:
    """Start N processes that all stage the same stream table at once
    under a fresh ``TMPDIR``. Each stages a copy of its own in its own
    scratch root: every one must hold the whole chunk set, every source
    row, in strictly increasing mtime order, and nothing may be left
    under ``TMPDIR`` once they have exited."""
    import json
    import subprocess

    import pyarrow.parquet as pq

    from kafka_connect_msk_demo_spark.catalog import STREAM_CHUNKS
    root = tempfile.mkdtemp(prefix="stress-staging-")
    env = dict(os.environ, TMPDIR=root)  # every process races the real work
    code = "\n".join([
        "import json, os, sys",
        f"sys.path.insert(0, {ROOT!r})",
        "import pyarrow.parquet as pq",
        "from kafka_connect_msk_demo_spark.catalog import _stream_dir",
        f"d = _stream_dir({SF_SMALL!r}, 'events')",
        "paths = sorted(os.path.join(d, f) for f in os.listdir(d)",
        "               if f.endswith('.parquet'))",
        "print(json.dumps({'dir': d,",
        "    'mtimes': [os.stat(p).st_mtime_ns for p in paths],",
        "    'rows': sum(pq.read_metadata(p).num_rows for p in paths)}))"])
    want_rows = pq.read_metadata(f"{SF_SMALL}/events.parquet").num_rows
    want_parts = max(1, min(STREAM_CHUNKS, want_rows))
    try:
        procs = [subprocess.Popen([sys.executable, "-c", code], env=env,
                                  stdout=subprocess.PIPE)
                 for _ in range(n_procs)]
        outs = [p.communicate()[0].decode() for p in procs]
        codes = [p.returncode for p in procs]
        ok = all(c == 0 for c in codes)
        if ok:
            stages = [json.loads(o) for o in outs]
            whole = sum(len(st["mtimes"]) == want_parts
                        and st["rows"] == want_rows
                        and all(a < b for a, b in zip(st["mtimes"],
                                                      st["mtimes"][1:]))
                        for st in stages)
            own = len({st["dir"] for st in stages})
            left = os.listdir(root)
            print(f"  {n_procs} processes -> {own} stages, {whole} whole "
                  f"in mtime order, {left or 'nothing'} left under TMPDIR",
                  flush=True)
            ok = own == whole == n_procs and not left
        else:
            print(f"  FAILED: exit codes {codes}", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0 if ok else 1


AVRO_TYPES = ["long", "int", "double", "string", "boolean"]


def axis_avro(seeds: list[int]) -> int:
    import pandas as pd

    from kafka_connect_msk_demo_spark.sources.files import (
        read_avro, write_avro)
    spark = _spark("stress-avro")
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        nfields = rng.randrange(1, 6)
        fields, sparkf = [], []
        for i in range(nfields):
            t = rng.choice(AVRO_TYPES)
            fields.append({"name": f"f{i}",
                           "type": ["null", t] if rng.random() < 0.5
                           else t})
            sparkf.append(
                f"f{i} {'bigint' if t == 'long' else t}"
                .replace("boolean", "boolean").replace("double", "double"))
        avro_json = __import__("json").dumps(
            {"type": "record", "name": "R", "fields": fields})
        nrows = rng.randrange(1, 40)

        def val(t, nullable, rng=rng):
            if nullable and rng.random() < 0.3:
                return None
            if t == "long":
                # bias to the hazardous magnitudes
                return rng.choice([rng.randrange(-100, 100),
                                   2 ** 62 + rng.randrange(100),
                                   -(2 ** 62) - rng.randrange(100)])
            if t == "int":
                return rng.randrange(-2 ** 31, 2 ** 31)
            if t == "double":
                return rng.uniform(-1e6, 1e6)
            if t == "string":
                return "".join(rng.choice("abcxyz")
                               for _ in range(rng.randrange(0, 9)))
            return rng.random() < 0.5
        rows = [tuple(val(f["type"][-1] if isinstance(f["type"], list)
                          else f["type"],
                          isinstance(f["type"], list))
                      for f in fields) for _ in range(nrows)]
        from pyspark.sql import types as T
        _map = {"long": T.LongType(), "int": T.IntegerType(),
                "double": T.DoubleType(), "string": T.StringType(),
                "boolean": T.BooleanType()}
        schema = T.StructType([
            T.StructField(f["name"],
                          _map[f["type"][-1] if isinstance(f["type"], list)
                               else f["type"]],
                          isinstance(f["type"], list))
            for f in fields])
        df = spark.createDataFrame(rows, schema).coalesce(1)
        tmp = tempfile.mkdtemp(prefix=f"stress_avro_{seed}_")
        try:
            write_avro(df, os.path.join(tmp, "out"), avro_json)
            back = read_avro(spark, os.path.join(tmp, "out"), avro_json,
                             schema)
            want = sorted(map(tuple, rows),
                          key=lambda r: tuple((x is None, x) for x in r))
            got = sorted((tuple(r) for r in back.collect()),
                         key=lambda r: tuple((x is None, x) for x in r))
            # doubles compare exactly: the codec is bit-preserving
            ok = want == got
            print(f"  seed {seed} ({nfields} fields, {nrows} rows): "
                  f"{'ok' if ok else 'DIVERGED'}", flush=True)
            if not ok:
                fails += 1
                for w, g in zip(want, got):
                    if w != g:
                        print(f"    want {w}\n    got  {g}", flush=True)
                        break
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return fails


def axis_evolve(seeds: list[int]) -> int:
    """Schema-evolution fuzz on the resolved-decode path (r10 VERDICT
    ask #6 — the one codec surface without a randomized campaign):
    random WRITER schemas decoded through random READER schemas via
    ``read_avro(resolve=True)``, against a pure-Python expectation.

    Randomized per seed: field types (all 7 primitives), union
    nullability AND union branch order (["null",t] vs [t,"null"]),
    legal promotions from serde._PROMOTIONS (int→long/float/double,
    long→float/double, float→double, string↔bytes), writer-only
    fields (decode-and-skip), reader-only fields with defaults (plain
    and nullable-with-null-default), shuffled reader field order, and
    — on even seeds — a second OCF file in the same directory written
    with the READER schema itself, so one read spans two writer
    schemas (the directory-lifetime case resolution exists for)."""
    import json as _json

    import numpy as np
    from pyspark.sql import types as T

    from kafka_connect_msk_demo_spark.serde import _PROMOTIONS
    from kafka_connect_msk_demo_spark.sources.files import (
        read_avro, write_avro)

    spark = _spark("stress-evolve")
    types_all = ["int", "long", "float", "double", "string", "bytes",
                 "boolean"]
    spark_of = {"int": T.IntegerType(), "long": T.LongType(),
                "float": T.FloatType(), "double": T.DoubleType(),
                "string": T.StringType(), "bytes": T.BinaryType(),
                "boolean": T.BooleanType()}

    def gen_val(t, rng):
        if t == "int":
            return rng.randrange(-2**31, 2**31)
        if t == "long":
            return rng.choice([rng.randrange(-100, 100),
                               2**62 + rng.randrange(100),
                               -(2**62) - rng.randrange(100)])
        if t == "float":
            return float(np.float32(rng.uniform(-1e6, 1e6)))
        if t == "double":
            return rng.uniform(-1e6, 1e6)
        if t == "string":
            return "".join(rng.choice("abc déf") for _ in
                           range(rng.randrange(0, 9)))
        if t == "bytes":
            # UTF-8-valid bytes: the spec's bytes->string promotion
            # assumes the payload is encoded text (arbitrary binary
            # through that promotion is a caller error, not a codec
            # surface) — but keep multi-byte sequences in play
            return "".join(rng.choice("abc déf\u20ac") for _ in
                           range(rng.randrange(0, 9))).encode("utf-8")
        return rng.random() < 0.5

    def promote_val(v, w, r):
        if v is None or w == r:
            return v
        if r == "float":
            return float(np.float32(v))
        if r == "double":
            return float(v)
        if r == "long":
            return v
        if r == "bytes":
            return v.encode("utf-8")
        if r == "string":
            return v.decode("utf-8")
        raise AssertionError((w, r))

    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        nfields = rng.randrange(2, 7)
        writer_fields = []
        for i in range(nfields):
            t = rng.choice(types_all)
            nullable = rng.random() < 0.5
            wtyp = (rng.choice([["null", t], [t, "null"]])
                    if nullable else t)
            writer_fields.append({"name": f"f{i}", "type": wtyp})
        # reader: keep / promote / drop each writer field
        reader_fields, kept = [], []
        for f in writer_fields:
            base = f["type"][1 - f["type"].index("null")] \
                if isinstance(f["type"], list) else f["type"]
            action = rng.random()
            if action < 0.2:
                continue  # writer-only: decode-and-skip
            r_base = base
            if action < 0.5:
                promos = [r for (w, r) in _PROMOTIONS if w == base]
                if promos:
                    r_base = rng.choice(promos)
            rtyp = (rng.choice([["null", r_base], [r_base, "null"]])
                    if isinstance(f["type"], list) else r_base)
            reader_fields.append({"name": f["name"], "type": rtyp})
            kept.append((f["name"], base, r_base))
        if not reader_fields:
            reader_fields.append(dict(writer_fields[0]))
            f = writer_fields[0]
            base = f["type"][1 - f["type"].index("null")] \
                if isinstance(f["type"], list) else f["type"]
            kept.append((f["name"], base, base))
        # reader-only fields with defaults
        added = []
        for i in range(rng.randrange(0, 3)):
            t = rng.choice(["int", "long", "double", "string", "boolean"])
            if rng.random() < 0.4:
                reader_fields.append({"name": f"new{i}",
                                      "type": ["null", t],
                                      "default": None})
                added.append((f"new{i}", t, None, True))
            else:
                dv = gen_val(t, rng)
                reader_fields.append({"name": f"new{i}", "type": t,
                                      "default": dv})
                added.append((f"new{i}", t, dv, False))
        rng.shuffle(reader_fields)
        writer_json = _json.dumps(
            {"type": "record", "name": "R", "fields": writer_fields})
        reader_json = _json.dumps(
            {"type": "record", "name": "R", "fields": reader_fields})

        def fbase(f):
            return (f["type"][1 - f["type"].index("null")]
                    if isinstance(f["type"], list) else f["type"])

        nrows = rng.randrange(1, 30)
        w_rows = [tuple(
            None if isinstance(f["type"], list) and rng.random() < 0.3
            else gen_val(fbase(f), rng) for f in writer_fields)
            for _ in range(nrows)]
        w_schema = T.StructType([
            T.StructField(f["name"], spark_of[fbase(f)],
                          isinstance(f["type"], list))
            for f in writer_fields])
        r_schema = T.StructType([
            T.StructField(f["name"], spark_of[fbase(f)],
                          isinstance(f["type"], list)
                          or "default" in f)
            for f in reader_fields])
        # expected: writer rows resolved to reader shape, python-side
        w_idx = {f["name"]: i for i, f in enumerate(writer_fields)}
        kept_map = {n: (w, r) for n, w, r in kept}
        add_map = {n: dv for n, _t, dv, _nl in added}

        def resolve_row(row):
            out = []
            for f in reader_fields:
                n = f["name"]
                if n in kept_map:
                    w, r = kept_map[n]
                    out.append(promote_val(row[w_idx[n]], w, r))
                else:
                    out.append(add_map[n])
            return tuple(out)

        want = [resolve_row(r) for r in w_rows]
        tmp = tempfile.mkdtemp(prefix=f"stress_evolve_{seed}_")
        try:
            df = spark.createDataFrame(w_rows, w_schema).coalesce(1)
            write_avro(df, os.path.join(tmp, "out"), writer_json)
            if seed % 2 == 0:
                # second file written with the READER schema itself —
                # identity resolution in the same directory read
                os.rename(os.path.join(tmp, "out", "part-00000.avro"),
                          os.path.join(tmp, "out", "part-w0.avro"))
                r_rows = [tuple(
                    None if (isinstance(f["type"], list)
                             and "default" not in f
                             and rng.random() < 0.3)
                    else (add_map[f["name"]] if f["name"] in add_map
                          else gen_val(fbase(f), rng))
                    for f in reader_fields) for _ in range(5)]
                df2 = spark.createDataFrame(r_rows, r_schema).coalesce(1)
                write_avro(df2, os.path.join(tmp, "out"), reader_json)
                want = want + r_rows
            back = read_avro(spark, os.path.join(tmp, "out"),
                             reader_json, r_schema, resolve=True)
            got = [tuple(r) for r in back.collect()]
            key = (lambda r: tuple((x is None, repr(type(x)), x)
                                   for x in r))
            ok = sorted(want, key=key) == sorted(got, key=key)
            print(f"  seed {seed} ({len(writer_fields)}w/"
                  f"{len(reader_fields)}r fields, {len(want)} rows): "
                  f"{'ok' if ok else 'DIVERGED'}", flush=True)
            if not ok:
                fails += 1
                for w, g in zip(sorted(want, key=key),
                                sorted(got, key=key)):
                    if w != g:
                        print(f"    want {w}\n    got  {g}", flush=True)
                        break
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return fails


#: subprocess body for the contention axis: a REAL second session
#: (own JVM) appending its assigned batches to the shared MoR table,
#: optionally racing inline compaction between appends.
_CONTENTION_WRITER = r"""
import json, random, sys, time
spec = json.load(open(sys.argv[1]))
sys.path.insert(0, spec["root"])
from pyspark.sql import SparkSession
from kafka_connect_msk_demo_spark.streaming.upsert import MergeOnReadTable
spark = (SparkSession.builder.master("local[2]")
         .appName(spec["name"])
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
t = MergeOnReadTable(path=spec["path"], key_cols=["id"],
                     ordering_col="ts", tiebreak_col="seq",
                     partition_by="part",
                     retain_tombstones=spec["retain"])
rng = random.Random(spec["seed"])
for bid, rows in spec["batches"]:
    df = spark.createDataFrame(
        [tuple(r) for r in rows],
        "id int, part string, val string, ts bigint, seq int, "
        "__deleted string")
    t.append_batch(df, bid)
    print("APPENDED", bid, flush=True)
    if spec["compactor"] and rng.random() < 0.5:
        t.compact(spark)
        print("COMPACTED", flush=True)
    time.sleep(rng.uniform(0.02, 0.3))
print("WRITER_DONE", flush=True)
"""


def axis_contention(seeds: list[int]) -> int:
    """VERDICT r11 #5: two real sessions racing MoR append/compaction
    on one table + concurrent ``_rt`` reads + SIGKILL injection.

    In-contract concurrency being exercised: appends with distinct
    batch ids and an inline compaction are table-log commits that may
    race; a commit that loses the publish moves onto the newer version
    (an append only adds delta files, so it passes other appends and a
    compaction) or, on a real conflict, retries from a fresh snapshot. `_rt` readers may
    transiently fail while a commit deletes the files it dropped — the
    axis counts those as
    recovered-from races (each must succeed on retry). A SIGKILLed
    writer is recovered the way Structured Streaming would: replay
    only from its first UNACKNOWLEDGED batch (the checkpoint-recovery
    model — append is idempotent: a batch id's commit replaces that
    id's earlier deltas, and latest-wins), then compact.

    The table runs with ``retain_tombstones`` sized past the
    campaign's merge count: with two INDEPENDENT writers there is no
    global suffix to replay, so a crash-replayed batch can be an
    ISOLATED replay relative to the other writer's already-folded
    deletes — exactly the resurrection hazard hard-delete mode's
    suffix-replay delivery contract excludes and retention mode
    absorbs (streaming/upsert.py UpsertTable.__init__). The first cut
    of this axis replayed ALL of the killed writer's batches against
    retain_tombstones=None and reproduced the resurrection on seed
    8201 — a correct failure of an out-of-contract recovery, now
    pinned as the axis's design note rather than rediscovered each
    campaign. Failure = final `_rt`/`_ro` diverging from the
    pure-Python reference, or a read that NEVER recovers."""
    import json
    import signal
    import subprocess
    import time

    from test_mor import _batch, _random_feed, _reference_state

    from kafka_connect_msk_demo_spark.streaming.upsert import (
        MergeOnReadTable)

    spark = _spark("stress-contention")
    fails = 0
    for seed in seeds:
        rng = random.Random(seed)
        feed = _random_feed(rng, n_batches=rng.randrange(6, 10),
                            n_keys=rng.randrange(5, 12))
        kill_mode = rng.choice([None, 0, 1])  # which writer to SIGKILL
        # retention window larger than any merge count this campaign
        # can produce (inline compacts + final): isolated crash
        # replays stay within the resurrection-protection window
        retain = 64
        tmp = tempfile.mkdtemp(prefix=f"stress_cont_{seed}_")
        table = os.path.join(tmp, "mor")
        t = MergeOnReadTable(path=table, key_cols=["id"],
                             ordering_col="ts", tiebreak_col="seq",
                             partition_by="part",
                             retain_tombstones=retain)
        races, bad = [], []
        try:
            # batch 0 = bulk insert, done single-writer (initial
            # insert is not a concurrent surface: first commit
            # creates the base, like DeltaStreamer's bootstrap)
            t.append_batch(_batch(spark, feed[0]), 0)
            # split remaining batches alternately; ids stay globally
            # distinct; exactly ONE writer may compact (contract)
            assign = [[], []]
            for i, rows in enumerate(feed[1:], start=1):
                assign[i % 2].append((i, rows))
            specs, procs, outs = [], [], []
            for w in (0, 1):
                spec = {"root": ROOT, "name": f"cont-{seed}-w{w}",
                        "path": table, "seed": seed * 10 + w,
                        "compactor": w == 0, "retain": retain,
                        "batches": assign[w]}
                sp = os.path.join(tmp, f"w{w}.json")
                with open(sp, "w") as fh:
                    json.dump(spec, fh)
                specs.append(spec)
            script = os.path.join(tmp, "writer.py")
            with open(script, "w") as fh:
                fh.write(_CONTENTION_WRITER)
            for w in (0, 1):
                # stdout captured: "APPENDED <id>" acks drive the
                # checkpoint-recovery replay after a kill
                outs.append(open(os.path.join(tmp, f"w{w}.out"), "w"))
                procs.append(subprocess.Popen(
                    [sys.executable, script,
                     os.path.join(tmp, f"w{w}.json")],
                    stdout=outs[w], stderr=subprocess.DEVNULL))
            deadline = time.time() + rng.uniform(8, 20)
            killed = None
            # concurrent reader: every _rt read must succeed, possibly
            # after retries (compaction may yank files under the plan)
            while any(p.poll() is None for p in procs):
                try:
                    t.read_realtime(spark).count()
                except Exception as exc:  # noqa: BLE001 - enumerate
                    races.append(f"rt_read: {type(exc).__name__}")
                if (kill_mode is not None and killed is None
                        and time.time() > deadline
                        and procs[kill_mode].poll() is None):
                    procs[kill_mode].send_signal(signal.SIGKILL)
                    killed = kill_mode
                time.sleep(rng.uniform(0.05, 0.3))
            codes = [p.wait() for p in procs]
            for fh in outs:
                fh.close()
            for w, c in enumerate(codes):
                if c not in (0, -signal.SIGKILL):
                    bad.append(f"writer{w}_exit_{c}")
            # checkpoint-style recovery: replay from the killed
            # writer's first UNACKNOWLEDGED batch (idempotent — a
            # batch committed but killed before the print simply
            # replaces its own deltas)
            if killed is not None:
                with open(os.path.join(tmp, f"w{killed}.out")) as fh:
                    acked = {int(line.split()[1]) for line in fh
                             if line.startswith("APPENDED")}
                replay = [(bid, rows) for bid, rows
                          in specs[killed]["batches"]
                          if bid not in acked]
                for bid, rows in replay:
                    t.append_batch(_batch(spark, rows), bid)
            t.compact(spark)
            ref = _reference_state(feed)
            cols = ("id", "part", "val", "ts", "seq")
            rt = {tuple(r) for r in
                  t.read_realtime(spark).select(*cols).collect()}
            ro = {tuple(r) for r in
                  t.read_optimized(spark).select(*cols).collect()}
            if rt != ref:
                bad.append("rt_diverged")
            if ro != ref:
                bad.append("ro_diverged")
            print(f"  seed {seed} (killed={killed}): "
                  f"{'ok' if not bad else 'FAILED ' + str(bad)}; "
                  f"recovered races: {races if races else 'none'}",
                  flush=True)
            fails += bool(bad)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return fails


#: subprocess body for restartfuzz SIGKILL seeds: drives the stateful
#: query over whatever source files exist, then idles so the parent
#: can SIGKILL it at an arbitrary moment mid- or post-drain.
_RESTART_DRIVER = r"""
import json, sys
spec = json.load(open(sys.argv[1]))
sys.path.insert(0, spec["root"])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .appName("restartfuzz-driver")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import restartfuzz_common as C
C.drain(spark, spec["op"], spec["src"], spec["sink"], spec["ckpt"],
        max_files=spec["max_files"])
print("DRAIN_DONE", flush=True)
"""


def axis_restartfuzz(seeds: list[int]) -> int:
    """VERDICT r11 #6: checkpoint-restart fuzz for the
    applyInPandasWithState operators (streaming/stateful.py).

    Per seed: a randomized per-key event feed is sorted by (ts, id),
    cut into files at random boundaries, and the files are grouped
    into random DRAIN SESSIONS. Each session is an availableNow run
    that recovers operator state from the checkpoint — i.e. a restart
    at a micro-batch boundary; maxFilesPerTrigger is randomized so the
    boundaries inside a session move too. Two seeds per run drive the
    stream in a SUBPROCESS and SIGKILL it mid-drain, then resume from
    its checkpoint in-process (replaying the torn micro-batch).

    The sink is an idempotent foreachBatch census: each micro-batch
    overwrites ``batch=<id>`` under the sink dir, so a replayed batch
    after a kill cannot double-count. The census must equal the
    pure-Python batch twin EXACTLY (same folds, same null handling)."""
    import importlib
    import signal
    import subprocess
    import time as _time

    sys.path.insert(0, HERE)
    C = importlib.import_module("restartfuzz_common")

    fails = 0
    spark = _fresh_spark("stress-restartfuzz",
                         spark__sql__session__timeZone="UTC")
    for idx, seed in enumerate(seeds):
        rng = random.Random(seed)
        op = rng.choice(["running_stats", "record_high", "ewma"])
        rows = C.gen_feed(rng)
        tmp = tempfile.mkdtemp(prefix=f"stress_rf_{seed}_")
        src = os.path.join(tmp, "src")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)
        try:
            files = C.cut_files(rng, rows)
            use_kill = idx < 2  # two SIGKILL seeds per campaign
            if use_kill:
                # write ALL files up front; subprocess starts draining
                # with 1-file micro-batches; parent kills it mid-run
                C.write_files(src, files)
                import json as _json
                spec = {"root": ROOT, "op": op, "src": src,
                        "sink": sink, "ckpt": ckpt, "max_files": 1}
                sp = os.path.join(tmp, "spec.json")
                with open(sp, "w") as fh:
                    _json.dump(spec, fh)
                script = os.path.join(tmp, "driver.py")
                with open(script, "w") as fh:
                    fh.write(_RESTART_DRIVER)
                env = dict(os.environ)
                env["PYTHONPATH"] = HERE + os.pathsep \
                    + env.get("PYTHONPATH", "")
                p = subprocess.Popen([sys.executable, script, sp],
                                     stdout=subprocess.DEVNULL,
                                     stderr=subprocess.DEVNULL, env=env)
                _time.sleep(rng.uniform(8, 16))
                p.send_signal(signal.SIGKILL)
                p.wait()
                # resume from the torn checkpoint in-process
                C.drain(spark, op, src, sink, ckpt, max_files=1)
            else:
                # in-process restart fuzz: random session grouping
                sessions = C.group_sessions(rng, files)
                written = 0
                for sess in sessions:
                    C.write_files(src, files[written:written +
                                             len(sess)],
                                  offset=written)
                    written += len(sess)
                    C.drain(spark, op, src, sink, ckpt,
                            max_files=rng.choice([1, 2, None]))
            got = C.census(spark, op, sink)
            want = C.reference(op, rows)
            ok = got == want
            if not ok:
                extra = sorted(got - want)[:3]
                missing = sorted(want - got)[:3]
                print(f"    extra={extra} missing={missing}",
                      flush=True)
            print(f"  seed {seed} ({op}, "
                  f"{'SIGKILL' if use_kill else 'restarts'}): "
                  f"{'ok' if ok else 'DIVERGED'} "
                  f"({len(got)}/{len(want)} rows)", flush=True)
            fails += not ok
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return fails


#: the seeded axes, each with the share of :data:`DEFAULT_SEEDS` it runs
#: (None: all of it); a ``--seeds`` range given on the command line runs
#: whole on every axis
SEEDED_AXES = {"cdc": (axis_cdc, None), "jaccard": (axis_jaccard, 6),
               "ranking": (axis_ranking, 8), "avro": (axis_avro, None),
               "extremes": (axis_extremes, 8), "evolve": (axis_evolve, None),
               "contention": (axis_contention, 4),
               "restartfuzz": (axis_restartfuzz, 8)}
DEFAULT_SEEDS = "7000-7019"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--axis", default="all",
                    choices=["cdc", "jaccard", "ranking", "chunks",
                             "shuffle", "session", "staging", "avro",
                             "extremes", "evolve", "contention",
                             "restartfuzz", "all"])
    ap.add_argument("--seeds",
                    help="range lo-hi or comma list for the seeded axes, "
                         "run whole (default: a per-axis prefix of "
                         f"{DEFAULT_SEEDS})")
    ap.add_argument("--chunk-counts", default="1,2,7")
    ap.add_argument("--all-queries", action="store_true",
                    help="shuffle axis: full registry instead of the "
                         "sensitive subset")
    ap.add_argument("--procs", type=int, default=4,
                    help="staging axis: concurrent processes")
    args = ap.parse_args()
    seeds = _parse_seeds(args.seeds or DEFAULT_SEEDS)
    fails = 0
    axes = ([args.axis] if args.axis != "all" else
            ["cdc", "jaccard", "ranking", "chunks", "shuffle",
             "session", "staging", "avro", "extremes", "evolve",
             "contention", "restartfuzz"])
    for axis in axes:
        print(f"axis: {axis}", flush=True)
        if axis in SEEDED_AXES:
            fn, cap = SEEDED_AXES[axis]
            run = seeds if args.seeds else seeds[:cap]
            print(f" seeds ({len(run)}): {' '.join(map(str, run))}",
                  flush=True)
            fails += fn(run)
        elif axis == "chunks":
            fails += axis_chunks(
                [int(c) for c in args.chunk_counts.split(",")])
        elif axis == "shuffle":
            fails += axis_shuffle(args.all_queries)
        elif axis == "session":
            fails += axis_session()
        elif axis == "staging":
            fails += axis_staging(args.procs)
    print(f"stress: {'CLEAN' if not fails else f'{fails} FAILURES'}",
          flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
