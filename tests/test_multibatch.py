"""Multi-micro-batch streaming: the staged stream dirs are chunked so
``maxFilesPerTrigger=1`` yields genuinely incremental execution — state
restore/save and watermark advancement across several real micro-batches
within one availableNow drain (not a single-batch simulation)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_connect_msk_demo_spark.catalog import (STREAM_CHUNKS, load_table,
                                                  stream_table)
from kafka_connect_msk_demo_spark.streaming.runner import run_to_memory
from kafka_connect_msk_demo_spark.streaming.stateful import (
    latest_emission, running_user_stats)


def _input_rows(progress_entry):
    if isinstance(progress_entry, dict):
        return progress_entry["numInputRows"]
    return progress_entry.numInputRows


def test_running_user_stats_executes_multiple_microbatches(spark, sf_small):
    events = stream_table(spark, sf_small, "events",
                          max_files_per_trigger=1)
    progress: list = []
    drained = run_to_memory(running_user_stats(events), "update",
                            collect_progress=progress)
    data_batches = [p for p in progress if _input_rows(p) > 0]
    assert len(data_batches) >= min(3, STREAM_CHUNKS), \
        f"expected >=3 data micro-batches, got {len(data_batches)}"

    # state carried across batches: final n per user == batch groupBy count
    out = latest_emission(drained)
    truth = (load_table(spark, sf_small, "events")
             .groupBy("user_id").count())
    mismatches = (out.join(truth, "user_id")
                  .filter(F.col("n") != F.col("count")).count())
    assert mismatches == 0
    assert out.count() == truth.count()


def test_complete_mode_agg_spans_batches(spark, sf_small):
    """Complete-mode all-time agg over a chunked stream equals the batch
    answer — and executes one micro-batch per staged chunk."""
    from kafka_connect_msk_demo_spark.operators.aggregates import dec

    events = stream_table(spark, sf_small, "events",
                          max_files_per_trigger=1)
    agg = (events.groupBy("event_type")
           .agg(F.sum(dec("value", 25, 8)).cast("double").alias("sales"),
                F.count("value").alias("orders")))
    progress: list = []
    result = run_to_memory(agg, "complete", collect_progress=progress)
    data_batches = [p for p in progress if _input_rows(p) > 0]
    assert len(data_batches) == STREAM_CHUNKS

    truth = (load_table(spark, sf_small, "events")
             .groupBy("event_type")
             .agg(F.sum(dec("value", 25, 8)).cast("double").alias("sales"),
                  F.count("value").alias("orders")))
    assert sorted(map(tuple, result.collect())) == \
        sorted(map(tuple, truth.collect()))


def test_sorted_window_agg_runs_one_stateful_pass(spark, sf_small):
    """The sorted complete-mode window aggregate updates its state once
    per micro-batch. A global sort's range-partition sampler runs the
    stateful stage a second time, which commits every state partition
    twice and doubles ``numRowsTotal`` against the groups emitted. The
    final emission keeps the sort and equals the batch answer."""
    from kafka_connect_msk_demo_spark.operators.aggregates import (
        windowed_sum_count)

    events = stream_table(spark, sf_small, "events",
                          max_files_per_trigger=1)
    progress: list = []
    result = run_to_memory(
        windowed_sum_count(events, ["event_type"], "ts", "value"),
        "complete", collect_progress=progress)
    data_batches = [p for p in progress if _input_rows(p) > 0]
    assert len(data_batches) == STREAM_CHUNKS
    for p in data_batches:
        assert (p["stateOperators"][0]["numRowsTotal"]
                == p["sink"]["numOutputRows"]), p["batchId"]

    rows = result.collect()
    order = [(r["window_start"], r["sales"]) for r in rows]
    assert order == sorted(order, reverse=True)
    truth = windowed_sum_count(load_table(spark, sf_small, "events"),
                               ["event_type"], "ts", "value")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, truth.collect()))


def test_session_windows_merge_across_batches(spark, sf_small):
    """Session windows must MERGE state across micro-batches: a session
    whose events straddle a chunk boundary emits ONCE with the combined
    count. Proven by comparing the drained append output (finalized
    sessions only) against a batch-computed island sessionization under
    the same watermark cutoff — any double-emission or split session
    would break the row-for-row equality."""
    progress: list = []
    # re-run the registered query's internals with progress capture
    events = stream_table(spark, sf_small, "events",
                          max_files_per_trigger=1)
    sess = (events.withWatermark("ts", "10 minutes")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.unix_micros("session_window.start").alias("s_us"),
                    F.unix_micros("session_window.end").alias("e_us"),
                    "n_events"))
    out = run_to_memory(sess, "append", collect_progress=progress)
    data_batches = [p for p in progress if _input_rows(p) > 0]
    assert len(data_batches) >= min(3, STREAM_CHUNKS)

    ev = load_table(spark, sf_small, "events")
    w = Window.partitionBy("user_id").orderBy("us")
    gap = 30 * 60 * 1_000_000
    isl = (ev.select("user_id", F.unix_micros("ts").alias("us"))
           .withColumn("prev", F.lag("us").over(w))
           .withColumn("brk", F.when(F.col("prev").isNull()
                                     | (F.col("us") - F.col("prev") >= gap),
                                     1).otherwise(0))
           .withColumn("sid", F.sum("brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    cutoff = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] \
        - 10 * 60 * 1_000_000
    truth = (isl.groupBy("user_id", "sid")
             .agg(F.min("us").alias("s_us"),
                  (F.max("us") + gap).alias("e_us"),
                  F.count(F.lit(1)).alias("n_events"))
             .filter(F.col("e_us") <= cutoff)
             .drop("sid"))
    assert sorted(map(tuple, out.select("user_id", "s_us", "e_us",
                                        "n_events").collect())) == \
        sorted(map(tuple, truth.select("user_id", "s_us", "e_us",
                                       "n_events").collect()))


def test_rolling_anomaly_stream_spans_batches_and_matches_batch(
        spark, sf_small):
    """The streaming anomaly detector must fold its bounded state
    across >=3 real micro-batches and emit EXACTLY the batch
    operator's flag set — same rows, same integer diagnostics."""
    from kafka_connect_msk_demo_spark.operators.temporal import (
        rolling_zscore_anomalies,
    )
    from kafka_connect_msk_demo_spark.streaming.stateful import (
        rolling_anomaly_stream,
    )

    events = stream_table(spark, sf_small, "events",
                          max_files_per_trigger=1)
    progress: list = []
    drained = run_to_memory(rolling_anomaly_stream(events), "update",
                            collect_progress=progress)
    data_batches = [p for p in progress if _input_rows(p) > 0]
    assert len(data_batches) >= min(3, STREAM_CHUNKS)

    got = {(r.user_id, r.event_id, r.v_q, r.n_w, r.s_w)
           for r in drained.collect()}
    batch = rolling_zscore_anomalies(
        load_table(spark, sf_small, "events"),
        "user_id", ["ts", "event_id"], "value")
    want = {(r.user_id, r.event_id, r.v_q, r.n_w, r.s_w)
            for r in batch.collect()}
    assert got == want and want


def test_staged_chunks_have_strictly_increasing_mtimes(sf_small):
    """FileStreamSource orders pending files by modification time in
    MILLISECONDS — chunks written back-to-back land in the same
    millisecond and the tie order is the directory listing's, so
    micro-batches could deliver chunk 2 before chunk 1 and silently
    re-order every stateful event-time fold (this bit: the rolling
    anomaly stream folded part-0 then part-2, seeing 19 of 20 window
    rows). The staging layer must pin strictly increasing whole-second
    mtimes so ascending modTime IS the staged order."""
    import glob
    import os

    from kafka_connect_msk_demo_spark.catalog import _stream_dir

    d = _stream_dir(sf_small, "events")
    parts = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert len(parts) >= min(2, STREAM_CHUNKS)
    mtimes = [os.stat(p).st_mtime for p in parts]
    assert all(b - a >= 1.0 for a, b in zip(mtimes, mtimes[1:])), mtimes


def test_concurrent_stagers_each_get_a_whole_stage_gone_at_exit(
        sf_small, tmp_path):
    """N processes staging the same stream table at once each get a
    stage of their own in their own scratch root — full chunk set,
    every source row, strictly increasing mtimes — and each stage goes
    when its process exits, leaving nothing under ``TMPDIR``.
    Subprocesses, not ``multiprocessing`` forks: a fork child ends by
    ``os._exit`` and skips the exit hook."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    code = "\n".join([
        "import json, os, sys",
        "import pyarrow.parquet as pq",
        "from kafka_connect_msk_demo_spark.catalog import _stream_dir",
        f"d = _stream_dir({sf_small!r}, 'events', chunks=3)",
        "parts = sorted(f for f in os.listdir(d) if f.endswith('.parquet'))",
        "paths = [os.path.join(d, f) for f in parts]",
        "print(json.dumps({'dir': d, 'parts': len(parts),",
        "    'mtimes': [os.stat(p).st_mtime for p in paths],",
        "    'rows': sum(pq.read_metadata(p).num_rows for p in paths)}))"])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmpdir))
    procs = [subprocess.Popen([sys.executable, "-c", code], cwd=root,
                              env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True)
             for _ in range(4)]
    outs = [p.communicate(timeout=120) for p in procs]
    assert all(p.returncode == 0 for p in procs), [e for _, e in outs]
    stages = [json.loads(o) for o, _ in outs]
    want_rows = pq.read_metadata(f"{sf_small}/events.parquet").num_rows
    assert len({s["dir"] for s in stages}) == 4
    for s in stages:
        assert s["dir"].startswith(str(tmpdir))
        assert s["parts"] == 3 and s["rows"] == want_rows, s
        m = s["mtimes"]
        assert all(b - a >= 1.0 for a, b in zip(m, m[1:])), m
        assert not os.path.exists(s["dir"])
    assert not os.listdir(tmpdir), "stages left after their process exited"


def test_restaging_after_source_change_leaves_old_stage_whole(
        sf_small, tmp_path):
    """A stage is never rewritten: once the source's mtime changes,
    staging returns a NEW directory, and the old one keeps every chunk
    it had for a reader still listing it."""
    import os
    import shutil

    import pyarrow.parquet as pq

    import kafka_connect_msk_demo_spark.catalog as cat

    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "events.parquet"
    shutil.copyfile(f"{sf_small}/events.parquet", src)
    old = cat._stream_dir(str(sf), "events", chunks=3)
    before = {f: os.stat(os.path.join(old, f)).st_mtime_ns
              for f in os.listdir(old)}
    assert cat._stream_dir(str(sf), "events", chunks=3) == old
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = cat._stream_dir(str(sf), "events", chunks=3)
    assert new != old and os.path.dirname(new) == os.path.dirname(old)
    assert {f: os.stat(os.path.join(old, f)).st_mtime_ns
            for f in os.listdir(old)} == before
    assert sorted(os.listdir(new)) == sorted(before)
    rows = sum(pq.read_metadata(os.path.join(old, f)).num_rows
               for f in before)
    assert rows == pq.read_metadata(src).num_rows
    shutil.rmtree(old)
