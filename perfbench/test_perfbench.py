"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import run
import streams
import dashboard
from harness import assign_batches, event_times, parse_metric, tail_quantile

# ---------------------------------------------------------------------------
# The generator is deterministic for a given seed
# ---------------------------------------------------------------------------


def test_events_repeat_for_a_seed_and_differ_across_seeds():
    a, b = gen.events(5, 2000, 300), gen.events(5, 2000, 300)
    for k in a:
        assert np.array_equal(a[k], b[k]), k
    assert not np.array_equal(a["user_id"], gen.events(6, 2000, 300)
                              ["user_id"])


def test_encoded_streams_and_feed_repeat_for_a_seed():
    ev, created = gen.events(3, 500, 100), np.arange(500)
    assert gen.avro_values(ev, 0, 500, created).equals(
        gen.avro_values(ev, 0, 500, created))
    assert gen.json_values(ev, 0, 500, created) == \
        gen.json_values(ev, 0, 500, created)
    feed = lambda seed: gen.cdc_feed(seed, 4, 50, n_orders=2000)  # noqa
    assert feed(3) == feed(3)
    assert feed(3) != feed(4)


def test_tables_repeat_for_a_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(3, str(tmp_path / d))
    for t in gen.SF01:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet")), t


def test_tables_have_the_sf01_row_counts(tmp_path):
    gen.write_tables(3, str(tmp_path))
    for t, n in gen.SF01.items():
        assert pq.ParquetFile(tmp_path / f"{t}.parquet").metadata.num_rows \
            == n, t


def test_snapshot_is_the_orders_table_by_month():
    snapshot = gen.cdc_feed(3, 0, 10)[0]
    assert len(snapshot) == gen.SF01["orders"]
    months = {rec[4] for _, _, _, rec in snapshot}
    assert len(months) == 80 and min(months) == "1995-01" \
        and max(months) == "2001-08"


def test_cdc_fold_applies_latest_change_and_deletes():
    rec = lambda k, s: (k, 1, s, 10.0, "2019-01")  # noqa: E731
    feed = [[("r", 0, None, rec(1, "O")), ("r", 1, None, rec(2, "O"))],
            [("u", 2, rec(1, "O"), rec(1, "F")), ("d", 3, rec(2, "O"), None),
             ("c", 4, None, rec(3, "P"))]]
    assert gen.cdc_fold(feed) == {1: rec(1, "F") + (2,), 3: rec(3, "P") + (4,)}


# ---------------------------------------------------------------------------
# Per-event latency from cumulative numInputRows on synthetic progress
# ---------------------------------------------------------------------------

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()


def _batch(batch_id, rows, start_offset_s):
    ts = datetime.fromtimestamp(T0 + start_offset_s, timezone.utc)
    return {"batchId": batch_id, "numInputRows": rows,
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"}


FILES = [{"lo": 0, "hi": 3}, {"lo": 3, "hi": 5}, {"lo": 5, "hi": 9},
         {"lo": 9, "hi": 10}]
# a data batch, an empty (no-data) batch, a batch of two files; the last
# file is still unread
BATCHES = [_batch(0, 5, 1.0), _batch(1, 0, 1.5), _batch(2, 4, 2.0)]
ENDS = {0: T0 + 1.5, 1: T0 + 1.8, 2: T0 + 2.5}


def test_each_event_counts_once_in_the_batch_that_read_its_file():
    created, emitted, started, unread = event_times(
        FILES, BATCHES, ENDS, T0, 10.0, (T0, T0 + 100))
    assert np.allclose(created - T0, np.arange(9) / 10.0)
    assert np.allclose(emitted - T0, [1.5] * 5 + [2.5] * 4)
    assert np.allclose(started - T0, [1.0] * 5 + [2.0] * 4)
    assert unread == 1


def test_only_events_created_inside_the_window_are_sampled():
    created, emitted, _, _ = event_times(FILES, BATCHES, ENDS, T0, 10.0,
                                         (T0 + 0.25, T0 + 0.65))
    # events 3..6 were created at 0.3 .. 0.6 s
    assert np.allclose(emitted - created, [1.2, 1.1, 2.0, 1.9])


def test_emission_rate_is_rows_over_the_gap_since_the_previous_end():
    ends = [1.0, 4.0, 7.0, 11.0, 13.0]
    rows = [100, 300, 300, 800, 200]
    # batches ending at 7, 11 and 13 are inside: 100, 200 and 100/s
    assert streams.emission_rate(ends, rows, (5.0, 14.0)) == \
        pytest.approx(100.0)
    # the first batch has no previous end and is never counted
    assert streams.emission_rate(ends, rows, (0.0, 2.0)) == 0.0
    assert streams.emission_rate(ends, rows, (20.0, 30.0)) == 0.0


def test_assign_batches_rejects_batches_that_split_files():
    with pytest.raises(ValueError):
        assign_batches([3, 2], [4, 1])
    with pytest.raises(ValueError):
        assign_batches([3, 2], [6])
    assert assign_batches([3, 2], []).tolist() == [-1, -1]


# ---------------------------------------------------------------------------
# Tail percentile rule
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 10, 19, 20, 21, 40, 100, 150, 199, 200,
                               201, 5000])
def test_tail_is_the_highest_quantile_with_ten_samples_beyond(n):
    q = tail_quantile(n)
    if n < 20:
        assert q == 0.5
        return
    assert n * (1 - q) >= 10 - 1e-9
    assert q == 0.95 or n * (1 - q) <= 10 + 1e-9


def test_tail_quantile_examples():
    assert tail_quantile(40) == 0.75
    assert tail_quantile(100) == pytest.approx(0.9)
    assert tail_quantile(10_000) == 0.95


# ---------------------------------------------------------------------------
# Metric plumbing
# ---------------------------------------------------------------------------


def test_parse_metric_reads_totals_and_units():
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.6 s (401 ms, 403 ms, 406 ms (stage 1.0: task 7))"
                        ) == pytest.approx(1.6)
    assert parse_metric("1,234") == 1234
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("52 ms") == pytest.approx(0.052)


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == \
        sorted(run._workloads())


def test_dashboard_queries_are_the_bench_headline_set(monkeypatch):
    monkeypatch.syspath_prepend(run.ROOT)
    import bench
    assert dashboard.HEADLINE == bench.HEADLINE
