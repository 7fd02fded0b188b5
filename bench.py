"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints TWO JSON lines:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
    {"metric": "...", "value": N, "unit": "sec", "queries": {headline}, "sf": ...}

``value`` is the total wall-clock seconds across the stable HEADLINE set
(lower is better) — kept fixed so the number is comparable round over
round. The first line's ``queries`` dict reports per-query seconds for
EVERY registered batch query, so per-operator regressions are visible
even for queries outside the headline set. That line now exceeds any
fixed-size tail capture (224+ entries), which is how round 4 lost its
comparable headline number (`BENCH_r04.json` ``parsed: null``) — so a
SECOND, short line (headline queries only, ~400 bytes) is printed LAST:
whichever the harness parses — full stdout's last line or a ~2 KB tail —
the headline total survives.

Methodology:
* one untimed warm-up action first (JVM/codegen/file-listing warm-up
  otherwise lands entirely on the first timed query);
* each query executes via the ``noop`` sink — unlike ``count()`` it
  preserves the full plan (a count aggregate lets Catalyst eliminate
  the final sort and prune projection work, under-measuring sorted/
  projected queries);
* headline queries and queries whose prior-round median was >= 0.5 s
  (or that have no prior number) run ``SPARK_GRAFT_REPEATS`` times
  (default 3) and report the MEDIAN. Single-run numbers proved
  uncomparable round over round twice: round-3's sweep-pressure
  phantoms (dedup_simhash 1.25 s -> 2.89 s with no code change), and
  round-4's registry reorder moving queries to different sweep
  positions (the first query at a new position pays whatever cold
  state — table first-scan, codegen class, GC debt — the old order had
  amortized elsewhere; lang_stats measured 4x its steady-state on
  rep 1). The median drops the cold rep, so a query's number reflects
  the query, not its position in the sweep.
* queries whose prior-round median was < 0.5 s run ONCE: the r4
  medians showed the cheap tail is stable rep-over-rep, and 209
  queries x 3 reps was starting to dominate the round's bench budget.
  The prior comes from the newest ``BENCH_r*.json`` per-query entry
  (recovered from the stored tail when the parsed record is null), so
  the rule self-updates as queries speed up or slow down.
* the sweep runs in FIXED ALPHABETICAL order, decoupled from the
  registry order: early positions pay unamortized warm-up, so a fixed
  order plus the untimed warm-ups makes per-query numbers comparable
  across rounds.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_connect_msk_demo_spark import queries as _q  # noqa: E402
from kafka_connect_msk_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

#: headline set — one per major operator family; FIXED across rounds so
#: the total stays comparable (new operators are timed but not totaled).
HEADLINE = [
    "sales_by_country",
    "sales_by_region",
    "windowed_sales",
    "latest_event_per_user",
    "latest_per_window",
    "top25_formatted",
    "revenue_by_region",
    "enrich_nullfill",
    "in_subquery",
    "correlated_subquery",
    "summary_stats",
]

#: slow/stateful queries excluded from the timed sweep (streaming drain
#: + checkpoint restore dominate; they are correctness-gated instead).
SKIP = {"cdc_upsert", "cdc_upsert_mor", "cdc_upsert_mor_stream",
        "stream_anomaly", "stream_sales_by_type", "stream_windowed_by_type",
        "stream_enriched_windowed", "stream_running_user_stats",
        "stream_stream_join", "stream_session_agg", "stream_dedup_keys",
        "stream_hll", "stream_ewma", "stream_topk_users",
        "stream_left_join_nulls", "stream_record_high",
        "stream_dedup_census"}


def _force(df) -> None:
    """Execute the FULL plan (sort + projection included) without
    collecting results to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _prior_timings() -> dict[str, float]:
    """Per-query medians from the newest ``BENCH_r*.json`` that has
    any — from ``parsed.queries`` when the harness parse succeeded,
    else recovered from the stored stdout tail ("name": sec pairs are
    self-delimiting, so a head-truncated JSON line still yields the
    entries that survived in the tail)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, float] = {}
    # committed local sf0.1 sweep: gives the rep rule full coverage
    # even for queries no BENCH record has timed yet. Its "round"
    # stamp says when it was measured — BENCH records from EARLIER
    # rounds are stale relative to it and must not overwrite it.
    seed = os.path.join(here, "tools", "bench_priors.json")
    seed_round = -1
    try:
        with open(seed) as fh:
            rec = json.load(fh)
        out.update({k: float(v) for k, v in rec.get("queries", {}).items()
                    if isinstance(v, (int, float))})
        seed_round = int(rec.get("round", -1))
    except (OSError, ValueError, TypeError):
        pass
    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if m and int(m.group(1)) < seed_round:
            continue
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        found: dict[str, float] = {}
        parsed = rec.get("parsed") if isinstance(rec, dict) else None
        if isinstance(parsed, dict) and isinstance(
                parsed.get("queries"), dict):
            found = {k: float(v) for k, v in parsed["queries"].items()
                     if isinstance(v, (int, float))}
        elif isinstance(rec, dict) and isinstance(rec.get("tail"), str):
            for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)',
                                 rec["tail"]):
                try:
                    found[m.group(1)] = float(m.group(2))
                except ValueError:
                    pass
        if found:          # newer rounds overwrite older entries
            out.update(found)
    return out


def _cpu_ref(spark) -> dict:
    """Machine-speed reference: three fixed workloads independent of
    any query — pure-Python bytecode, BLAS matmul, and a JVM-side
    range-sum — so cross-round comparisons can separate a code
    regression from host degradation. Added in r10: untouched queries
    (limit_offset, label_centroid_sim, ...) read 2-3x slower than the
    committed r9 idle medians on an idle box with zero steal — without
    a stored reference the per-query numbers alone cannot prove which
    side moved. Compare cpu_ref across the bench_r{N}_idle.json
    archives before reading any per-query delta as a regression."""
    import numpy as _np
    a = _np.random.default_rng(42).random((1000, 1000))
    reps = []
    for _ in range(5):
        t0 = time.monotonic()
        a @ a
        reps.append(time.monotonic() - t0)
    mm = statistics.median(reps)
    t0 = time.monotonic()
    s = 0
    for i in range(5_000_000):
        s += i
    loop = time.monotonic() - t0
    reps = []
    for _ in range(3):
        t0 = time.monotonic()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        reps.append(time.monotonic() - t0)
    floor = []
    for _ in range(5):
        t0 = time.monotonic()
        spark.range(1).write.format("noop").mode("overwrite").save()
        floor.append(time.monotonic() - t0)
    return {"matmul_1k_med_s": round(mm, 4),
            "pyloop_5m_s": round(loop, 4),
            "jvm_range_sum_200m_med_s": round(statistics.median(reps), 4),
            "job_floor_noop_med_s": round(statistics.median(floor), 4)}


def run() -> None:
    spark = get_spark("bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    registry = _q.queries()
    # Untimed warm-ups, one per cost class that otherwise lands on an
    # arbitrary first query: (a) JVM/codegen/file-listing, (b) Python
    # worker pool spin-up (the first mapInPandas crossing pays ~5-10 s
    # of daemon+Arrow startup), (c) bucket-table staging for the
    # bucketed query (a one-time ETL cost by design, not query time).
    _force(registry["sales_by_region"](spark, SF_DIR))
    spark.range(64).mapInPandas(lambda it: it, "id long").write \
        .format("noop").mode("overwrite").save()
    if "revenue_by_region_bucketed" in registry:
        _force(registry["revenue_by_region_bucketed"](spark, SF_DIR))
    # (d) first touch of the pipeline tables: file listing + footer +
    # OS page-cache warm-up. Without this the cost lands on whichever
    # pipeline query the sweep happens to put first (measured ~4x on
    # lang_stats when a reorder moved it to position 1).
    from kafka_connect_msk_demo_spark.catalog import load_table
    for t in ("documents", "embeddings"):
        _force(load_table(spark, SF_DIR, t))
    prior = _prior_timings()
    # focused runs: SPARK_GRAFT_ONLY=q1,q2 times just those queries
    # (regression triage without paying the full sweep)
    only = {n for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")
            if n}
    timings: dict[str, float] = {}
    position = 0
    # fixed alphabetical sweep order (see module docstring)
    for name, fn in sorted(registry.items()):
        if name in SKIP or (only and name not in only):
            continue
        # progress marker on stderr (stdout carries ONLY JSON lines):
        # names the in-flight query if the sweep dies mid-run
        print(f"bench: {name}", file=sys.stderr, flush=True)
        samples = []
        # median-of-N for the headline set and anything that was >=0.5 s
        # last round (or is new/unknown); single-rep for the stable
        # cheap tail — see module docstring. The first sweep positions
        # ALWAYS get the median treatment: even with the fixed
        # alphabetical order, early positions absorb whatever cold
        # state the untimed warm-ups missed, and the median drops that
        # rep (benford_audit once measured 2.8 s at an early position
        # vs 0.7-1.0 s isolated).
        reps = REPEATS if (name in HEADLINE
                           or position < 10
                           or prior.get(name, 1.0) >= 0.5) else 1
        position += 1
        for _ in range(reps):
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 3)
        # queries may persist shared subplans (dedup shingle tables,
        # BFS edge lists) for reuse WITHIN one plan; drop them between
        # sweeps so no query is timed against another query's cache
        spark.catalog.clearCache()
    # Automatic outlier re-measure (r7 "What's wrong" #3): a query
    # that measured >2x its prior-round number re-runs as a fresh
    # focused median AFTER the sweep — sweep-pressure phantoms
    # (minhash_est 1.77 s sweep-1 vs 7.21 s sweep-2 vs 2.75 s focused,
    # same code) re-measure clean, while a real regression reproduces
    # and keeps its number. Floor of 0.2 s on the prior: below that,
    # scheduling jitter alone doubles a timing.
    # Both numbers are persisted (``sweep_outliers`` in the output
    # record) and the focused median replaces the sweep timing ONLY
    # when it falls back under the 2x-of-prior threshold — i.e. the
    # re-run proves the sweep number was pressure, not the query. A
    # focused re-measure that is still >2x prior is a reproduced
    # regression: the sweep number stands (the post-sweep re-run is
    # incomparably warm — JIT + page cache — so its lower-but-still-
    # regressed number must not soften a real finding).
    sweep_outliers: dict[str, dict[str, float]] = {}
    for name in [n for n, t in timings.items()
                 if prior.get(n, 0.0) >= 0.2 and t > 2 * prior[n]]:
        print(f"bench: outlier re-measure {name} "
              f"({timings[name]}s vs prior {prior[name]}s)",
              file=sys.stderr, flush=True)
        samples = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            _force(registry[name](spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        re_med = round(statistics.median(samples), 3)
        sweep_outliers[name] = {"sweep": timings[name], "focused": re_med,
                                "prior": prior[name]}
        if re_med <= 2 * prior[name]:
            print(f"bench: {name} {timings[name]} -> {re_med} "
                  f"(sweep-pressure outlier, focused median kept)",
                  file=sys.stderr, flush=True)
            timings[name] = re_med
        else:
            print(f"bench: {name} focused {re_med}s still >2x prior "
                  f"{prior[name]}s — regression reproduced, sweep "
                  f"number kept", file=sys.stderr, flush=True)
    total = round(sum(timings[n] for n in HEADLINE if n in timings), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full_record = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sweep_outliers": sweep_outliers,
        "cpu_ref": _cpu_ref(spark),
        "sf": sf_val,
    }
    # Durable copy of the summary: a shell-redirect mistake on stdout
    # (round 8 captured stderr only and lost the round's medians) can
    # never again lose a sweep's numbers. Path override for per-round
    # archives: SPARK_GRAFT_BENCH_JSON=tools/bench_r9_idle.json.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "tools", "bench_last.json"))
    try:
        with open(out_path, "w") as fh:
            json.dump(full_record, fh, indent=1)
        print(f"bench: summary JSON -> {out_path}",
              file=sys.stderr, flush=True)
    except OSError as exc:       # read-only checkout: keep stdout path
        print(f"bench: could not write {out_path}: {exc}",
              file=sys.stderr, flush=True)
    # line 1: full per-query detail (larger than any tail capture)
    print(json.dumps(full_record))
    # line 2 (LAST, short): the comparable headline number, guaranteed
    # to survive a fixed-size stdout tail capture
    print(json.dumps({
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "sf": sf_val,
    }))
    spark.stop()


if __name__ == "__main__":
    run()
