"""Ranked dedup / "latest wins" — the reference's reconciliation idiom.

Reference semantics (SURVEY.md §2.7):

* W2 — ``row_number() OVER (PARTITION BY country ORDER BY amount)`` then
  keep row 1 (``02_batch_read_kafka.py:76-86``).
* W3 — latest-by-timestamp per key (``07_batch_read_kafka.py:65-75``).
* W4 — latest per (region, window_start): reconciles complete-mode
  re-emissions on read (``13_batch_read_results_avro.py:59-70``).
* W5 — Hudi ordering-field upsert (latest ``__source_ts_ms`` wins per
  record key) is the same pattern applied as a MERGE
  (``deltastreamer_jobs_bulk.sh:13,20``); ``streaming/upsert.py`` runs
  its Copy-on-Write merge and Merge-on-Read ``_rt`` read on
  :func:`latest_by_key`, and ``streaming/stateful.latest_emission``
  reconciles update-mode emissions with :func:`ranked_keep_first`.

The reference's ORDER BY has unstable ties (SURVEY.md §7 risk d); every
entry point here requires an explicit deterministic ``tiebreak`` column.

Scale notes
-----------
``row_number`` over PARTITION BY k shuffles on k once — same cost class
as the groupBy it replaces. For the common "latest row per key" case
:func:`latest_by_key` uses ``max_by`` over a (ts, tiebreak) struct.
Its buffer is not fixed-width, so it plans as a ``SortAggregate``: a
sort before the partial aggregate, one exchange on the key, a sort
before the final one. It is still cheaper than a window at 100 TB:
the partial aggregate leaves one candidate row per key per map
partition, so the shuffle carries those instead of every row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ranked_keep_first(df: DataFrame, partition_cols: list[str],
                      order_cols: list[Column]) -> DataFrame:
    """W2/W3/W4: rank rows per key, keep rank 1. ``order_cols`` must end
    with a unique tiebreaker for deterministic output."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn("__row", F.row_number().over(w))
        .filter(F.col("__row") == 1)
        .drop("__row")
    )


def latest_by_key(df: DataFrame, key_cols: list[str], ts_col: str,
                  tiebreak_col: str) -> DataFrame:
    """Latest row per key via ``max_by`` on (ts, tiebreak) — the
    agg-based physical strategy for W3/W5 (no window sort, map-side
    partial aggregation).

    Returns the full row: all non-key columns are taken from the row
    with the greatest (ts, tiebreak) pair.
    """
    others = [c for c in df.columns if c not in key_cols]
    ordering = F.struct(F.col(ts_col), F.col(tiebreak_col))
    agg = df.groupBy(*key_cols).agg(
        *[F.max_by(c, ordering).alias(c) for c in others]
    )
    return agg.select(*df.columns)
