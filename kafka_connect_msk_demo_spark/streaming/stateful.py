"""Custom stateful streaming operators — ``applyInPandasWithState``.

The reference confines state to windowed/global aggregates (SURVEY.md
§2.9); this module adds the engine's arbitrary-state extension point,
the shape every bespoke streaming operator (sessionizers with side
outputs, CDC conflation, feature accumulators) plugs into:

* state lives per group key in the state store (checkpointed,
  recovered on restart like any built-in stateful op);
* each micro-batch delivers the group's new rows as Arrow batches —
  the Python boundary is crossed per group-batch, not per row;
* the operator emits update rows; downstream reconciles with the W4
  latest-wins pattern (monotone ``n`` makes "latest" well-defined).

:func:`running_user_stats` keeps the state exact-by-construction
(counts, max, last-event time — no float accumulation), so its final
emission is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from ..arrow_guard import exact_longs
from ..operators.dedup_rank import ranked_keep_first
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n bigint, vmax double, last_us bigint"
OUTPUT_SCHEMA = "user_id bigint, n bigint, vmax double, last_us bigint"


def _gather_sorted(pdfs: Iterator[pd.DataFrame],
                   cols: list[str]) -> pd.DataFrame | None:
    """Concatenate a group's Arrow chunks and sort by ``cols``; None
    when the micro-batch delivered no rows. A group larger than the
    Arrow batch size arrives as SEVERAL pdfs within one micro-batch —
    the order-dependent folds must see one frame, and every operator
    must skip empty chunks (an empty ``pd.concat`` input raises, and an
    empty series' ``max()`` is NaN). Shared so the guard cannot be
    forgotten in the next stateful operator."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    pdf = (pd.concat(chunks, ignore_index=True)
           if len(chunks) > 1 else chunks[0])
    return pdf.sort_values(cols, ignore_index=True)


def running_user_stats(stream: DataFrame,
                       key_col: str = "user_id",
                       ts_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """Per-key running (count, max value, last event time) maintained in
    arbitrary user state. Emits one update row per key per micro-batch
    it appears in; ``n`` is monotone, so the latest emission per key is
    the row with max ``n``."""
    wire = stream.select(
        F.col(key_col).cast("long").alias("user_id"),
        F.unix_micros(ts_col).alias("us"),
        F.col(value_col).cast("double").alias("v"))

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, vmax, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            n += len(pdf)  # COUNT(*): null values still count rows
            # skipna max: an all-null (or empty) chunk yields NaN,
            # which must not poison the running state (max(NaN, x)
            # keeps NaN forever) — MAX ignores NULLs, like the oracle
            batch_max = pdf["v"].max()
            if not pd.isna(batch_max):
                vmax = float(batch_max) if vmax is None \
                    else max(vmax, float(batch_max))
            batch_last = pdf["us"].max()
            if not pd.isna(batch_last):
                last_us = int(batch_last) if last_us is None \
                    else max(last_us, int(batch_last))
        state.update((n, vmax, last_us))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n],
                            "vmax": [vmax], "last_us": [last_us]})

    return (wire.groupBy("user_id")
            .applyInPandasWithState(update, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


def dedup_within_watermark(stream: DataFrame, keys: list[str],
                           ts_col: str = "ts",
                           delay: str = "10 minutes") -> DataFrame:
    """Streaming dedup with bounded state (T8 extension): the first row
    per key is emitted, subsequent arrivals of the same key are dropped
    while the key's state lives — and the state is EVICTED once the
    watermark passes its event time + ``delay``, so a key recurring
    after the horizon is admitted again (unlike ``dropDuplicates``,
    whose state grows with the key universe forever — unusable at
    100 TB). Exactly-once-within-delay semantics are pinned by
    tests/test_watermark.py across checkpointed restarts."""
    return (stream.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(keys))


def latest_emission(df: DataFrame, key: str = "user_id",
                    monotone: str = "n") -> DataFrame:
    """W4 reconciliation for update-mode emissions: keep each key's row
    with the highest monotone counter (unique per key, so the ranking
    needs no further tiebreak)."""
    return ranked_keep_first(df, [key], [F.col(monotone).desc()])


ANOMALY_STATE_SCHEMA = "vals array<bigint>"
ANOMALY_OUTPUT_SCHEMA = ("user_id bigint, event_id bigint, v_q bigint, "
                         "n_w bigint, s_w bigint")


def rolling_anomaly_stream(stream: DataFrame, lookback: int = 20,
                           k: int = 2, scale: int = 10_000,
                           min_obs: int = 8,
                           key_col: str = "user_id",
                           ts_col: str = "ts",
                           id_col: str = "event_id",
                           value_col: str = "value") -> DataFrame:
    """Streaming twin of ``operators/temporal.rolling_zscore_anomalies``
    — the same all-int64 trailing-window test, maintained in BOUNDED
    per-key state (the last ``lookback`` quantized values, nothing
    else) across micro-batches.

    Emission is final, not reconciled: a row's flag depends only on
    its own prefix of the per-key series, and each event is delivered
    exactly once per drain, so every emitted row is an anomaly verdict
    identical to the batch operator's — which is what the shared
    oracle checks. Cross-batch order holds because the staged stream
    chunks are event-time-ordered (catalog.STREAM_CHUNKS); within a
    batch, rows are sorted by (ts, id) before folding.
    """
    wire = stream.select(
        F.col(key_col).cast("long").alias("user_id"),
        F.unix_micros(ts_col).alias("us"),
        F.col(id_col).cast("long").alias("event_id"),
        F.floor(F.col(value_col) * F.lit(float(scale)))
        .cast("long").alias("v_q"))
    kk = k * k

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        vals = list(state.get[0]) if state.exists else []
        out: list[tuple] = []
        pdf = _gather_sorted(pdfs, ["us", "event_id"])
        if pdf is not None:
            exact_longs(pdf["v_q"], "v_q")
            for eid, vq in zip(
                    exact_longs(pdf["event_id"], "event_id",
                                allow_null=False),
                    pdf["v_q"]):
                # a NULL value occupies a trailing-window SLOT but
                # contributes nothing and is never flagged — the batch
                # twin's rowsBetween counts physical rows while
                # count/sum skip nulls, and its flag condition is NULL
                if pd.isna(vq):
                    vals.append(None)
                    if len(vals) > lookback:
                        vals.pop(0)
                    continue
                vq = int(vq)
                vals.append(vq)
                if len(vals) > lookback:
                    vals.pop(0)
                present = [x for x in vals if x is not None]
                n = len(present)
                s = sum(present)
                ss = sum(x * x for x in present)
                dev = n * vq - s
                if n >= min_obs and dev * dev > kk * (n * ss - s * s):
                    out.append((key[0], int(eid), vq, n, s))
        state.update((vals,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "v_q", "n_w", "s_w"])

    return (wire.groupBy("user_id")
            .applyInPandasWithState(update, ANOMALY_OUTPUT_SCHEMA,
                                    ANOMALY_STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


EWMA_STATE_SCHEMA = "vals array<bigint>"
EWMA_OUTPUT_SCHEMA = ("user_id bigint, ts_us bigint, event_id bigint, "
                      "value double, n_window int, ewma double")


def ewma_stream(stream: DataFrame, frame: int = 32, scale: int = 100,
                key_col: str = "user_id", ts_col: str = "ts",
                id_col: str = "event_id",
                value_col: str = "value") -> DataFrame:
    """Streaming twin of ``operators/temporal.ewma_halving`` — the
    α=1/2 trailing EWMA maintained in BOUNDED per-key state (the last
    ``frame`` quantized values) across micro-batches.

    Exactness carries over verbatim: the windowed sum is a sum of
    exact dyadic rationals (see the batch docstring's 53-bit bound),
    so the Python left fold here, the JVM codegen fold in the batch
    operator, and the oracle's weighted self-join all produce the
    identical double; the two normalizing divisions are correctly
    rounded in the same order. Emission is final (each row's EWMA
    depends only on its own prefix), so the drained stream equals the
    batch result row-for-row — which is what the SHARED oracle checks.
    Cross-batch order holds because the staged chunks are
    event-time-ordered; within a batch rows sort by (ts, id).
    """
    wire = stream.select(
        F.col(key_col).cast("long").alias("user_id"),
        F.unix_micros(ts_col).alias("ts_us"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("value"),
        F.round(F.col(value_col) * F.lit(float(scale)))
        .cast("long").alias("q_v"))

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        vals = list(state.get[0]) if state.exists else []
        out: list[tuple] = []
        pdf = _gather_sorted(pdfs, ["ts_us", "event_id"])
        if pdf is not None:
            exact_longs(pdf["q_v"], "q_v")
            for us, eid, val, qv in zip(
                    exact_longs(pdf["ts_us"], "ts_us",
                                allow_null=False),
                    exact_longs(pdf["event_id"], "event_id",
                                allow_null=False),
                    pdf["value"], pdf["q_v"]):
                # a NULL value occupies a window SLOT but is absent
                # from the fold, exactly like the batch twin (its
                # collect_list drops nulls inside the rows frame); the
                # row is still emitted, with value NULL and the EWMA of
                # the remaining window (NULL when the window is
                # all-null — no observation, no defined EWMA; the
                # batch twin guards its norm division the same way)
                vals.append(None if pd.isna(qv) else int(qv))
                if len(vals) > frame:
                    vals.pop(0)
                present = [x for x in vals if x is not None]
                n = len(present)
                s = 0.0
                for x in present:
                    s = (x + s) / 2.0
                ewma = None if n == 0 \
                    else (s / (1.0 - 2.0 ** -n)) / float(scale)
                out.append((key[0], int(us), int(eid),
                            None if pd.isna(val) else float(val),
                            n, ewma))
        state.update((vals,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "ts_us", "event_id", "value",
                              "n_window", "ewma"])

    return (wire.groupBy("user_id")
            .applyInPandasWithState(update, EWMA_OUTPUT_SCHEMA,
                                    EWMA_STATE_SCHEMA, "update",
                                    GroupStateTimeout.NoTimeout))


RECORD_HIGH_STATE_SCHEMA = "vmax double"
RECORD_HIGH_OUTPUT = ("user_id bigint, event_id bigint, ts_us bigint, "
                      "value double")


def record_high_stream(stream: DataFrame,
                       key_col: str = "user_id",
                       ts_col: str = "ts",
                       id_col: str = "event_id",
                       value_col: str = "value") -> DataFrame:
    """Per-key record-high detector: emit a row whenever a value
    strictly exceeds the key's running maximum.

    State is ONE double per key, the minimal arbitrary-state
    footprint — the shape of threshold monitors, high-water-mark
    trackers, and top-price tickers. Within each micro-batch the
    group's Arrow chunks are concatenated and sorted by (ts, id) and
    the new highs are found VECTORIZED (shifted cummax clipped at the
    carried state — no per-row Python). Across batches the
    file-twin's (ts, id)-ordered staging makes arrival order
    deterministic, so the append-mode emission set equals the batch
    window answer — which is exactly what the oracle checks.

    Implementation note: this is written on ``applyInPandasWithState``
    like its siblings; the port to Spark 4's ``transformWithState``
    ``ValueState`` is mechanical (same handler body), but that API's
    Python driver worker needs google.protobuf, which this container
    lacks — attempted and blocked at worker init, not by the
    operator."""
    wire = stream.select(
        F.col(key_col).cast("long").alias("user_id"),
        F.unix_micros(ts_col).alias("ts_us"),
        F.col(id_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("value"))

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        cur = state.get[0] if state.exists else None
        pdf = _gather_sorted(pdfs, ["ts_us", "event_id"])
        if pdf is None:
            return
        # NULL values can neither be record highs nor raise the
        # running max (the oracle's MAX ignores NULLs) — and a NaN
        # surviving into cummax would poison the shifted mask (the
        # NaN position reads as "no previous max", emitting non-records)
        pdf = pdf.dropna(subset=["value"], ignore_index=True)
        if not len(pdf):
            return
        exact_longs(pdf["event_id"], "event_id")
        exact_longs(pdf["ts_us"], "ts_us")
        prev = pdf["value"].cummax().shift(1)
        if cur is not None:
            prev = prev.fillna(cur).clip(lower=cur)
        mask = prev.isna() | (pdf["value"] > prev)
        batch_max = float(pdf["value"].max())
        if cur is None or batch_max > cur:
            state.update((batch_max,))
        out = pdf[mask]
        if len(out):
            yield out[["user_id", "event_id", "ts_us", "value"]]

    return (wire.groupBy("user_id")
            .applyInPandasWithState(update, RECORD_HIGH_OUTPUT,
                                    RECORD_HIGH_STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))
