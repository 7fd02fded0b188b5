"""Streaming pipelines — the reference's six streaming scripts as
engine operators, runnable to completion for oracle checks.

Shapes reproduced (SURVEY.md §3.1):

* 03/06/09 — stream → decode → all-time groupBy agg → complete-mode
  sink with sort.
* 05 — stream → watermark → sliding event-time window agg → complete.
* 08/12 (flagship) — stream → broadcast-enrich against a static dim →
  na.fill → watermark → sliding window agg → typed projection →
  complete-mode sink.

Each function returns the FINAL emission of the stream (availableNow
drain through real IncrementalExecution + state store), which for
complete-mode aggregations equals the batch answer over the same data —
that is exactly the property the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, stream_table
from ..operators.aggregates import (_sql_hll_distinct, dec, hll_estimate,
                                   hll_register_rows, order_result,
                                   session_agg, windowed_sum_count)
from ..operators.joins import enrich
from .runner import run_to_memory


def stream_sales_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """03/06/09 shape: all-time agg in complete mode over the events
    stream; returns the final complete emission."""
    events = stream_table(spark, sf_dir, "events")
    agg = (events.groupBy("event_type")
           .agg(F.sum(dec("value", 25, 8)).cast("double").alias("sales"),
                F.count("value").alias("orders")))
    return run_to_memory(order_result(agg, F.col("sales").desc()),
                         "complete")


_SQL_STREAM_SALES_BY_TYPE = """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS sales,
       COUNT(value) AS orders
FROM events
GROUP BY event_type
ORDER BY sales DESC
"""


def stream_windowed_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """05 shape: watermark + sliding event-time window (10 min / 5 min),
    complete mode. Complete mode keeps all windows in state, so the
    final emission covers the whole stream (the watermark still runs —
    late-row *dropping* is exercised separately in append-mode tests)."""
    events = stream_table(spark, sf_dir, "events")
    agg = windowed_sum_count(events.withWatermark("ts", "10 minutes"),
                             ["event_type"], "ts", "value")
    return run_to_memory(agg, "complete")


_SQL_STREAM_WINDOWED_BY_TYPE = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
  FROM events
)
SELECT event_type,
       (es // 300) * 300 - o.off AS window_start,
       (es // 300) * 300 - o.off + 600 AS window_end,
       CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS sales,
       COUNT(value) AS orders
FROM e CROSS JOIN (VALUES (0), (300)) AS o(off)
GROUP BY 1, 2, 3
"""


def stream_enriched_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """08/12 flagship shape: stream ⋈ broadcast static dim (left outer,
    null-filled), watermark, sliding window, grouped agg, typed
    projection with epoch window bounds."""
    events = stream_table(spark, sf_dir, "events")
    dim = (load_table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment"))
           .cache())
    # No forced broadcast: customer scales with the data (unlike the
    # reference's fixed 245-row regions CSV), so a hard F.broadcast
    # becomes an executor OOM at 100 TB. AQE is off for streaming: the
    # planner broadcasts the cached dimension statically while its
    # size is under the broadcast threshold, and the broadcast re-runs
    # as one job per micro-batch; a larger dimension plans a shuffle
    # join instead.
    enriched = enrich(events, dim, ["user_id"],
                      fill={"segment": "Unassigned"})
    agg = windowed_sum_count(enriched.withWatermark("ts", "10 minutes"),
                             ["segment"], "ts", "value")
    return run_to_memory(agg, "complete")


_SQL_STREAM_ENRICHED_WINDOWED = """
WITH e AS (
  SELECT COALESCE(c_mktsegment, 'Unassigned') AS segment,
         CAST(floor(epoch(ts)) AS BIGINT) AS es, value
  FROM events LEFT JOIN customer ON user_id = c_custkey
)
SELECT segment,
       (es // 300) * 300 - o.off AS window_start,
       (es // 300) * 300 - o.off + 600 AS window_end,
       CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS sales,
       COUNT(value) AS orders
FROM e CROSS JOIN (VALUES (0), (300)) AS o(off)
GROUP BY 1, 2, 3
"""


def stream_running_user_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Arbitrary-state extension (applyInPandasWithState): per-user
    running count/max/last-event maintained in custom state across
    micro-batches, reconciled latest-wins. The staged stream dir is
    chunked (catalog.STREAM_CHUNKS), so with maxFilesPerTrigger=1 this
    really executes N state-carrying micro-batches per drain
    (tests/test_multibatch.py asserts >=3). The final state equals the
    batch answer — which is what the oracle checks."""
    from .stateful import latest_emission, running_user_stats

    events = stream_table(spark, sf_dir, "events",
                          max_files_per_trigger=1)
    drained = run_to_memory(running_user_stats(events), "update")
    return latest_emission(drained).orderBy("user_id")


_SQL_STREAM_RUNNING_USER_STATS = """
SELECT user_id, COUNT(*) AS n, MAX(value) AS vmax,
       MAX(epoch_us(ts)) AS last_us
FROM events GROUP BY user_id ORDER BY user_id
"""


def _click_purchase_join(spark: SparkSession, sf_dir: str,
                         how: str) -> DataFrame:
    """Each click joined (``how``) to the same user's purchases in the
    next 30 minutes, both sides of the events stream watermarked at 1
    hour, so the join state is evictable."""
    clicks = (stream_table(spark, sf_dir, "events")
              .filter(F.col("event_type") == "click")
              .select("user_id",
                      F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id"))
              .withWatermark("click_ts", "1 hour"))
    purchases = (stream_table(spark, sf_dir, "events")
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"),
                         F.col("event_id").alias("purchase_id"))
                 .withWatermark("p_ts", "1 hour"))
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts")
           + F.expr("INTERVAL 30 MINUTES")),
        how)


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — a capability extension (the
    reference has no stream-stream joins, SURVEY.md §2.5): each click
    joined to the same user's purchases within the next 30 minutes.

    Both sides carry a 1-hour watermark and the join condition bounds
    event time on both ends, so the join state is EVICTABLE: a buffered
    click can be dropped once the purchase-side watermark passes
    click_ts + 30 min — state size is O(rate × window), not O(stream).
    Inner joins emit eagerly on match, so the availableNow drain yields
    the complete pair set (equals the batch interval join, which is
    what the oracle checks)."""
    out = _click_purchase_join(spark, sf_dir, "inner").select(
        "user_id", F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("p_ts").alias("purchase_us"), "click_id",
        "purchase_id")
    return run_to_memory(out, "append") \
        .orderBy("user_id", "click_us", "purchase_us")


_SQL_STREAM_STREAM_JOIN = """
SELECT a.user_id AS user_id,
       epoch_us(a.ts) AS click_us,
       epoch_us(b.ts) AS purchase_us,
       a.event_id AS click_id,
       b.event_id AS purchase_id
FROM events a
JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
ORDER BY 1, 2, 3
"""


def stream_left_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (capability extension):
    every click paired with the same user's purchases in the next 30
    minutes — and clicks that never convert emit with NULL purchase
    columns once the watermark PROVES no future purchase can match.

    This is the semantics inner joins cannot give: the null row is a
    *negative* result, and it is only safe to emit after the
    purchase-side watermark passes click_ts + 30 min (state eviction
    point). The ORACLE ENCODES THE WATERMARK CONTRACT like
    stream_session_agg, including the MULTI-WATERMARK RULE: with two
    watermarked inputs the global watermark is the MINIMUM of the
    per-input watermarks (spark.sql.streaming.multipleWatermarkPolicy
    = min), i.e. least(max(click_ts), max(purchase_ts)) - 1 h at the
    end of an availableNow drain — NOT max(event_time) - 1 h.
    Matched pairs are the batch interval join; unmatched clicks
    appear iff click_ts + 30 min < that watermark; unmatched clicks
    newer than it are legitimately still buffered when the drain
    stops, and asserting their absence asserts the contract."""
    out = _click_purchase_join(spark, sf_dir, "left_outer").select(
        "user_id", F.unix_micros("click_ts").alias("click_us"),
        "click_id", F.unix_micros("p_ts").alias("purchase_us"),
        "purchase_id")
    return (run_to_memory(out, "append")
            .orderBy("user_id", "click_us", "click_id",
                     F.asc_nulls_first("purchase_us")))


_SQL_STREAM_LEFT_JOIN_NULLS = """
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'click'),
    (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
  ) - 3600000000 AS wm_us
), c AS (
  SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS p_us, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
), lj AS (
  SELECT c.user_id, c.click_us, c.click_id,
         p.p_us AS purchase_us, p.purchase_id
  FROM c LEFT JOIN p
    ON c.user_id = p.user_id
   AND p.p_us >= c.click_us
   AND p.p_us <= c.click_us + 1800000000
)
SELECT user_id, click_us, click_id, purchase_us, purchase_id
FROM lj CROSS JOIN wm
WHERE purchase_id IS NOT NULL
   OR click_us + 1800000000 < wm_us
ORDER BY user_id, click_us, click_id, purchase_us NULLS FIRST
"""


def stream_record_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-high detection with one double of state per user
    (streaming/stateful.py :: record_high_stream): append-mode
    emissions whenever a value strictly exceeds the user's running
    maximum. The oracle is the batch window twin — value > max over
    all strictly-earlier (ts, id) rows — which the drained emission
    set must equal exactly."""
    from .stateful import record_high_stream

    events = stream_table(spark, sf_dir, "events")
    out = record_high_stream(events)
    return (run_to_memory(out, "append")
            .orderBy("user_id", "ts_us", "event_id"))


_SQL_STREAM_RECORD_HIGH = """
SELECT user_id, event_id, ts_us, value FROM (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         MAX(value) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM events
)
WHERE pm IS NULL OR value > pm
ORDER BY user_id, ts_us, event_id
"""


def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SESSION windows (T2 capability extension): per-user
    gap-based sessions via ``session_window`` — 30-minute inactivity
    gap, 10-minute watermark, APPEND mode (Spark does not support
    complete mode for session windows: state must be evictable).

    Append mode only emits sessions the watermark has finalized, so
    the ORACLE ENCODES THE WATERMARK CONTRACT: it rebuilds the same
    sessions with a lag/sum-over island construction (a new session
    starts when the gap to the previous event is >= 30 min — Spark
    merges only strictly-overlapping [ts, ts+gap) intervals) and then
    keeps exactly the sessions with
    ``session_end <= max(event_time) - 10 min``, which is the final
    watermark an availableNow drain reaches (the trailing no-data
    micro-batch flushes state up to it). Sessions newer than that are
    legitimately still in state when the drain stops — asserting their
    absence is asserting the append contract."""
    events = stream_table(spark, sf_dir, "events")
    sess = (session_agg(events.withWatermark("ts", "10 minutes"),
                        ["user_id"], "ts", "value", gap="30 minutes")
            .withColumnRenamed("total", "value_sum"))
    return (run_to_memory(sess, "append")
            .orderBy("user_id", "session_start_us"))


_SQL_STREAM_SESSION_AGG = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events
), m AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
), s AS (
  SELECT user_id, us, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), agg AS (
  SELECT user_id,
         MIN(us) AS session_start_us,
         MAX(us) + 1800000000 AS session_end_us,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS value_sum
  FROM s GROUP BY user_id, sid
)
SELECT * FROM agg
WHERE session_end_us <= (SELECT MAX(us) - 600000000 FROM e)
ORDER BY user_id, session_start_us
"""


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8's bounded-state streaming dedup as a registered query:
    ``dropDuplicatesWithinWatermark`` over the events stream, emitting
    the key columns of each first arrival.

    Determinism contract: which PHYSICAL row is kept for a key is
    arrival-order-dependent, so only the key columns are projected; and
    the delay (30 days) exceeds the testdata's event-time span, so no
    state is evicted during the drain and the emission set is exactly
    the distinct key set — an exact oracle. The eviction behavior that
    makes the operator 100 TB-viable (state bounded by the watermark
    horizon, unlike ``dropDuplicates``' unbounded key set) is pinned
    separately by tests/test_watermark.py with explicit out-of-order
    fixtures across checkpointed restarts."""
    from .stateful import dedup_within_watermark

    events = stream_table(spark, sf_dir, "events")
    dd = dedup_within_watermark(events, ["user_id", "event_type"],
                                delay="30 days")
    out = dd.select("user_id", "event_type")
    return run_to_memory(out, "append").orderBy("user_id", "event_type")


_SQL_STREAM_DEDUP_KEYS = """
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
"""


def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling z-score anomaly detection
    (streaming/stateful.py rolling_anomaly_stream): bounded per-user
    state (last 20 quantized values) folded across real micro-batches;
    emissions are final anomaly verdicts, bit-identical to the batch
    operator — the shared integer-exact oracle checks exactly that."""
    from .stateful import rolling_anomaly_stream

    events = stream_table(spark, sf_dir, "events",
                          max_files_per_trigger=1)
    drained = run_to_memory(rolling_anomaly_stream(events), "update")
    return drained.orderBy("user_id", "event_id")


#: the SHARED batch oracle — stream emissions are defined to equal the
#: batch operator's flag set exactly
from ..operators.temporal import \
    ROLLING_ANOMALY_ORACLE_SQL as _SQL_STREAM_ANOMALY  # noqa: E402


def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming α=1/2 EWMA (streaming/stateful.py ewma_stream):
    bounded last-32 per-user state folded across real micro-batches;
    exact dyadic arithmetic makes every emission equal the batch
    operator's row — checked by the SHARED weighted-self-join
    oracle."""
    from .stateful import ewma_stream

    events = stream_table(spark, sf_dir, "events",
                          max_files_per_trigger=1)
    drained = run_to_memory(ewma_stream(events), "update")
    return drained.orderBy("user_id", "ts_us", "event_id")


#: the SHARED batch oracle — stream emissions are defined to equal
#: the batch EWMA rows exactly
from ..operators.temporal import \
    EWMA_HALVING_ORACLE_SQL as _SQL_STREAM_EWMA  # noqa: E402


def stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog: the register maxima (MAX rho per (group,
    register)) run as a complete-mode streaming aggregation — HLL
    state is commutative and idempotent, so micro-batch order cannot
    change it — and the harmonic estimate + exact-count join finalize
    batch-side on the drained sketch (operators/aggregates.py). The
    oracle replays the same registers in DuckDB."""
    events = stream_table(spark, sf_dir, "events",
                          max_files_per_trigger=1)
    regs = (hll_register_rows(events, "user_id", "event_type")
            .groupBy("event_type", "reg")
            .agg(F.max("rho").alias("max_rho")))
    drained = run_to_memory(regs, "complete")
    true = (load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n_true")))
    return hll_estimate(drained, true, "event_type")


_SQL_STREAM_HLL = _sql_hll_distinct()


def stream_topk_users(spark: SparkSession, sf_dir: str,
                      k: int = 5) -> DataFrame:
    """Streaming top-k: per-(type, user) exact counts run as the
    complete-mode streaming aggregation (commutative state — the only
    sketch a top-k needs when the key domain fits state, which it does
    here and at 100 TB would swap to a count-min + heap pattern); the
    rank-and-keep-k finalizes batch-side on the drained counts with a
    deterministic (count desc, user) order."""
    from pyspark.sql import Window

    events = stream_table(spark, sf_dir, "events",
                          max_files_per_trigger=1)
    counts = (events.filter(F.col("user_id").isNotNull())
              .groupBy("event_type", "user_id")
              .agg(F.count(F.lit(1)).alias("n_events")))
    drained = run_to_memory(counts, "complete")
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), "user_id")
    return (drained.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("event_type", "rank", "user_id", "n_events")
            .orderBy("event_type", "rank"))


_SQL_STREAM_TOPK_USERS = """
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS n_events
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1, 2
), r AS (
  SELECT event_type, user_id, n_events,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, user_id) AS rank
  FROM c
)
SELECT event_type, rank, user_id, n_events
FROM r WHERE rank <= 5 ORDER BY event_type, rank
"""


def stream_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dup census over an INGESTING corpus: documents
    arrive in micro-batches (the Kafka-topic stand-in), and a
    complete-mode aggregation keyed on the normalized-text md5 keeps
    (copies, canonical doc) per digest — the online view a
    dedup-at-ingest service maintains. Count and min are commutative
    and batch-order-independent, so the drained final emission equals
    the batch census exactly — which is precisely what the oracle
    checks. State is one row per DISTINCT digest (the 100 TB bound:
    corpus-distinct, not corpus-size; digests are the shuffle key).
    Emitted: digests seen >= 2 times, i.e. the duplicate clusters."""
    docs = stream_table(spark, sf_dir, "documents",
                        max_files_per_trigger=1)
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    agg = (docs.groupBy(digest.alias("digest"))
           .agg(F.count(F.lit(1)).alias("n_copies"),
                F.min("doc_id").alias("canonical")))
    drained = run_to_memory(agg, "complete")
    return (drained.filter(F.col("n_copies") >= 2)
            .orderBy("digest"))


_SQL_STREAM_DEDUP_CENSUS = """
SELECT md5(lower(trim(text))) AS digest,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical
FROM documents
GROUP BY 1 HAVING COUNT(*) >= 2
ORDER BY digest
"""


STREAMING_QUERIES = {
    "stream_sales_by_type": (stream_sales_by_type,
                             _SQL_STREAM_SALES_BY_TYPE),
    "stream_windowed_by_type": (stream_windowed_by_type,
                                _SQL_STREAM_WINDOWED_BY_TYPE),
    "stream_enriched_windowed": (stream_enriched_windowed,
                                 _SQL_STREAM_ENRICHED_WINDOWED),
    "stream_running_user_stats": (stream_running_user_stats,
                                  _SQL_STREAM_RUNNING_USER_STATS),
    "stream_stream_join": (stream_stream_join, _SQL_STREAM_STREAM_JOIN),
    "stream_left_join_nulls": (stream_left_join_nulls,
                               _SQL_STREAM_LEFT_JOIN_NULLS),
    "stream_record_high": (stream_record_high, _SQL_STREAM_RECORD_HIGH),
    "stream_session_agg": (stream_session_agg, _SQL_STREAM_SESSION_AGG),
    "stream_dedup_keys": (stream_dedup_keys, _SQL_STREAM_DEDUP_KEYS),
    "stream_anomaly": (stream_anomaly, _SQL_STREAM_ANOMALY),
    "stream_hll": (stream_hll, _SQL_STREAM_HLL),
    "stream_ewma": (stream_ewma, _SQL_STREAM_EWMA),
    "stream_topk_users": (stream_topk_users, _SQL_STREAM_TOPK_USERS),
    "stream_dedup_census": (stream_dedup_census,
                            _SQL_STREAM_DEDUP_CENSUS),
}
