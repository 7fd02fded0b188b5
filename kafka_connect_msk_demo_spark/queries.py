"""Query registry — every implemented operator as a (Spark, oracle-SQL) pair.

Each entry maps a SURVEY.md §2 operator (or a datapipe extension) to

* a callable ``(spark, sf_dir) -> DataFrame`` built from the engine's
  operator modules, and
* an ANSI-SQL oracle string DuckDB runs over the same parquet tables.

Cross-engine determinism rules used throughout (see operators/aggregates.py):

* monetary/value sums aggregate on exact DECIMAL, cast to DOUBLE last;
* timestamps cross the boundary as epoch microseconds (``unix_micros`` /
  ``epoch_us``) — no timezone ambiguity;
* every ranking has an explicit unique tiebreaker;
* aggregate/computed columns carry identical aliases on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import _scratch_dir, load_table, load_tables
from .operators.aggregates import (dec, distinct_counts,
                                   group_quantiles, sum_count,
                                   summary_stats, windowed_sum_count)
from .operators.dedup_rank import latest_by_key, ranked_keep_first
from .operators.formatting import top_k_formatted
from .operators.joins import (anti_join_not_exists, enrich, semi_join_in,
                              star_join)
from .operators.aggregates import fixed_width_histogram
from .operators.relational import (bucket_case, group_concat_distinct,
                                   limit_offset, shift_days, surrogate_key)
from .operators.temporal import gap_fill_days

# ---------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2). The testdata star schema stands in
# for the pagila/sales domain per FIXTURES.md §6: orders≈payment,
# nation/region≈country→sales_region dim, events≈the kafka-envelope stream.
# ---------------------------------------------------------------------------


def q_sales_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/J2 (03_streaming...py:77-79 batch shape): all-time sum/count by
    country (= nation)."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    joined = star_join(t).withColumnRenamed("n_name", "country")
    return sum_count(joined, ["country"], "o_totalprice")


_SQL_SALES_BY_COUNTRY = """
SELECT n_name AS country,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS sales,
       COUNT(o_totalprice) AS orders_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY SUM(CAST(o_totalprice AS DECIMAL(25,8))) DESC
"""


def q_sales_by_country_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-end-to-end twin of ``sales_by_country`` (SURVEY.md §1.2
    notes decimal→float as a reference-side simplification; this row
    proves the engine carries exact DECIMAL through the whole plan).

    The aggregate stays DECIMAL to the output boundary — no double cast
    anywhere — and crosses the oracle boundary as a fixed-scale string
    (``CAST(decimal(38,8) AS STRING)``), because pandas dtype mapping
    for wide decimals differs between Spark (object/Decimal) and DuckDB
    and the driver's value hash is dtype-sensitive. No rounding occurs:
    inputs are scale-8, every later step is scale-8 or wider."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    joined = star_join(t).withColumnRenamed("n_name", "country")
    sales = F.sum(dec("o_totalprice", 25, 8)).cast("decimal(38,8)")
    return (joined.groupBy("country")
            .agg(sales.alias("_sales"),
                 F.count("o_totalprice").alias("orders_cnt"))
            .select("country",
                    F.col("_sales").cast("string").alias("sales_dec"),
                    "orders_cnt")
            .orderBy(F.col("_sales").desc()))


_SQL_SALES_BY_COUNTRY_DECIMAL = """
SELECT n_name AS country,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(38,8)) AS VARCHAR) AS sales_dec,
       COUNT(o_totalprice) AS orders_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY SUM(CAST(o_totalprice AS DECIMAL(25,8))) DESC
"""


def q_sales_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+J2 (09:94-101): the sales feed enriched with the region dim,
    then all-time agg by region."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
    joined = star_join(t, region=True).withColumnRenamed("r_name", "region")
    return sum_count(joined, ["region"], "o_totalprice")


_SQL_SALES_BY_REGION = """
SELECT r_name AS region,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS sales,
       COUNT(o_totalprice) AS orders_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY SUM(CAST(o_totalprice AS DECIMAL(25,8))) DESC
"""


def q_windowed_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/T2 (05:78-80): sliding event-time window agg (10 min / 5 min)
    over the events stream table."""
    events = load_table(spark, sf_dir, "events")
    return windowed_sum_count(events, ["event_type"], "ts", "value")


_SQL_WINDOWED_SALES = """
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


def q_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-extension: session-window aggregation (12 h gap) per user over
    the events stream table. The oracle reproduces Spark's semantics as
    a gaps-and-islands computation: a new session starts when the gap to
    the previous event is ≥ gap; session end = last event + gap."""
    from .operators.aggregates import session_agg

    events = load_table(spark, sf_dir, "events")
    return session_agg(events, ["user_id"], "ts", "value", gap="12 hours")


_SQL_SESSIONIZED = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events
), marked AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                   OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                      >= 43200000000
         THEN 1 ELSE 0 END AS new_session
  FROM e
), sess AS (
  SELECT user_id, us, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, MIN(us) AS session_start_us,
       MAX(us) + 43200000000 AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE) AS total
FROM sess GROUP BY user_id, sid
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (07:65-75): latest-by-timestamp dedup per key, with event_id as
    the deterministic tiebreaker.

    r12 (§2.3 aggregate before you shuffle): runs on ``latest_by_key``
    (max_by aggregation) instead of the window rank — the shuffle
    carries one candidate row per user per map partition instead of
    every event, and no per-user sort runs. (ts, event_id) is a total
    order, so the max_by winner is exactly the old rank-1 row; the
    window idiom itself stays exercised by ``golden_profile``."""
    events = load_table(spark, sf_dir, "events")
    out = latest_by_key(events, ["user_id"], "ts", "event_id")
    return out.select("event_id", F.unix_micros("ts").alias("ts_us"),
                      "user_id", "event_type", "value")


_SQL_LATEST_EVENT_PER_USER = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_latest_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (13:59-70): latest row per (group, window_start) — the
    reference's reconciliation of complete-mode re-emissions, on a 5-min
    tumbling bucket."""
    events = load_table(spark, sf_dir, "events")
    bucketed = events.withColumn(
        "window_start",
        F.unix_timestamp(F.window("ts", "5 minutes").start))
    # r12 (§2.3): max_by aggregation instead of the window rank — same
    # rationale and equivalence as q_latest_event_per_user above
    out = latest_by_key(bucketed, ["event_type", "window_start"],
                        "ts", "event_id")
    return out.select("event_type", "window_start", "event_id",
                      F.unix_micros("ts").alias("ts_us"), "value")


_SQL_LATEST_PER_WINDOW = """
SELECT event_type, window_start, event_id, epoch_us(ts) AS ts_us, value
FROM (
  SELECT *,
         (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_start,
         row_number() OVER (
             PARTITION BY event_type,
                          (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300
             ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_top25_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/O3/O4 (02:76-98): formatted display strings, de-formatted
    re-sort, top-25. Aggregates stay DECIMAL until format_number so no
    double rounding is involved."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    agg = star_join(t).groupBy(F.col("n_name").alias("country")).agg(
        F.sum(dec("o_totalprice")).alias("sales"),
        F.count("o_totalprice").alias("orders"))
    return top_k_formatted(agg, 25, F.col("country"))


_SQL_TOP25_FORMATTED = """
WITH agg AS (
  SELECT n_name AS country,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
         COUNT(o_totalprice) AS c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT country,
       format('{:,}', CAST(s * 100 AS BIGINT) // 100) || '.' ||
         lpad(CAST(CAST(s * 100 AS BIGINT) % 100 AS VARCHAR), 2, '0') AS sales,
       format('{:,}', c) AS orders
FROM agg
ORDER BY CAST(replace(sales, ',', '') AS DOUBLE) DESC, country
LIMIT 25
"""


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (sales.sql:12-16 shape): the 5-way star join with a derived
    revenue measure, aggregated per region.

    The lineitem leg is pre-aggregated per order key BEFORE the join
    chain (partial-aggregation pushdown, which Catalyst does not do
    through joins): the 4-join chain then moves one row per order
    instead of one per lineitem — at 100 TB that is the difference
    between shuffling the fact table once or four times. Safe for the
    hash check because the revenue sum is exact DECIMAL (associative);
    a double sum could NOT be regrouped this way."""
    t = load_tables(spark, sf_dir)
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) \
        .cast("decimal(25,8)")
    per_order = (t["lineitem"]
                 .groupBy("l_orderkey")
                 .agg(F.sum(revenue).alias("rev"),
                      F.count(F.lit(1)).alias("nl")))
    fact = per_order.join(t["orders"],
                          F.col("l_orderkey") == F.col("o_orderkey"))
    joined = star_join(t, fact=fact, region=True)
    return (
        joined.groupBy(F.col("r_name").alias("region"))
        .agg(F.sum("rev").cast("decimal(25,4)").alias("_rev"),
             F.sum("nl").alias("line_count"))
        .orderBy(F.col("_rev").desc())
        .select("region", F.col("_rev").cast("string").alias("revenue"),
                "line_count")
    )


def _bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order lineitem revenue joined to orders over CO-LOCATED
    bucketed tables — the fact⋈fact leg of the star with ZERO Exchange
    (asserted in tests/test_bucketing.py): the per-order groupBy runs
    on the bucket key, so partial+final aggregation needs no shuffle,
    and the sort-merge join consumes both bucket specs directly."""
    import re

    from .operators.bucketing import ensure_bucketed

    tag = re.sub(r"[^0-9A-Za-z]", "_",
                 sf_dir.rstrip("/").rsplit("/", 1)[-1])
    orders = load_table(spark, sf_dir, "orders")
    lineitem = (load_table(spark, sf_dir, "lineitem")
                .withColumnRenamed("l_orderkey", "o_orderkey"))
    bo = ensure_bucketed(spark, orders, f"bkt_orders_{tag}",
                         "o_orderkey", 8)
    bl = ensure_bucketed(spark, lineitem, f"bkt_lineitem_{tag}",
                         "o_orderkey", 8)
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) \
        .cast("decimal(25,8)")
    per_order = (spark.table(bl)
                 .groupBy("o_orderkey")
                 .agg(F.sum(revenue).alias("rev"),
                      F.count(F.lit(1)).alias("nl")))
    return per_order.join(spark.table(bo), "o_orderkey")


def q_revenue_by_region_bucketed(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """J2 at fact⋈fact scale: the same answer as ``revenue_by_region``
    computed through Hive-style BUCKETED orders/lineitem (bucketBy 8 on
    the order key). Staging the buckets is a one-time ETL cost; every
    later run joins the two fact tables with no Exchange on either side
    — at 100 TB that removes the dominant shuffle from each query that
    reuses the layout. Same DuckDB oracle as ``revenue_by_region``
    (bucketing must not change the answer)."""
    fact = _bucketed_order_revenue(spark, sf_dir)
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    return (star_join(t, fact=fact, region=True)
            .groupBy(F.col("r_name").alias("region"))
            .agg(F.sum("rev").cast("decimal(25,4)").alias("_rev"),
                 F.sum("nl").alias("line_count"))
            .orderBy(F.col("_rev").desc())
            .select("region",
                    F.col("_rev").cast("string").alias("revenue"),
                    "line_count"))


_SQL_REVENUE_BY_REGION = """
SELECT r_name AS region,
       CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(25,8))) AS DECIMAL(25,4)) AS VARCHAR)
         AS revenue,
       COUNT(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(25,8))) DESC
"""


def q_enrich_nullfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P4 (08:94-95): left-outer broadcast enrichment with
    na.fill("Unassigned") for unmatched keys."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer") \
        .select(F.col("c_custkey"), F.col("c_mktsegment").alias("segment"))
    joined = enrich(events.withColumn("c_custkey", F.col("user_id")),
                    customer, ["c_custkey"], fill={"segment": "Unassigned"})
    return joined.select("event_id", "user_id", "event_type", "segment")


_SQL_ENRICH_NULLFILL = """
SELECT event_id, user_id, event_type,
       COALESCE(c_mktsegment, 'Unassigned') AS segment
FROM events
LEFT JOIN customer ON user_id = c_custkey
"""


def q_case_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9 (sales.sql:4-8): CASE WHEN bucketing + interval-days shift."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        bucket_case(F.col("o_totalprice"), [1000.0, 10000.0],
                    ["small", "medium", "large"]).alias("price_band"),
        F.unix_micros(shift_days(F.col("o_orderdate"), 1565))
        .alias("adjusted_us"),
    )


_SQL_CASE_INTERVAL = """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 1000.0 THEN 'small'
            WHEN o_totalprice < 10000.0 THEN 'medium'
            ELSE 'large' END AS price_band,
       epoch_us(o_orderdate + INTERVAL 1565 DAYS) AS adjusted_us
FROM orders
"""


def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (pagila-schema.sql:486-492): sorted distinct group
    concatenation — nations per region."""
    t = load_tables(spark, sf_dir, ("nation", "region"))
    joined = t["nation"].join(F.broadcast(t["region"]),
                              F.col("n_regionkey") == F.col("r_regionkey"))
    return group_concat_distinct(
        joined.select(F.col("r_name").alias("region"), F.col("n_name")),
        ["region"], "n_name", alias="nations")


_SQL_GROUP_CONCAT = """
SELECT r_name AS region,
       array_to_string(list_sort(list(DISTINCT n_name)), ', ') AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY region
"""


def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (ipynb cells 17-20): IN-subquery point lookup as a left-semi
    join."""
    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_acctbal") > 4000).select("c_custkey")
    return semi_join_in(orders, rich, "o_custkey", "c_custkey") \
        .select("o_orderkey", "o_custkey", "o_totalprice")


_SQL_IN_SUBQUERY = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 4000)
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (extension beyond the reference's
    collect_set-only distinct surface): per event type, row count and
    exact distinct users. The approx (HyperLogLog++) variant of the
    same operator is bounded-error-tested instead of oracle-checked."""
    events = load_table(spark, sf_dir, "events")
    return distinct_counts(events, ["event_type"], "user_id")


_SQL_DISTINCT_USERS = """
SELECT event_type, COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS distinct_keys
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_distinct_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE twin of ``distinct_users``: exact COUNT(DISTINCT)
    via two-stage salted aggregation. The salt is a deterministic hash
    of the DISTINCT column itself, so every user lands in exactly one
    (event_type, salt) cell — stage 1 computes per-cell exact distincts
    across ``buckets`` reducers (a hot event_type spreads instead of
    funneling its whole distinct state through one task), stage 2 sums
    the disjoint partials. Same answer as the unsalted query by
    construction; same oracle proves it."""
    from .operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events, ["event_type"], salt_on="user_id",
        aggs={"n": F.count(F.lit(1)),
              "distinct_keys": F.count_distinct("user_id")},
        merges={"n": F.sum("n"),
                "distinct_keys": F.sum("distinct_keys")},
        buckets=16)
    return out.orderBy("event_type")


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (quantile_cont interpolation) — the
    summary-statistics extension beyond df.summary() (A4).

    r13: spread (guide §2.5) — the rank windows' exchange is written
    from a single-task scan otherwise."""
    orders = load_table(spark, sf_dir, "orders", spread=True)
    return group_quantiles(orders, ["o_orderstatus"], "o_totalprice")


_SQL_PRICE_QUANTILES = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.75) AS p75,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti extension (SURVEY.md §2.5): customers with no
    HIGH-VALUE (>350k) order, as a left-anti join (Catalyst's NOT
    EXISTS rewrite). The orders side is restricted so the anti set is
    non-empty at every SF — an unrestricted version returns 0 rows on
    this testdata (every customer has orders), which would make the
    oracle row vacuous (0=0 proves nothing)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_totalprice") > 350000)
              .select("o_custkey"))
    return anti_join_not_exists(customer, orders,
                                "c_custkey", "o_custkey") \
        .select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")


_SQL_ANTI_JOIN = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 350000)
ORDER BY c_custkey
"""


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (pagila-schema.sql:487-492): correlated scalar subquery —
    customers above their nation's average balance. Left to Catalyst's
    decorrelation (RewriteCorrelatedScalarSubquery)."""
    load_table(spark, sf_dir, "customer") \
        .createOrReplaceTempView("q12_customer")
    return spark.sql("""
        SELECT c_custkey, c_name, c_acctbal
        FROM q12_customer c1
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM q12_customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
    """)


_SQL_CORRELATED_SUBQUERY = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c1
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c1.c_nationkey)
"""


def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 (sales.sql:37): OFFSET 250 LIMIT 600 over a deterministic
    ordering."""
    orders = load_table(spark, sf_dir, "orders")
    out = limit_offset(orders,
                       [F.col("o_totalprice").desc(), F.col("o_orderkey")],
                       limit=600, offset=250)
    return out.select("o_orderkey", "o_totalprice")


_SQL_LIMIT_OFFSET = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
OFFSET 250 LIMIT 600
"""


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (13 ipynb cells 7/14): deterministic df.summary() equivalent —
    count/mean/stddev/min/max per return flag.

    r13: spread examined and REJECTED — the five cents moments are
    light enough that the §2.5 repartition costs more than the
    parallelism buys (A/B: 1.03 s base vs 2.57 s spread)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return summary_stats(lineitem, ["l_returnflag"], "l_extendedprice")


_SQL_SUMMARY_STATS = """
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), a AS (
  SELECT l_returnflag,
         COUNT(cents) AS cnt,
         CAST(SUM(cents) AS DOUBLE) / 100.0 AS s,
         CAST(SUM(cents * cents) AS DOUBLE) / 10000.0 AS s2,
         CAST(MIN(cents) AS DOUBLE) / 100.0 AS min_val,
         CAST(MAX(cents) AS DOUBLE) / 100.0 AS max_val
  FROM c GROUP BY l_returnflag
)
SELECT l_returnflag, cnt,
       round(s / CAST(cnt AS DOUBLE), 6) AS mean_val,
       round(sqrt(greatest((s2 - s * s / CAST(cnt AS DOUBLE))
             / (CAST(cnt AS DOUBLE) - 1.0), 0.0)), 6) AS stddev_val,
       min_val, max_val
FROM a
ORDER BY l_returnflag
"""


def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (06:98): deterministic surrogate key per row (md5 twin of the
    reference's sha1 — the oracle lacks sha1; sha1 itself is unit-tested
    against hashlib)."""
    orders = load_table(spark, sf_dir, "orders")
    return surrogate_key(orders, ["o_orderkey", "o_custkey"],
                         out="skey", algo="md5") \
        .select("o_orderkey", "skey")


_SQL_SURROGATE_KEY = """
SELECT o_orderkey,
       md5(CAST(o_orderkey AS VARCHAR) || CAST(o_custkey AS VARCHAR)) AS skey
FROM orders
"""


def q_serde_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-E4 (01:75-76 → 02:80-83): whole-row JSON encode into a binary
    Kafka-style value, then decode against the explicit schema — the
    identity the serde layer must preserve.

    r13: orders spread (guide §2.5) — the JSON encode + decode chain
    is per-row scan-stage compute."""
    from .serde import decode_json, encode_json

    orders = load_table(spark, sf_dir, "orders", spread=True)
    enveloped = encode_json(orders, key_col="o_orderkey") \
        .select(F.col("key"), F.col("value").cast("binary").alias("value"))
    decoded = decode_json(enveloped, orders.schema)
    return decoded.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.unix_micros("o_orderdate").alias("o_orderdate_us"),
        "o_orderpriority")


_SQL_SERDE_JSON_ROUNDTRIP = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
FROM orders
"""


def q_time_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 (13:74-75, ipynb cells 11-12): ``from_unixtime`` /
    ``date_format`` display formatting. Instants are first pinned to
    UTC wall-clock via ``convert_timezone`` so the rendered strings are
    session-timezone-independent (the reference renders in cluster-local
    time — a nondeterminism this engine deliberately removes)."""
    orders = load_table(spark, sf_dir, "orders")
    utc = F.expr("convert_timezone('UTC', o_orderdate)")
    return orders.select(
        "o_orderkey",
        F.date_format(utc, "yyyy-MM-dd HH:mm").alias("order_minute"),
        F.date_format(utc, "yyyy-MM-dd").alias("order_day"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
    )


_SQL_TIME_FORMATTED = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M') AS order_minute,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch
FROM orders
"""


def q_window_agg_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (02:76-86): the reference's batch aggregation idiom —
    analytic ``count/sum().over(partitionBy)`` plus a rank filter
    keeping one row per group (instead of groupBy). Reproduced exactly:
    the same plan shape (WindowExec after a hash-partition exchange)
    with a deterministic tiebreaker added."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    joined = star_join(t).withColumnRenamed("n_name", "country")
    w = Window.partitionBy("country")
    w_rank = Window.partitionBy("country").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (joined
            .withColumn("orders", F.count("o_totalprice").over(w))
            .withColumn("sales",
                        F.sum(dec("o_totalprice")).over(w).cast("double"))
            .withColumn("row", F.row_number().over(w_rank))
            .filter(F.col("row") == 1)
            .select("country", "sales", "orders",
                    F.col("o_orderkey").alias("top_order")))


_SQL_WINDOW_AGG_SHAPE = """
SELECT country, sales, orders, top_order
FROM (
  SELECT n_name AS country,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY n_name) AS DOUBLE) AS sales,
         COUNT(o_totalprice) OVER (PARTITION BY n_name) AS orders,
         o_orderkey AS top_order,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
) WHERE rn = 1
"""


def q_smt_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9/P10 (jdbc_source_connector_postgresql_01.json:13-23,
    s3_sink_connector_02.json:17-28): the connector SMT chain as
    DataFrame ops — ValueToKey, InsertField (static + topic), and
    ReplaceField rename."""
    from .transforms import (insert_static_fields, insert_topic_field,
                             rename_fields, value_to_key)

    orders = load_table(spark, sf_dir, "orders") \
        .withColumn("topic", F.lit("pagila.orders"))
    out = value_to_key(orders, "o_orderkey", key_col="key")
    out = insert_static_fields(out, {"message_source": "pagila"})
    out = insert_topic_field(out, "topic", out="message_topic")
    out = rename_fields(out, {"o_orderpriority": "priority"})
    return out.select("key", "o_orderkey", "priority",
                      "message_source", "message_topic")


_SQL_SMT_CHAIN = """
SELECT o_orderkey AS key, o_orderkey, o_orderpriority AS priority,
       'pagila' AS message_source, 'pagila.orders' AS message_topic
FROM orders
"""


def q_smt_router_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining stock-SMT surface as one chain over the event
    stream: RegexRouter (topic rewrite), TimestampRouter (daily topic
    suffix from the tz-free epoch day), MaskField (props → typed
    null), Cast (value → exact cents string-safe long), ExtractField
    over the JSON payload, and a HoistField→Flatten round-trip
    (payload_ prefix). Pure Projects — the whole chain fuses into the
    scan stage."""
    from .transforms import (cast_fields, extract_json_field,
                             flatten_value, hoist_field, mask_field,
                             regex_router, timestamp_router)

    ev = load_table(spark, sf_dir, "events") \
        .withColumn("topic", F.lit("events.raw"))
    out = regex_router(ev, r"^events\.raw$", "app_events")
    out = timestamp_router(out, "ts")
    out = extract_json_field(out, "props", "k", out="prop_k",
                             dtype="long")
    out = mask_field(out, ["props"])
    out = cast_fields(out, {"value": "decimal(18,2)"})
    out = out.withColumn("value_c",
                         (F.col("value") * 100).cast("long")).drop("value")
    out = hoist_field(out, "payload", keep=["topic", "event_id"])
    out = flatten_value(out)
    return out.select("event_id", "topic", "payload_user_id",
                      "payload_event_type", "payload_prop_k",
                      "payload_value_c", "payload_props")


_SQL_SMT_ROUTER_CHAIN = """
SELECT event_id,
       'app_events-' || strftime(DATE '1970-01-01'
           + CAST(epoch_us(ts) // 86400000000 AS INTEGER), '%Y%m%d')
         AS topic,
       user_id AS payload_user_id,
       event_type AS payload_event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS payload_prop_k,
       CAST(round(value * 100) AS BIGINT) AS payload_value_c,
       CAST(NULL AS VARCHAR) AS payload_props
FROM events
"""


def q_csv_dim_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S9 (01:46-48 seed shape): the region dim written to and
    re-read from pipe-separated CSV with an explicit schema (never
    inferred), then used to enrich the sales aggregation — proving the
    engine can seed from the reference's own CSV data shape."""
    from pyspark.sql import types as T

    from .sources.files import read_csv, write_csv

    t = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
    dim = (t["nation"].join(F.broadcast(t["region"]),
                            F.col("n_regionkey") == F.col("r_regionkey"))
           .select(F.col("n_nationkey").cast("long").alias("nationkey"),
                   F.col("r_name").alias("region")))
    csv_dir = _scratch_dir("csv_dim_")
    write_csv(dim, csv_dir, sep="|", single_file=True)
    dim_schema = T.StructType([
        T.StructField("nationkey", T.LongType(), False),
        T.StructField("region", T.StringType(), False)])
    dim_back = read_csv(spark, csv_dir, dim_schema, sep="|")
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(dim_back),
              F.col("c_nationkey") == F.col("nationkey")))
    return sum_count(joined, ["region"], "o_totalprice")


_SQL_CSV_DIM_SALES = _SQL_SALES_BY_REGION


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/E6/S10 (11:76-77 → 12:70 → deltastreamer AvroDFSSource):
    orders encoded to Avro binary, written as Object Container Files,
    re-read through the distributed binaryFile+OCF source, decoded —
    the identity the Avro plane must preserve. Runs on the pure-Python
    codec in this container; the null-codec OCFs it writes are readable
    by any Avro implementation (spark-avro included).

    r13: orders spread (guide §2.5) — the Avro encode kernel otherwise
    runs as ONE Python worker on the single-row-group testdata."""
    from .catalog import struct_to_avro_json
    from .sources.files import read_avro, write_avro

    orders = load_table(spark, sf_dir, "orders", spread=True)
    avro_json = struct_to_avro_json("orders", orders.schema)
    avro_dir = _scratch_dir("avro_rt_")
    write_avro(orders, avro_dir, avro_json)
    back = read_avro(spark, avro_dir, avro_json, orders.schema)
    return back.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.unix_micros("o_orderdate").alias("o_orderdate_us"),
        "o_orderpriority")


_SQL_AVRO_ROUNDTRIP = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
FROM orders
"""


def q_avro_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry WIRE-FORMAT roundtrip: orders Avro-encoded, framed
    with the Confluent/Apicurio 5-byte header (0x00 magic + BE
    schema id — the envelope the reference's registry serdes put on
    every Avro topic, `11_incremental_sales_avro.py:112-119`),
    unframed with inline magic validation and schema-id dispatch,
    then decoded. Framing and unframing are pure JVM column
    expressions (hex/unhex/substring) — the only Python is the
    container's Avro codec itself. Rows whose id does not match the
    catalog entry would route to the dead letter path; here all ids
    match and the identity must hold, which the avro_roundtrip
    oracle checks.

    r13: orders spread (guide §2.5) — frame/unframe + the Avro codec
    are per-row scan-stage compute."""
    from .catalog import struct_to_avro_json
    from .serde import (frame_registry, from_avro_column,
                        to_avro_column, unframe_registry)

    orders = load_table(spark, sf_dir, "orders", spread=True)
    avro_json = struct_to_avro_json("orders", orders.schema)
    framed = orders.select(
        frame_registry(to_avro_column(orders, avro_json), 7)
        .alias("value"))
    sid, payload = unframe_registry(F.col("value"))
    unframed = (framed.select(sid.alias("schema_id"),
                              payload.alias("value"))
                .filter(F.col("schema_id") == 7))
    back = from_avro_column(unframed, avro_json, orders.schema)
    return back.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.unix_micros("o_orderdate").alias("o_orderdate_us"),
        "o_orderpriority")


def _cdc_stream(spark: SparkSession, sf_dir: str, prefix: str,
                files_per_phase: int = 1) -> tuple[str, DataFrame]:
    """``(base, stream)``: the Debezium envelope feed over ``orders``
    (sources/cdc.py) staged in a fresh scratch directory ``base``
    (:func:`_scratch_dir`), read one file per micro-batch and unwrapped
    (P11)."""
    from .sources.cdc import write_envelope_stream_dir
    from .transforms import cdc_unwrap

    base = _scratch_dir(prefix)
    env_dir = f"{base}/envelope"
    write_envelope_stream_dir(spark, sf_dir, env_dir, files_per_phase)
    stream = (spark.readStream.schema(spark.read.parquet(env_dir).schema)
              .option("maxFilesPerTrigger", "1").parquet(env_dir))
    return base, cdc_unwrap(stream)


def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 end-to-end: Debezium envelope stream → unwrap (P11) →
    foreachBatch latest-wins MERGE into a partitioned table with delete
    rewrite and cross-partition key moves (W5) → final table read.

    The change stream is deterministically derived from ``orders``
    (see sources/cdc.py), so the merged table is SQL-expressible."""
    from .streaming.runner import run_foreach_batch
    from .streaming.upsert import UpsertTable

    base, stream = _cdc_stream(spark, sf_dir, "cdc_upsert_")
    table = UpsertTable(f"{base}/table", key_cols=["o_orderkey"],
                        ordering_col="__source_ts_ms", tiebreak_col="__lsn",
                        partition_by="order_month")
    run_foreach_batch(stream, table.merge_batch,
                      checkpoint_dir=f"{base}/ckpt")
    return table.read(spark).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "order_month")


_SQL_CDC_UPSERT = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 10 IN (1, 2) THEN 'U'
            ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 10 IN (1, 2) THEN o_totalprice * 1.1
            ELSE o_totalprice END AS o_totalprice,
       CASE WHEN o_orderkey % 10 IN (1, 2)
            THEN strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m')
            ELSE strftime(o_orderdate, '%Y-%m') END AS order_month
FROM orders
WHERE o_orderkey % 10 <> 0
"""


def q_cdc_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-Read twin of ``cdc_upsert`` (§3.3, S15): the same
    Debezium envelope stream ingested via append-only delta-log writes
    (``MergeOnReadTable.append_batch`` — no base read, no partition
    rewrite per micro-batch), then read through the ``_rt``
    read-time-merge view. Must hash-match the CoW table state after
    the same feed, so the oracle is ``_SQL_CDC_UPSERT`` verbatim.

    Reference parity: ``deltastreamer_jobs_bulk.sh:7-79`` runs CoW and
    MoR DeltaStreamer jobs over the same topics;
    ``moma_debezium_hudi_demo.ipynb`` cells 8-11 query ``_ro``/``_rt``."""
    from .streaming.runner import run_foreach_batch
    from .streaming.upsert import MergeOnReadTable

    base, stream = _cdc_stream(spark, sf_dir, "cdc_upsert_mor_")
    table = MergeOnReadTable(f"{base}/table", key_cols=["o_orderkey"],
                             ordering_col="__source_ts_ms",
                             tiebreak_col="__lsn",
                             partition_by="order_month")
    run_foreach_batch(stream, table.append_batch,
                      checkpoint_dir=f"{base}/ckpt")
    table.register_views(spark, "mor_orders")
    return spark.table("mor_orders_rt").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "order_month")


def q_cdc_upsert_mor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-mode MoR ingestion — the reference's background
    DeltaStreamer MoR job with INLINE COMPACTION firing mid-stream
    (``deltastreamer_jobs_cont_bkgd.sh:5-20`` runs ``--continuous``
    MoR jobs; ``hoodie.compact.inline.max.delta.commits`` in the MoR
    properties schedules the fold every N delta commits).

    The same CDC envelope feed as ``cdc_upsert_mor``, but split into
    SIX micro-batch files (two per phase) and ingested with
    ``max_delta_commits=2``: batch 0 bulk-inserts the base, batches
    1-5 append delta-log commits, and compaction fires automatically
    inside batches 2 and 4 — mid-stream, between appends — leaving ONE
    pending log commit at the end. The final ``_rt`` read therefore
    exercises BOTH the mid-stream fold and a real read-time merge, and
    must still hash-match the CoW table state after the same feed
    (oracle ``_SQL_CDC_UPSERT`` verbatim, same as the other two CDC
    queries)."""
    from .streaming.runner import run_foreach_batch
    from .streaming.upsert import MergeOnReadTable

    base, stream = _cdc_stream(spark, sf_dir, "cdc_upsert_mor_stream_",
                               files_per_phase=2)
    table = MergeOnReadTable(f"{base}/table", key_cols=["o_orderkey"],
                             ordering_col="__source_ts_ms",
                             tiebreak_col="__lsn",
                             partition_by="order_month",
                             max_delta_commits=2)
    run_foreach_batch(stream, table.append_batch,
                      checkpoint_dir=f"{base}/ckpt")
    table.register_views(spark, "mor_stream_orders")
    return spark.table("mor_stream_orders_rt").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "order_month")


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a (status, month) revenue
    aggregate is built from the CDC snapshot phase, then brought
    current by folding ONLY the update/delete delta phases in as
    signed contributions — the base fact is never rescanned
    (operators/ivm.py). The oracle recomputes the same aggregate from
    the final state; DECIMAL contributions make the two
    bit-identical."""
    from .operators.aggregates import dec
    from .operators.ivm import maintain_sum_count, signed_contributions
    from .sources.cdc import orders_cdc_envelope

    env = orders_cdc_envelope(spark, sf_dir)
    cols = ["o_orderstatus", "o_totalprice", "order_month"]
    base = (env.filter(F.col("__phase") == 0).select("after.*")
            .groupBy("o_orderstatus", "order_month")
            .agg(F.sum(dec("o_totalprice", 25, 8)).alias("total"),
                 F.count(F.lit(1)).alias("n")))
    contribs = (signed_contributions(env.filter(F.col("__phase") > 0),
                                     cols)
                .withColumn("val", dec("o_totalprice", 25, 8)))
    out = maintain_sum_count(base, contribs,
                             ["o_orderstatus", "order_month"], "val")
    return (out.select("o_orderstatus", "order_month",
                       F.col("total").cast("decimal(25,4)")
                       .cast("string").alias("total"),
                       "n")
            .orderBy("o_orderstatus", "order_month"))


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel with per-stage
    conversion rates — operators/funnel.py. One shuffle on user_id
    regardless of step count."""
    from .operators.funnel import funnel_counts

    events = load_table(spark, sf_dir, "events")
    return funnel_counts(events, ["view", "click", "purchase"])


_SQL_FUNNEL_STEPS = """
WITH u0 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t0
  FROM events
), u1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
           OVER (PARTITION BY user_id) AS t1 FROM u0
), u2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts
                END) OVER (PARTITION BY user_id) AS t2 FROM u1
), pu AS (
  SELECT DISTINCT user_id, t0, t1, t2 FROM u2
), t AS (
  SELECT COUNT(t0) AS n0, COUNT(t1) AS n1, COUNT(t2) AS n2 FROM pu
)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS step, n0 AS n_users,
         1.0 AS conv_from_first, 1.0 AS conv_from_prev FROM t
  UNION ALL
  SELECT 2, 'click', n1, CAST(n1 AS DOUBLE) / n0,
         CAST(n1 AS DOUBLE) / n0 FROM t
  UNION ALL
  SELECT 3, 'purchase', n2, CAST(n2 AS DOUBLE) / n0,
         CAST(n2 AS DOUBLE) / n1 FROM t
) ORDER BY stage
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: distinct users from each
    first-activity week active N weeks later — operators/funnel.py.
    Fixed-width epoch periods (integer division) keep the bucketing
    timezone-free."""
    from .operators.funnel import retention_cohorts

    events = load_table(spark, sf_dir, "events")
    return (retention_cohorts(events)
            .withColumnRenamed("offset", "week_offset"))


_SQL_RETENTION_COHORTS = """
WITH p AS (
  SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events
), c AS (
  SELECT user_id, p, MIN(p) OVER (PARTITION BY user_id) AS cohort
  FROM p
), d AS (
  SELECT DISTINCT user_id, cohort, p - cohort AS week_offset FROM c
)
SELECT cohort, week_offset, COUNT(*) AS n_users
FROM d GROUP BY cohort, week_offset ORDER BY cohort, week_offset
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-country order statistics: mean/min/max after
    dropping the top and bottom 5% of orders by exact rank
    (operators/aggregates.py trimmed_stats) — the outlier-resistant
    twin of ``sales_by_country``.

    r13: orders spread (guide §2.5 single-row-group testdata; no-op at
    scale) — the join + rank-window exchange write otherwise runs
    single-task."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    t["orders"] = load_table(spark, sf_dir, "orders", spread=True)
    joined = star_join(t).withColumnRenamed("n_name", "country")
    from .operators.aggregates import trimmed_stats
    return trimmed_stats(joined, ["country"], "o_totalprice",
                         "o_orderkey", trim_pct=5)


_SQL_TRIMMED_MEAN = """
WITH j AS (
  SELECT n_name AS country, o_totalprice AS amount, o_orderkey
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
), r AS (
  SELECT country, amount, o_orderkey,
         row_number() OVER (PARTITION BY country
                            ORDER BY amount, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY country) AS n
  FROM j
), kept AS (
  SELECT * FROM r
  WHERE rn > CAST(floor(n * 5 / 100) AS BIGINT)
    AND rn <= n - CAST(floor(n * 5 / 100) AS BIGINT)
)
SELECT country, COUNT(*) AS n_kept, MAX(n) AS n_total,
       CAST(SUM(CAST(amount AS DECIMAL(25,8))) AS DOUBLE) / COUNT(*)
         AS trimmed_mean,
       MIN(amount) AS trimmed_min, MAX(amount) AS trimmed_max
FROM kept GROUP BY country ORDER BY country
"""


def q_interpolated_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-series interpolation at 6-hour grid instants per
    user (operators/temporal.py linear_interpolate_grid) — the
    `interpolate` companion to `calendar_fill`'s LOCF."""
    from .operators.temporal import linear_interpolate_grid
    events = load_table(spark, sf_dir, "events")
    obs = events.select("user_id",
                        F.unix_timestamp("ts").alias("es"), "value")
    return linear_interpolate_grid(obs, "user_id", "es", "value",
                                   step=21600)


_SQL_INTERPOLATED_SERIES = """
WITH o AS (
  SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         MAX(value) AS v
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT k, MIN(t) AS lo, MAX(t) AS hi FROM o GROUP BY k
), grid AS (
  SELECT k, unnest(range(CAST(ceil(lo / 21600.0) AS BIGINT) * 21600,
                         hi + 1, 21600)) AS t
  FROM bounds
), u AS (
  SELECT k, t, v, 1 AS is_obs FROM o
  UNION ALL
  SELECT k, t, NULL AS v, 0 AS is_obs FROM grid
), m AS (
  SELECT k, t, is_obs,
    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY t
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
    last_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS)
      OVER (PARTITION BY k ORDER BY t
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
    first_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY t
      RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
    first_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS)
      OVER (PARTITION BY k ORDER BY t
      RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
  FROM u
)
SELECT k AS user_id, t AS es, t0 AS prev_ts, t1 AS next_ts,
       CASE WHEN t1 = t0 THEN v0
            ELSE v0 + (v1 - v0)
                 * ((t - t0)::DOUBLE / (t1 - t0)::DOUBLE) END AS v_interp
FROM m WHERE is_obs = 0
ORDER BY user_id, es
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout analysis over (price-bucket, customer-bucket)
    (operators/layout.py): per-z-slice min/max spans on BOTH
    dimensions — the data-skipping evidence a ZORDER write produces."""
    from .operators.layout import zorder_file_stats
    orders = load_table(spark, sf_dir, "orders")
    b1 = F.least(F.floor(F.col("o_totalprice") / 40000.0),
                 F.lit(15)).cast("long")
    b2 = (F.col("o_custkey") % 16).cast("long")
    return zorder_file_stats(orders, b1, b2, bits=4, files=16)


def _sql_zorder_layout() -> str:
    from .operators.layout import z_interleave_sql
    return f"""
WITH b AS (
  SELECT least(CAST(floor(o_totalprice / 40000.0) AS BIGINT), 15) AS b1,
         o_custkey % 16 AS b2
  FROM orders
), z AS (
  SELECT b1, b2, {z_interleave_sql('b1', 'b2', 4)} AS z FROM b
), f AS (SELECT b1, b2, z // 16 AS file_id FROM z)
SELECT file_id, COUNT(*) AS n_rows,
       MIN(b1) AS b1_min, MAX(b1) AS b1_max,
       MIN(b2) AS b2_min, MAX(b2) AS b2_max,
       MAX(b1) - MIN(b1) + 1 AS b1_span,
       MAX(b2) - MIN(b2) + 1 AS b2_span
FROM f GROUP BY file_id ORDER BY file_id
"""


_SQL_ZORDER_LAYOUT = _sql_zorder_layout()


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan (operators/layout.py
    compaction_bins): treat each order as a file-listing entry
    (partition = o_orderpriority, size = floor(o_totalprice) bytes)
    and first-fit bin-pack, in key order, into ~8 MB output files —
    the OPTIMIZE/compact maintenance pass behind the reference's
    hoodie.parquet.small.file.limit
    (deltastreamer_artists_apicurio_cow.properties:23-24)."""
    from .operators.layout import compaction_bins
    orders = load_table(spark, sf_dir, "orders")
    files = orders.select(
        F.col("o_orderpriority").alias("part"),
        F.col("o_orderkey").alias("item"),
        F.floor("o_totalprice").cast("long").alias("bytes"))
    return compaction_bins(files, "part", "item", "bytes",
                           target=8_000_000)


_SQL_COMPACTION_PLAN = """
WITH f AS (
  SELECT o_orderpriority AS part, o_orderkey AS item,
         CAST(floor(o_totalprice) AS BIGINT) AS bytes
  FROM orders
), c AS (
  SELECT part, bytes,
         CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY item
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) // 8000000 AS bin
  FROM f
)
SELECT part, bin, COUNT(*) AS n_items,
       CAST(SUM(bytes) AS BIGINT) AS bytes_total,
       CAST(SUM(bytes) AS BIGINT) / 8000000.0 AS fill_ratio
FROM c GROUP BY 1, 2 ORDER BY part, bin
"""


def q_zone_map_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-skipping) effectiveness audit
    (operators/layout.py zone_map_audit): simulate three write
    layouts of orders — arrival order, price-clustered, and
    hash-scattered — chunk each into files, and report how many
    files/rows the predicate o_totalprice BETWEEN 100000 AND 150000
    must scan under each layout's per-file min/max stats. The
    decision table behind choosing a sort key before a 100 TB
    rewrite."""
    from .operators.layout import zone_map_audit
    orders = load_table(spark, sf_dir, "orders")
    hashed = F.conv(F.substring(
        F.md5(F.concat(F.lit("zm:"), F.col("o_orderkey").cast("string"))),
        1, 12), 16, 10).cast("long") % 16
    layouts = [
        ("arrival", F.expr("o_orderkey div 1000")),
        ("clustered", F.floor(F.col("o_totalprice") / 25000.0)
         .cast("long")),
        ("hashed", hashed),
    ]
    return zone_map_audit(orders, layouts, "o_totalprice",
                          lo=100000.0, hi=150000.0)


_SQL_ZONE_MAP_AUDIT = """
WITH per_file AS (
  SELECT 'arrival' AS layout, o_orderkey // 1000 AS f,
         o_totalprice AS s FROM orders
  UNION ALL
  SELECT 'clustered', CAST(floor(o_totalprice / 25000.0) AS BIGINT),
         o_totalprice FROM orders
  UNION ALL
  SELECT 'hashed',
         CAST(concat('0x', substr(md5('zm:' || CAST(o_orderkey AS VARCHAR)),
              1, 12)) AS BIGINT) % 16,
         o_totalprice FROM orders
), stats AS (
  SELECT layout, f, MIN(s) AS mn, MAX(s) AS mx,
         COUNT(*) AS n,
         CAST(SUM(CASE WHEN s BETWEEN 100000.0 AND 150000.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS matched
  FROM per_file GROUP BY 1, 2
)
SELECT layout, COUNT(*) AS n_files,
       CAST(SUM(CASE WHEN mn <= 150000.0 AND mx >= 100000.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(SUM(CASE WHEN mn <= 150000.0 AND mx >= 100000.0
                     THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(SUM(matched) AS BIGINT) AS rows_matched,
       CAST(SUM(n) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN mn <= 150000.0 AND mx >= 100000.0
                     THEN n ELSE 0 END) AS BIGINT)
         / CAST(SUM(n) AS BIGINT) AS scan_ratio
FROM stats GROUP BY layout ORDER BY layout
"""


def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score anomaly detection over the event
    stream (operators/temporal.py rolling_zscore_anomalies): events
    whose value deviates > 2 trailing-σ from their own 20-event
    history. All-int64 test — no float stddev anywhere — so the flag
    set is bit-exact cross-engine. scale=10⁴ bounds every term by
    (20 · 5.7e6)² ≈ 1.3e16 < 2⁶³ for this table's value range."""
    from .operators.temporal import rolling_zscore_anomalies
    events = load_table(spark, sf_dir, "events")
    return rolling_zscore_anomalies(
        events, "user_id", ["ts", "event_id"], "value",
        lookback=20, k=2, scale=10_000, min_obs=8) \
        .drop("ts").orderBy("user_id", "event_id")


from .operators.temporal import \
    ROLLING_ANOMALY_ORACLE_SQL as _SQL_ROLLING_ANOMALY  # noqa: E402


def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per user (operators/temporal.py
    activity_islands): consecutive-active-day runs from the events
    table — day = fixed-width epoch bucket, island id = the
    day − row_number difference trick."""
    from .operators.temporal import activity_islands
    events = load_table(spark, sf_dir, "events")
    return activity_islands(events, "user_id", "ts")


_SQL_ACTIVITY_ISLANDS = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
  FROM events
), r AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM d
), runs AS (
  SELECT user_id, grp, COUNT(*) AS run_len FROM r GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(run_len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_islands,
       MAX(run_len) AS longest_run
FROM runs GROUP BY user_id ORDER BY user_id
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority weighted median line price, weight = quantity
    (operators/aggregates.py weighted_median) — integer cumulative
    weights, no interpolation, deterministic lower-median.

    r13: lineitem spread — the distinct-(group, value) pre-aggregation
    runs map-side in the scan stage (guide §2.5)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    t["lineitem"] = load_table(spark, sf_dir, "lineitem", spread=True)
    j = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    from .operators.aggregates import weighted_median
    return weighted_median(j, ["o_orderpriority"], "l_extendedprice",
                           "l_quantity", ["l_orderkey", "l_linenumber"])


_SQL_WEIGHTED_MEDIAN = """
WITH j AS (
  SELECT o_orderpriority, l_extendedprice,
         CAST(l_quantity AS BIGINT) AS w_q,
         l_orderkey, l_linenumber
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), c AS (
  SELECT o_orderpriority, l_extendedprice,
         CAST(SUM(w_q) OVER (PARTITION BY o_orderpriority
              ORDER BY l_extendedprice, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_w,
         CAST(SUM(w_q) OVER (PARTITION BY o_orderpriority)
              AS BIGINT) AS tot_w
  FROM j
)
SELECT o_orderpriority,
       MIN(l_extendedprice) AS weighted_median,
       MAX(tot_w) AS total_weight
FROM c WHERE cum_w * 2 >= tot_w
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority equi-depth price deciles (operators/aggregates.py
    grouped_equidepth_bins): ntile(10) over the deterministic
    (price, orderkey) order — the feature-binning boundary-discovery
    primitive; equi-WIDTH twin is `price_histogram`."""
    orders = load_table(spark, sf_dir, "orders")
    from .operators.aggregates import grouped_equidepth_bins
    return grouped_equidepth_bins(orders, ["o_orderpriority"],
                                  "o_totalprice", "o_orderkey",
                                  n_bins=10)


_SQL_EQUIDEPTH_BINS = """
WITH r AS (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT o_orderpriority, CAST(bin AS INT) AS bin, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM r GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier customers over (order count, exact-decimal total
    spend) — operators/relational.py skyline_2d: per-x max-y reduction
    + a frontier scan over the reduced set, O(n log n) vs the oracle's
    quadratic NOT-EXISTS dominance check."""
    from .operators.aggregates import dec
    from .operators.relational import skyline_2d
    orders = load_table(spark, sf_dir, "orders")
    per = (orders.groupBy("o_custkey")
           .agg(F.count(F.lit(1)).alias("n_orders"),
                F.sum(dec("o_totalprice", 25, 8)).cast("double")
                .alias("spend")))
    return skyline_2d(per, "n_orders", "spend", "o_custkey")


_SQL_SKYLINE_CUSTOMERS = """
WITH per AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS DOUBLE)
           AS spend
  FROM orders GROUP BY 1
)
SELECT n_orders, spend, o_custkey
FROM per p
WHERE NOT EXISTS (
  SELECT 1 FROM per q
  WHERE q.n_orders >= p.n_orders AND q.spend >= p.spend
    AND (q.n_orders > p.n_orders OR q.spend > p.spend
         OR (q.n_orders = p.n_orders AND q.spend = p.spend
             AND q.o_custkey < p.o_custkey))
)
ORDER BY n_orders DESC
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the fraud/data-entry
    anomaly screen: per leading digit, observed count and share next
    to the Benford expectation log10(1 + 1/d). Digit extraction is
    floor -> int64 -> string (identical on any engine — no log10 of
    data values anywhere; the expectations are shared literals)."""
    import math
    orders = load_table(spark, sf_dir, "orders")
    counts = (orders
              .select(F.substring(F.floor("o_totalprice").cast("string"),
                                  1, 1).alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = counts.agg(F.sum("n").alias("tot"))
    exp = spark.createDataFrame(
        [(str(i), math.log10(1 + 1 / i)) for i in range(1, 10)],
        "digit string, benford double")
    share = F.col("n").cast("double") / F.col("tot")
    return (counts.crossJoin(F.broadcast(tot))
            .join(F.broadcast(exp), "digit")
            .select("digit", "n", share.alias("share"), "benford",
                    (share - F.col("benford")).alias("dev"))
            .orderBy("digit"))


def _sql_benford_audit() -> str:
    import math
    vals = ", ".join(f"('{i}', {math.log10(1 + 1 / i)!r})"
                     for i in range(1, 10))
    return f"""
WITH d AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                1, 1) AS digit
  FROM orders
), c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
e(digit, benford) AS (VALUES {vals})
SELECT c.digit AS digit, n,
       CAST(n AS DOUBLE) / tot AS share, benford,
       CAST(n AS DOUBLE) / tot - benford AS dev
FROM c CROSS JOIN t JOIN e USING (digit)
ORDER BY digit
"""


_SQL_BENFORD_AUDIT = _sql_benford_audit()


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join (operators/joins.py
    bloom_semi_join): lineitem reduced by a 2^16-bit Bloom built from
    high-value order keys, then exactly verified — output equals the
    plain semi join (the oracle), the shuffle sees the filtered
    fraction. Aggregated per return flag for a compact check."""
    from .operators.aggregates import dec
    from .operators.joins import bloom_semi_join
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    dim = (t["orders"].filter(F.col("o_totalprice") > 400000)
           .select(F.col("o_orderkey").alias("l_orderkey")))
    kept = bloom_semi_join(t["lineitem"], dim, "l_orderkey")
    return (kept.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_quantity").cast("long")).alias("qty"),
                 F.sum(dec("l_extendedprice", 25, 8)).cast("decimal(25,2)")
                 .cast("string").alias("revenue"))
            .orderBy("l_returnflag"))


_SQL_BLOOM_SEMI_JOIN = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_totalprice > 400000)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 behavioral event-type trigrams: per user in (ts,
    event_id) order, the 3-step paths users actually take — two lead
    windows + a hash-agg, the path-mining primitive."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (events
           .withColumn("e2", F.lead("event_type", 1).over(w))
           .withColumn("e3", F.lead("event_type", 2).over(w))
           .filter(F.col("e3").isNotNull()))
    tri = F.concat_ws(">", "event_type", "e2", "e3")
    return (seq.groupBy(tri.alias("trigram"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "trigram")
            .limit(25))


_SQL_EVENT_TRIGRAMS = """
WITH s AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS trigram,
       COUNT(*) AS cnt
FROM s WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY cnt DESC, trigram LIMIT 25
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median absolute deviation
    (two exact percentile passes), flag |v - med| > 3 * MAD — the
    outlier screen that, unlike z-scores, a few extreme values cannot
    drag. Exact percentiles share the `price_quantiles` interpolation
    contract (quantile_cont semantics both engines)."""
    events = load_table(spark, sf_dir, "events")
    med = (events.groupBy("event_type")
           .agg(F.percentile("value", F.lit(0.5)).alias("med")))
    dev = (events.join(med, "event_type")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    mad = (dev.groupBy("event_type")
           .agg(F.max("med").alias("med"),
                F.percentile("adev", F.lit(0.5)).alias("mad")))
    flagged = (dev.drop("med").join(mad, "event_type")
               .withColumn("is_out",
                           F.abs(F.col("value") - F.col("med"))
                           > F.lit(3.0) * F.col("mad")))
    return (flagged.groupBy("event_type")
            .agg(F.max("med").alias("med"), F.max("mad").alias("mad"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("is_out").cast("long")).alias("n_outliers"))
            .orderBy("event_type"))


_SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, MAX(med) AS med,
         quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type AS event_type, MAX(a.med) AS med,
       MAX(a.mad) AS mad, COUNT(*) AS n,
       CAST(SUM(CASE WHEN abs(d.value - a.med) > 3.0 * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM (SELECT event_type, value FROM events) d
JOIN mad a USING (event_type)
GROUP BY 1 ORDER BY 1
"""


_SQL_INCREMENTAL_AGG = """
WITH final AS (
  SELECT CASE WHEN o_orderkey % 10 IN (1, 2) THEN 'U'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 10 IN (1, 2) THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 10 IN (1, 2)
              THEN strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m')
              ELSE strftime(o_orderdate, '%Y-%m') END AS order_month
  FROM orders
  WHERE o_orderkey % 10 <> 0
)
SELECT o_orderstatus, order_month,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25, 8)))
                 AS DECIMAL(25,4)) AS VARCHAR) AS total,
       COUNT(*) AS n
FROM final
GROUP BY o_orderstatus, order_month
ORDER BY o_orderstatus, order_month
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

from .pipeline.queries import PIPELINE_QUERIES  # noqa: E402
from .streaming.queries import STREAMING_QUERIES  # noqa: E402

def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (click→purchase attribution): for every
    purchase event, the same user's most recent click at-or-before it,
    plus the exact microsecond gap. Clicks are pre-deduped to one per
    (user, ts) — max event_id wins — per asof_join's determinism
    contract; the oracle is a genuine DuckDB ASOF LEFT JOIN, so the
    two engines implement the operator independently."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", F.col("ts").alias("p_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", F.col("ts").alias("c_ts"))
              .agg(F.max("event_id").alias("click_id"))
              .select("user_id", "click_id", "c_ts"))
    out = asof_join(purchases, clicks, on="user_id",
                    left_ts="p_ts", right_ts="c_ts", right_prefix="")
    return (out.select(
        "purchase_id", "user_id",
        F.unix_micros("p_ts").alias("p_us"),
        "click_id",
        F.unix_micros("c_ts").alias("c_us"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"))
        .orderBy("purchase_id"))


_SQL_ASOF_ATTRIBUTION = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts AS c_ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.purchase_id, p.user_id, epoch_us(p.p_ts) AS p_us,
       c.click_id, epoch_us(c.c_ts) AS c_us,
       epoch_us(p.p_ts) - epoch_us(c.c_ts) AS gap_us
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
ORDER BY purchase_id
"""


def q_range_join_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via the bucketed equi-join plan: orders
    landing inside per-nation promo windows — 25 deliberately
    OVERLAPPING 131-day intervals spaced 90 days apart, derived
    arithmetically from the nation key so both engines build them from
    scratch. Dates cross the engines as epoch days; revenue aggregates
    on exact decimal (see dec()). The oracle is the plain BETWEEN
    theta-join, so the bucket decomposition's exactness is what's
    being checked."""
    from .operators.temporal import bucketed_range_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.floor(F.unix_micros("o_orderdate")
                / F.lit(86_400_000_000)).alias("day"))
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.lit(9131) + F.col("n_nationkey") * 90).alias("lo"))
    intervals = nation.withColumn("hi", F.col("lo") + 130)
    j = bucketed_range_join(orders, intervals, "day", "lo", "hi",
                            bucket_width=90)
    return (j.groupBy("n_nationkey")
            .agg(F.count(F.lit(1)).alias("promo_orders"),
                 F.sum(dec("o_totalprice", 25, 8)).cast("decimal(25,2)")
                 .cast("string").alias("promo_revenue"))
            .orderBy("n_nationkey"))


_SQL_RANGE_JOIN_PROMO = """
WITH o AS (
  SELECT o_orderkey, o_totalprice,
         CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
           AS day
  FROM orders
), iv AS (
  SELECT n_nationkey, 9131 + n_nationkey * 90 AS lo,
         9131 + n_nationkey * 90 + 130 AS hi
  FROM nation
)
SELECT n_nationkey, COUNT(*) AS promo_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS promo_revenue
FROM o JOIN iv ON o.day BETWEEN iv.lo AND iv.hi
GROUP BY 1
ORDER BY n_nationkey
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) revenue: per-nation rows, per-region
    subtotals, and the grand total in one pass — Spark's rollup()
    plans a single Expand + hash-agg (one shuffle for all three
    grouping sets), vs three scans if issued as separate queries.
    gid = grouping_id() (region bit high), identical bit order to the
    oracle's GROUPING() arithmetic. Revenue aggregates on exact
    decimal and crosses the oracle boundary as a fixed-scale string
    (the 2-dp cast never rounds 2-dp money; a double output was 1-ulp
    hash-fragile against DuckDB at sf0.1 magnitudes, and a bare
    DECIMAL output is pandas-dtype-fragile — object(Decimal) vs
    DuckDB fetchdf's float64 breaks the driver's dtype-sensitive
    hash)."""
    t = load_tables(spark, sf_dir)
    joined = star_join(t, region=True)
    return (joined
            .rollup(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"))
            .agg(F.grouping_id().alias("gid"),
                 F.sum(dec("o_totalprice", 25, 8)).cast("decimal(25,2)")
                 .cast("string").alias("revenue"),
                 F.count(F.lit(1)).alias("orders_cnt"))
            .orderBy("gid", "region", "nation"))


_SQL_REVENUE_ROLLUP = """
SELECT r_name AS region, n_name AS nation,
       GROUPING(r_name) * 2 + GROUPING(n_name) AS gid,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS revenue,
       COUNT(*) AS orders_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY gid, region, nation
"""


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (long → wide): counts and exact value
    sums per type as columns. The pivot values are EXPLICIT literals —
    Spark then plans one hash-agg with conditional aggregates (no
    distinct-values pre-query, no second shuffle), exactly the
    conditional-aggregation SQL the oracle states."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (ev.groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(dec("value", 25, 8)).cast("double").alias("val"))
            .orderBy("user_id"))


_SQL_EVENT_PIVOT = """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click_cnt,
       CAST(SUM(CAST(value AS DECIMAL(25,8)))
            FILTER (WHERE event_type = 'click') AS DOUBLE) AS click_val,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view_cnt,
       CAST(SUM(CAST(value AS DECIMAL(25,8)))
            FILTER (WHERE event_type = 'view') AS DOUBLE) AS view_val,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt,
       CAST(SUM(CAST(value AS DECIMAL(25,8)))
            FILTER (WHERE event_type = 'purchase') AS DOUBLE)
         AS purchase_val,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup_cnt,
       CAST(SUM(CAST(value AS DECIMAL(25,8)))
            FILTER (WHERE event_type = 'signup') AS DOUBLE) AS signup_val,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error_cnt,
       CAST(SUM(CAST(value AS DECIMAL(25,8)))
            FILTER (WHERE event_type = 'error') AS DOUBLE) AS error_val
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function battery over each customer's order
    history: ntile quartile, percent_rank, cume_dist, lag/lead of the
    order total in (date, key) order. One WindowExec pass (all five
    functions share the frame, so a single shuffle+sort on the
    customer). percent_rank/cume_dist are single correctly-rounded
    divisions of exact integers — bit-identical cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (o.filter(F.col("o_custkey") % 10 == 0)
            .select("o_custkey", "o_orderkey",
                    F.ntile(4).over(w).alias("quartile"),
                    F.percent_rank().over(w).alias("pct_rank"),
                    F.cume_dist().over(w).alias("cume"),
                    F.lag("o_totalprice").over(w).alias("prev_price"),
                    F.lead("o_totalprice").over(w).alias("next_price"))
            .orderBy("o_custkey", "o_orderkey"))


_SQL_WINDOW_BATTERY = """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price
FROM orders
WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


def fk_audit(name: str, fact: DataFrame, key: str,
             dim: DataFrame, dim_key: str) -> DataFrame:
    """One-row FK audit: row count, orphan count (fact keys absent from
    the dim, left-anti semantics), and NULL-key count. A left join
    against the distinct dim keys + conditional counts — broadcast or
    shuffle per AQE's choice."""
    hit = dim.select(F.col(dim_key).alias(key)).distinct() \
        .withColumn("_ok", F.lit(True))
    j = fact.select(key).join(hit, key, "left")
    return j.agg(
        F.lit(name).alias("fact_table"),
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("_ok").isNull()
                       & F.col(key).isNotNull(), 1))
        .alias("orphans"),
        F.count(F.when(F.col(key).isNull(), 1)).alias("null_keys"))


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit in one result: row count, orphan-FK count
    (left-anti semantics), and null-key count per fact table — the
    profiling pass a pipeline runs before trusting new data. Each
    check is a broadcast-or-shuffle left join + conditional count; the
    three audits stay independent scans (they read different tables)
    unioned into one tiny frame."""
    t = load_tables(spark, sf_dir)
    audit = fk_audit

    # the in-good-standing leg (acctbal >= 0) has REAL violations in
    # the testdata (1249 orders at sf0.01), so nonzero orphan counts —
    # not just 0 == 0 — are what the oracle certifies; planted-orphan
    # detection is additionally unit-tested in tests/test_sources.py
    good = t["customer"].filter(F.col("c_acctbal") >= 0)
    return (audit("orders", t["orders"], "o_custkey",
                  t["customer"], "c_custkey")
            .unionByName(audit("orders_vs_good_standing", t["orders"],
                               "o_custkey", good, "c_custkey"))
            .unionByName(audit("lineitem", t["lineitem"], "l_orderkey",
                               t["orders"], "o_orderkey"))
            .unionByName(audit("customer", t["customer"], "c_nationkey",
                               t["nation"], "n_nationkey"))
            .orderBy("fact_table"))


_SQL_INTEGRITY_AUDIT = """
SELECT * FROM (
  SELECT 'orders' AS fact_table, COUNT(*) AS rows,
         COUNT(CASE WHEN c_custkey IS NULL
                     AND o_custkey IS NOT NULL THEN 1 END) AS orphans,
         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_keys
  FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o_custkey = c_custkey
  UNION ALL
  SELECT 'orders_vs_good_standing', COUNT(*),
         COUNT(CASE WHEN c_custkey IS NULL
                     AND o_custkey IS NOT NULL THEN 1 END),
         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)
  FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
                         WHERE c_acctbal >= 0) c
    ON o_custkey = c_custkey
  UNION ALL
  SELECT 'lineitem', COUNT(*),
         COUNT(CASE WHEN o_orderkey IS NULL
                     AND l_orderkey IS NOT NULL THEN 1 END),
         COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END)
  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'customer', COUNT(*),
         COUNT(CASE WHEN n_nationkey IS NULL
                     AND c_nationkey IS NOT NULL THEN 1 END),
         COUNT(CASE WHEN c_nationkey IS NULL THEN 1 END)
  FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
    ON c_nationkey = n_nationkey
)
ORDER BY fact_table
"""


def q_calendar_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (capability extension — warehouses ship
    GAP_FILL/date_spine; Spark has no built-in): daily region revenue
    densified to one row per region per day between that region's first
    and last order day, zero-filled with a ``filled`` marker and a
    last-observation-carried-forward column. Days are epoch days
    (tz-independent integer arithmetic, the repo-wide idiom). The spine
    is executor-generated via explode(sequence(lo, hi)) — output-sized,
    no driver calendar loop."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation",
                                    "region"))
    joined = star_join(t, region=True)
    per_day = (joined
               .select(F.col("r_name").alias("region"),
                       F.floor(F.unix_micros("o_orderdate")
                               / F.lit(86_400_000_000)).alias("day"),
                       dec("o_totalprice", 25, 8).alias("p"))
               .groupBy("region", "day")
               .agg(F.sum("p").alias("day_rev")))
    filled = gap_fill_days(per_day, ["region"], "day", "day_rev")
    return (filled.select(
        "region", "day",
        F.col("day_rev").cast("double").alias("day_rev"),
        "filled",
        F.col("locf_day_rev").cast("double").alias("locf_day_rev"))
        .orderBy("region", "day"))


_SQL_CALENDAR_FILL = """
WITH per_day AS (
  SELECT r_name AS region,
         CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS day_rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
), bounds AS (
  SELECT region, MIN(day) AS lo, MAX(day) AS hi FROM per_day GROUP BY 1
), spine AS (
  SELECT region, unnest(generate_series(lo, hi)) AS day FROM bounds
), j AS (
  SELECT s.region, s.day, p.day_rev
  FROM spine s LEFT JOIN per_day p USING (region, day)
)
SELECT region, day,
       CAST(COALESCE(day_rev, 0) AS DOUBLE) AS day_rev,
       day_rev IS NULL AS filled,
       CAST(last_value(day_rev IGNORE NULLS) OVER (
              PARTITION BY region ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS locf_day_rev
FROM j
ORDER BY region, day
"""


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(region, order-status) revenue: all four grouping sets —
    (region,status), region totals, status totals, grand total — in
    ONE Expand + hash-agg pass (one shuffle), the rollup query's
    complement completing Spark's grouping-sets surface. gid bit order
    matches the oracle's GROUPING() arithmetic (region bit high)."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation",
                                    "region"))
    joined = star_join(t, region=True)
    return (joined
            .cube(F.col("r_name").alias("region"),
                  F.col("o_orderstatus").alias("status"))
            .agg(F.grouping_id().alias("gid"),
                 F.sum(dec("o_totalprice", 25, 8)).cast("decimal(25,2)")
                 .cast("string").alias("revenue"),
                 F.count(F.lit(1)).alias("orders_cnt"))
            .orderBy("gid", "region", "status"))


_SQL_REVENUE_CUBE = """
SELECT r_name AS region, o_orderstatus AS status,
       GROUPING(r_name) * 2 + GROUPING(o_orderstatus) AS gid,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS revenue,
       COUNT(*) AS orders_cnt
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, o_orderstatus)
ORDER BY gid, region, status
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (bucket = floor(x/20000)):
    scan-speed projection + one hash-agg on the bucket id — the
    distribution-profiling shape a data-quality pass runs over every
    numeric column."""
    orders = load_table(spark, sf_dir, "orders")
    return fixed_width_histogram(orders, "o_totalprice", 20000.0,
                                 amount_col="o_totalprice")


_SQL_PRICE_HISTOGRAM = """
SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS DOUBLE)
         AS amount_sum,
       CAST(floor(o_totalprice / 20000.0) AS BIGINT) * 20000.0
         AS bucket_lo
FROM orders
GROUP BY 1
ORDER BY bucket
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set-operator coverage (INTERSECT / EXCEPT — the one
    reference SQL surface not yet registered): customers holding both
    open- and filled-status orders, minus any customer with an
    in-progress order. Spark plans both as aggregates + joins (no
    Expand), one shuffle each on the key."""
    o = load_table(spark, sf_dir, "orders")

    def keys(status: str) -> DataFrame:
        return (o.filter(F.col("o_orderstatus") == status)
                .select("o_custkey"))

    return (keys("O").intersect(keys("F"))
            .subtract(keys("P"))
            .orderBy("o_custkey"))


_SQL_SET_OPS = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
ORDER BY o_custkey
"""


def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution merge — the data-lake shape where an old table
    generation lacks columns a newer one added: two order "generations"
    (v1 without o_orderpriority; v2 with it, plus a v2-only source tag)
    reconciled by COLUMN NAME with missing columns null-filled
    (``unionByName(allowMissingColumns=True)`` ↔ DuckDB
    ``UNION ALL BY NAME``). Scale: a union is a no-shuffle plan node —
    both legs stay partition-local; only the final presentation sort
    shuffles."""
    o = load_table(spark, sf_dir, "orders")
    v1 = (o.filter(F.col("o_orderkey") % 2 == 0)
          .select("o_orderkey", "o_custkey", "o_totalprice"))
    v2 = (o.filter(F.col("o_orderkey") % 2 == 1)
          .select("o_orderkey", "o_custkey", "o_totalprice",
                  "o_orderpriority",
                  F.lit("v2").alias("src_gen")))
    return (v1.unionByName(v2, allowMissingColumns=True)
            .orderBy("o_orderkey"))


_SQL_SCHEMA_EVOLUTION_UNION = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL BY NAME
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
       'v2' AS src_gen
FROM orders WHERE o_orderkey % 2 = 1
ORDER BY o_orderkey
"""


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation battery (the dbt-test / Deequ
    constraint-suite shape): six rules over ``orders`` — null check,
    key uniqueness, positivity, accepted values, an amount ceiling and
    a date-recency rule — evaluated in ONE scan + ONE aggregate row,
    then unpivoted to one row per rule with violation counts and a
    pass flag. The ceiling and recency rules REALLY fail on this data
    (prices run to 500k, dates to 2001), so the battery is
    non-vacuous. Conditional counts use ``count(when(cond, 1))``
    (↔ ``COUNT(*) FILTER``): long on both engines — ``sum(case)`` is
    HUGEINT→float64 in a DuckDB fetch, the lang_stats dtype trap.
    Scale: violations aggregate map-side; the unpivot runs on one row.
    """
    o = load_table(spark, sf_dir, "orders")
    y2k_us = 946_684_800_000_000  # 2000-01-01 UTC, epoch micros
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("v_null"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey"))
        .alias("v_uniq"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v_pos"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1))
        .alias("v_dom"),
        F.count(F.when(F.col("o_totalprice") > 100_000, 1)).alias("v_amt"),
        F.count(F.when(F.unix_micros("o_orderdate") >= y2k_us, 1))
        .alias("v_date"),
    )
    rules = agg.select(
        "n",
        F.expr("stack(6, "
               "'o_orderkey_not_null', v_null, "
               "'o_orderkey_unique', v_uniq, "
               "'o_totalprice_positive', v_pos, "
               "'o_orderstatus_accepted', v_dom, "
               "'o_totalprice_max_100k', v_amt, "
               "'o_orderdate_before_2000', v_date) AS (rule, violations)"))
    return (rules.select("rule", "violations",
                         F.col("n").alias("n_checked"),
                         (F.col("violations") == 0).alias("passed"))
            .orderBy("rule"))


_SQL_DQ_EXPECTATIONS = """
WITH a AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS v_null,
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_uniq,
         COUNT(*) FILTER (WHERE o_totalprice <= 0) AS v_pos,
         COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
           AS v_dom,
         COUNT(*) FILTER (WHERE o_totalprice > 100000) AS v_amt,
         COUNT(*) FILTER (WHERE epoch_us(o_orderdate) >= 946684800000000)
           AS v_date
  FROM orders
), r AS (
  SELECT 'o_orderkey_not_null' AS rule, v_null AS violations, n FROM a
  UNION ALL SELECT 'o_orderkey_unique', v_uniq, n FROM a
  UNION ALL SELECT 'o_totalprice_positive', v_pos, n FROM a
  UNION ALL SELECT 'o_orderstatus_accepted', v_dom, n FROM a
  UNION ALL SELECT 'o_totalprice_max_100k', v_amt, n FROM a
  UNION ALL SELECT 'o_orderdate_before_2000', v_date, n FROM a
)
SELECT rule, violations, n AS n_checked, violations = 0 AS passed
FROM r
ORDER BY rule
"""


def q_cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC time travel: reconstruct the orders table AS OF a changelog
    timestamp — latest-wins per key over events with ``ts_ms <= T``,
    deletes erasing the row (the lakehouse "snapshot at T" read,
    §3.3's upsert generalized from "latest state" to "state at T").
    T falls mid-update-phase, so keys ≤ 30000 show their update image
    while larger keys (present from sf0.1 up) still show the snapshot
    image — the reconstruction is genuinely time-dependent, not a
    disguised cdc_upsert.

    r12 (§2.3, the cdc_snapshot_diff rewrite): latest-wins under
    (ts_ms DESC, lsn DESC) is max(struct(ts_ms, lsn, ...)) — ts_ms is
    unique per key by envelope construction — so one map-side partial
    aggregate replaces the window rank's full exchange + per-key
    sort."""
    from .sources.cdc import orders_cdc_envelope

    t_us = 2_000_030_000
    # r13: spread (guide §2.5) — envelope build is scan-stage compute
    env = (orders_cdc_envelope(spark, sf_dir, spread=True).drop("__phase")
           .filter(F.col("ts_ms") <= t_us))
    key = F.coalesce(F.col("after.o_orderkey"), F.col("before.o_orderkey"))
    rec = F.struct(F.col("ts_ms"), F.col("source.lsn").alias("lsn"),
                   F.col("op"), F.col("after"))
    latest = (env.groupBy(key.alias("_key"))
              .agg(F.max(rec).alias("w"))
              .filter(F.col("w.op") != "d"))
    return (latest.select("w.after.*").orderBy("o_orderkey"))


_SQL_CDC_SNAPSHOT_AT = """
WITH env AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         strftime(o_orderdate, '%Y-%m') AS order_month,
         'r' AS op, 1000000000 + o_orderkey AS ts_ms,
         o_orderkey * 10 AS lsn
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U', o_totalprice * 1.1,
         strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m'),
         'u', 2000000000 + o_orderkey, o_orderkey * 10 + 1
  FROM orders WHERE o_orderkey % 10 < 3
  UNION ALL
  SELECT o_orderkey, NULL, NULL, NULL, NULL,
         'd', 3000000000 + o_orderkey, o_orderkey * 10 + 2
  FROM orders WHERE o_orderkey % 10 = 0
), at_t AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY ts_ms DESC, lsn DESC) AS rn
  FROM env WHERE ts_ms <= 2000030000
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, order_month
FROM at_t WHERE rn = 1 AND op <> 'd'
ORDER BY o_orderkey
"""


def q_trailing_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer 7-day trailing order revenue —
    a VALUE-based frame (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over
    epoch days), not a row count, so gaps in order history shrink the
    frame. The trailing sum stays exact DECIMAL inside the frame and
    casts to double at the end; per-day totals are pre-aggregated
    before the window so frame re-evaluation touches one row per
    (customer, day), not one per order."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 10 == 0)
    per_day = (o.select("o_custkey",
                        F.floor(F.unix_micros("o_orderdate")
                                / F.lit(86_400_000_000)).alias("day"),
                        dec("o_totalprice", 25, 8).alias("p"))
               .groupBy("o_custkey", "day")
               .agg(F.sum("p").alias("day_rev")))
    w = (Window.partitionBy("o_custkey").orderBy("day")
         .rangeBetween(-6, 0))
    return (per_day
            .select("o_custkey", "day",
                    F.col("day_rev").cast("double").alias("day_rev"),
                    F.sum("day_rev").over(w).cast("double")
                    .alias("trailing_7d"))
            .orderBy("o_custkey", "day"))


_SQL_TRAILING_REVENUE = """
WITH per_day AS (
  SELECT o_custkey,
         CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT)
           AS day,
         SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS day_rev
  FROM orders WHERE o_custkey % 10 = 0
  GROUP BY 1, 2
)
SELECT o_custkey, day,
       CAST(day_rev AS DOUBLE) AS day_rev,
       CAST(SUM(day_rev) OVER (PARTITION BY o_custkey ORDER BY day
                               RANGE BETWEEN 6 PRECEDING
                                         AND CURRENT ROW) AS DOUBLE)
         AS trailing_7d
FROM per_day
ORDER BY o_custkey, day
"""


def q_json_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction from the raw props payload (E-family
    extension beyond whole-schema from_json): get_json_object pulls a
    single path without binding the full document schema — the right
    tool when the payload is open-ended and only one field matters.
    The extraction is a narrow codegen projection; stats aggregate the
    extracted BIGINT exactly."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("k").alias("n"),
                 F.sum("k").alias("k_sum"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max"),
                 (F.sum("k").cast("double") / F.count("k"))
                 .alias("k_mean"))
            .orderBy("event_type"))


_SQL_JSON_PATH_STATS = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(k) AS n, SUM(k)::BIGINT AS k_sum,
       MIN(k) AS k_min, MAX(k) AS k_max,
       SUM(k)::DOUBLE / COUNT(k) AS k_mean
FROM e GROUP BY 1 ORDER BY 1
"""


def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two independently-derived per-user
    aggregates (clicks vs purchases): users appearing on either side
    survive with NULLs on the missing side — the join shape batch
    reconciliation jobs use to diff two systems' outputs."""
    ev = load_table(spark, sf_dir, "events")

    def side(tp, alias):
        return (ev.filter(F.col("event_type") == tp)
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias(alias)))

    clicks = side("click", "n_clicks")
    purchases = side("purchase", "n_purchases")
    return (clicks.join(purchases, "user_id", "full_outer")
            .select("user_id", "n_clicks", "n_purchases")
            .orderBy("user_id"))


_SQL_FULL_OUTER_RECONCILE = """
WITH c AS (
  SELECT user_id, COUNT(*) AS n_clicks FROM events
  WHERE event_type = 'click' GROUP BY 1
), p AS (
  SELECT user_id, COUNT(*) AS n_purchases FROM events
  WHERE event_type = 'purchase' GROUP BY 1
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       n_clicks, n_purchases
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
ORDER BY user_id
"""


def q_dead_letter_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing — the reference connector's
    ``errors.tolerance=all`` + DLQ behavior re-expressed: payloads that
    fail JSON decode are flagged and carried whole to a dead-letter
    column instead of killing the job, while good rows decode normally.
    Corruption is PLANTED deterministically (every 7th event's payload
    truncated) since the testdata is clean; the oracle plants the same.
    Spark side uses PERMISSIVE from_json with columnNameOfCorruptRecord
    — the engine-native corrupt-record channel, a narrow projection."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.when(F.col("event_id") % 7 == 0,
                     F.expr("substring(props, 1, length(props) - 1)")) \
        .otherwise(F.col("props"))
    parsed = F.from_json(
        payload, "k bigint, _corrupt string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"})
    env = ev.select("event_id", payload.alias("payload"),
                    parsed.alias("p"))
    is_dead = F.col("p._corrupt").isNotNull()
    return (env.select(
        "event_id", is_dead.alias("is_dead"),
        F.col("p.k").alias("k"),
        F.when(is_dead, F.col("payload")).alias("dead_payload"))
        .orderBy("event_id"))


_SQL_DEAD_LETTER_ROUTE = """
WITH env AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0
              THEN substring(props, 1, length(props) - 1)
              ELSE props END AS payload
  FROM events
)
SELECT event_id,
       NOT json_valid(payload) AS is_dead,
       CASE WHEN json_valid(payload)
            THEN CAST(json_extract_string(payload, '$.k') AS BIGINT)
       END AS k,
       CASE WHEN NOT json_valid(payload) THEN payload END
         AS dead_payload
FROM env
ORDER BY event_id
"""


def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 complement to cdc_upsert: SCD TYPE-2 history from the same
    deterministic Debezium envelope — every version of every order with
    effectivity bounds, instead of latest-wins. Deleted keys (%10 == 0)
    end with no current version; updated keys (%10 in 1,2) carry two
    versions with the first closed at the update's ts."""
    from .sources.cdc import orders_cdc_envelope
    from .transforms import cdc_scd2

    env = orders_cdc_envelope(spark, sf_dir).drop("__phase")
    out = cdc_scd2(env, key_cols=["o_orderkey"])
    return out.orderBy("o_orderkey", "valid_from")


_SQL_CDC_SCD2 = """
WITH env AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         strftime(o_orderdate, '%Y-%m') AS order_month,
         'r' AS op, 1000000000 + o_orderkey AS ts_ms,
         o_orderkey * 10 AS lsn
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U', o_totalprice * 1.1,
         strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m'),
         'u', 2000000000 + o_orderkey, o_orderkey * 10 + 1
  FROM orders WHERE o_orderkey % 10 < 3
  UNION ALL
  SELECT o_orderkey, NULL, NULL, NULL, NULL,
         'd', 3000000000 + o_orderkey, o_orderkey * 10 + 2
  FROM orders WHERE o_orderkey % 10 = 0
), v AS (
  SELECT *, lead(ts_ms) OVER (PARTITION BY o_orderkey
                              ORDER BY ts_ms, lsn) AS valid_to
  FROM env
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, order_month,
       ts_ms AS valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM v WHERE op <> 'd'
ORDER BY o_orderkey, valid_from
"""


def q_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup against the SCD2 history: each order
    key probed at three instants (mid-snapshot, mid-update,
    post-delete) resolves to the version whose half-open
    [valid_from, valid_to) interval covers the probe — the
    point-in-time join every event pipeline needs against a
    versioned dimension. One equi-join on the key with the interval
    predicate inside the join; deleted keys fall out at the third
    probe (left join keeps the miss visible). Census output: per
    (probe_phase, resolved status) row counts."""
    from .sources.cdc import orders_cdc_envelope
    from .transforms import cdc_scd2

    env = orders_cdc_envelope(spark, sf_dir).drop("__phase")
    hist = cdc_scd2(env, key_cols=["o_orderkey"]).select(
        F.col("o_orderkey").alias("h_key"), "o_orderstatus",
        "valid_from", "valid_to")
    orders = load_table(spark, sf_dir, "orders")
    probes = orders.select(
        F.col("o_orderkey").alias("p_key"),
        F.explode(F.expr("array(1L, 2L, 3L)")).alias("probe_phase"))
    probe_ts = (F.col("probe_phase").cast("long") * 1_000_000_000
                + F.lit(500_000_000) + F.col("p_key"))
    probed = probes.withColumn("probe_ts", probe_ts)
    joined = probed.join(
        hist,
        (F.col("p_key") == F.col("h_key"))
        & (F.col("probe_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull()
           | (F.col("probe_ts") < F.col("valid_to"))),
        "left_outer")
    return (joined.groupBy("probe_phase",
                           F.coalesce(F.col("o_orderstatus"),
                                      F.lit("<missing>"))
                           .alias("status"))
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy("probe_phase", "status"))


_SQL_SCD2_TEMPORAL_JOIN = """
WITH env AS (
  SELECT o_orderkey, o_orderstatus,
         'r' AS op, 1000000000 + o_orderkey AS ts_ms,
         o_orderkey * 10 AS lsn
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', 'u', 2000000000 + o_orderkey,
         o_orderkey * 10 + 1
  FROM orders WHERE o_orderkey % 10 < 3
  UNION ALL
  SELECT o_orderkey, NULL, 'd', 3000000000 + o_orderkey,
         o_orderkey * 10 + 2
  FROM orders WHERE o_orderkey % 10 = 0
), hist AS (
  SELECT o_orderkey AS h_key, o_orderstatus,
         ts_ms AS valid_from,
         lead(ts_ms) OVER (PARTITION BY o_orderkey
                           ORDER BY ts_ms, lsn) AS valid_to,
         op
  FROM env
), probes AS (
  SELECT o_orderkey AS p_key,
         CAST(phase.probe_phase AS BIGINT) AS probe_phase,
         CAST(phase.probe_phase AS BIGINT) * 1000000000
           + 500000000 + o_orderkey AS probe_ts
  FROM orders
  CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS probe_phase) phase
)
SELECT probe_phase,
       COALESCE(o_orderstatus, '<missing>') AS status,
       COUNT(*) AS n_orders
FROM probes
LEFT JOIN hist ON p_key = h_key AND op <> 'd'
  AND probe_ts >= valid_from
  AND (valid_to IS NULL OR probe_ts < valid_to)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — the canonical scan-heavy
    aggregate, with the date cutoff data-derived (max shipdate − 90
    days, one-row broadcast) since the synthetic corpus doesn't carry
    TPC-H's 1998 calendar. All eight aggregates run in the exact
    integer domain: cents/basis-point quantization, per-row integer
    products for disc_price and charge (≤ 10^11, long-safe), decimal
    accumulators, one correctly-rounded division per output — so the
    full report hash-matches the oracle.

    r13: the report aggregate reads the spread frame (guide §2.5 —
    the integer products + decimal sums otherwise run single-task on
    the one-row-group testdata); the max-shipdate bounds probe keeps
    the bare scan (one column, no spread-shuffle worth paying)."""
    li = load_table(spark, sf_dir, "lineitem")
    day = F.expr("unix_micros(l_shipdate) div 86400000000")
    bounds = li.agg(F.max(day).alias("max_day"))
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    tax_b = F.round(F.col("l_tax") * 100).cast("long")
    disc_price_u = ep_c * (F.lit(100) - disc_b)
    charge_u = disc_price_u * (F.lit(100) + tax_b)
    dec38 = "decimal(38,0)"
    g = (li.crossJoin(F.broadcast(bounds))
         .filter(day <= F.col("max_day") - 90)
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum(qty_c.cast(dec38)).alias("_sq"),
              F.sum(ep_c.cast(dec38)).alias("_sep"),
              F.sum(disc_price_u.cast(dec38)).alias("_sdp"),
              F.sum(charge_u.cast(dec38)).alias("_sch"),
              F.sum(disc_b.cast(dec38)).alias("_sd"),
              F.count(F.lit(1)).alias("count_order")))
    n = F.col("count_order")
    return (g.select(
        "l_returnflag", "l_linestatus",
        (F.col("_sq").cast("double") / 100.0).alias("sum_qty"),
        (F.col("_sep").cast("double") / 100.0).alias("sum_base_price"),
        (F.col("_sdp").cast("double") / 10000.0).alias("sum_disc_price"),
        (F.col("_sch").cast("double") / 1000000.0).alias("sum_charge"),
        ((F.col("_sq").cast("double") / 100.0) / n).alias("avg_qty"),
        ((F.col("_sep").cast("double") / 100.0) / n).alias("avg_price"),
        ((F.col("_sd").cast("double") / 100.0) / n).alias("avg_disc"),
        "count_order")
        .orderBy("l_returnflag", "l_linestatus"))


_SQL_TPCH_Q1 = """
WITH b AS (
  SELECT MAX(epoch_us(l_shipdate) // 86400000000) AS max_day
  FROM lineitem
), q AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_b,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_b
  FROM lineitem CROSS JOIN b
  WHERE epoch_us(l_shipdate) // 86400000000 <= max_day - 90
), g AS (
  SELECT l_returnflag, l_linestatus,
         SUM(qty_c) AS sq, SUM(ep_c) AS sep,
         SUM(ep_c * (100 - disc_b)) AS sdp,
         SUM(ep_c * (100 - disc_b) * (100 + tax_b)) AS sch,
         SUM(disc_b) AS sd, COUNT(*) AS count_order
  FROM q GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE) / 100.0 AS sum_qty,
       CAST(sep AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sdp AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(sch AS DOUBLE) / 1000000.0 AS sum_charge,
       (CAST(sq AS DOUBLE) / 100.0) / count_order AS avg_qty,
       (CAST(sep AS DOUBLE) / 100.0) / count_order AS avg_price,
       (CAST(sd AS DOUBLE) / 100.0) / count_order AS avg_disc,
       count_order
FROM g ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) — the canonical
    filter-and-sum: one year of shipments from the corpus min date,
    discount in [0.04, 0.06], quantity < 24, revenue =
    Σ extendedprice·discount in the exact integer domain (single
    division at the end). Predicates push to the scan; the one-row
    date bound broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    day = F.expr("unix_micros(l_shipdate) div 86400000000")
    bounds = li.agg(F.min(day).alias("min_day"))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    return (li.crossJoin(F.broadcast(bounds))
            .filter((day >= F.col("min_day"))
                    & (day < F.col("min_day") + 365)
                    & disc_b.between(4, 6) & (qty_c < 2400))
            .agg((F.sum((ep_c * disc_b).cast("decimal(38,0)"))
                  .cast("double") / F.lit(10000.0)).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lineitems")))


_SQL_TPCH_Q6 = """
WITH b AS (
  SELECT MIN(epoch_us(l_shipdate) // 86400000000) AS min_day
  FROM lineitem
), q AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_b
  FROM lineitem CROSS JOIN b
  WHERE epoch_us(l_shipdate) // 86400000000 >= min_day
    AND epoch_us(l_shipdate) // 86400000000 < min_day + 365
    AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 4 AND 6
    AND CAST(round(l_quantity * 100) AS BIGINT) < 2400
)
SELECT CAST(SUM(ep_c * disc_b) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_lineitems
FROM q
"""


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram percentiles per event type (operators/
    aggregates.py hdr_quantiles) — the mergeable fixed-state latency
    sketch (HDR-histogram pattern), with integer rank thresholds and
    exact dyadic bucket bounds instead of an engine-private
    t-digest."""
    from .operators.aggregates import hdr_quantiles
    ev = load_table(spark, sf_dir, "events")
    return hdr_quantiles(ev, "event_type", "value")


_SQL_HDR_QUANTILES = """
WITH src AS (
  SELECT event_type AS g,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), b AS (
  SELECT g, length(bin(c)) - 1 AS bucket FROM src WHERE c >= 1
), hist AS (
  SELECT g, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
), d AS (
  SELECT g, bucket, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM hist
), agg AS (
  SELECT g, MAX(n) AS n,
         MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN bucket END)
           AS b50,
         MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN bucket END)
           AS b95,
         MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket END)
           AS b99
  FROM d GROUP BY g
)
SELECT g AS event_type, n,
       power(2.0, b50) / 100.0 AS p50_lb,
       power(2.0, b95) / 100.0 AS p95_lb,
       power(2.0, b99) / 100.0 AS p99_lb
FROM agg ORDER BY event_type
"""


def q_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change per region — the growth KPI cut:
    weekly exact-cents revenue (tz-proof integer epoch-week buckets),
    then lag-window deltas with the percent change as one division of
    exact integers (first week NULL). One star join, one weekly
    hash-agg, one lag window over the region×week frame."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation",
                                    "region"))
    j = star_join(t, region=True)
    week = F.expr("(unix_micros(o_orderdate) div 86400000000) div 7")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    weekly = (j.select(F.col("r_name").alias("region"),
                       week.alias("week"), cents.alias("c"))
              .groupBy("region", "week").agg(F.sum("c").alias("rev")))
    w = Window.partitionBy("region").orderBy("week")
    prev = F.lag("rev").over(w)
    return (weekly
            .withColumn("revenue", F.col("rev").cast("double") / 100.0)
            .withColumn("wow_pct",
                        (F.col("rev") - prev).cast("double")
                        / prev.cast("double"))
            .select("region", "week", "revenue", "wow_pct")
            .orderBy("region", "week"))


_SQL_WOW_CHANGE = """
WITH weekly AS (
  SELECT r_name AS region,
         (epoch_us(o_orderdate) // 86400000000) // 7 AS week,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, week, CAST(rev AS DOUBLE) / 100.0 AS revenue,
       CAST(rev - lag(rev) OVER w AS DOUBLE)
       / CAST(lag(rev) OVER w AS DOUBLE) AS wow_pct
FROM weekly
WINDOW w AS (PARTITION BY region ORDER BY week)
ORDER BY region, week
"""


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity profile of the event stream
    — the calendar heatmap behind load forecasting and anomaly
    baselines. Both calendar coordinates derive from UTC-fixed
    integer arithmetic on the stored instant (epoch-day % 7 with the
    Thursday anchor, epoch-hour % 24), NOT from session-timezone date
    functions, so the cells are identical in any timezone. Exact
    integer sums; one hash-agg of at most 168 cells."""
    ev = load_table(spark, sf_dir, "events")
    dow = (F.expr("(unix_micros(ts) div 86400000000)") + F.lit(4)) % 7
    hod = F.expr("((unix_micros(ts) div 1000000) div 3600)") % 24
    cents = F.round(F.col("value") * 100).cast("long")
    return (ev.select(dow.alias("dow"), hod.alias("hod"),
                      cents.alias("c"))
            .groupBy("dow", "hod")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 ((F.sum("c").cast("double") / F.lit(100.0))
                  / F.count(F.lit(1))).alias("avg_value"))
            .orderBy("dow", "hod"))


_SQL_SEASONALITY_PROFILE = """
SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
       (epoch_us(ts) // 1000000 // 3600) % 24 AS hod,
       COUNT(*) AS n_events,
       (CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        / 100.0) / COUNT(*) AS avg_value
FROM events GROUP BY 1, 2 ORDER BY dow, hod
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census of per-user event-type
    sequences: for every (from_type, to_type) pair the transition
    count and its exact int/int share of the from-row — the empirical
    transition matrix behind next-action prediction and journey
    analysis. One shuffle on user_id (lead window), one 25-cell
    hash-agg, one window over the census."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("from_type"),
                       F.lead("event_type").over(w).alias("to_type"))
             .filter(F.col("to_type").isNotNull()))
    cells = (pairs.groupBy("from_type", "to_type")
             .agg(F.count(F.lit(1)).alias("n")))
    wf = Window.partitionBy("from_type")
    return (cells.withColumn("prob", F.col("n").cast("double")
                             / F.sum("n").over(wf))
            .orderBy("from_type", "to_type"))


_SQL_MARKOV_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), cells AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS prob
FROM cells ORDER BY from_type, to_type
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: the Gini coefficient of customer
    spend per region, from the exact sorted-cumulative formula

        G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)

    with rank i assigned by the deterministic (spend, custkey) order.
    Everything up to the single final division is exact integer /
    decimal arithmetic, so the statistic hash-matches cross-engine.
    Shuffle shape: the star join, a per-customer hash-agg, one
    in-region sort for ranks, a per-region hash-agg."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation",
                                    "region"))
    j = star_join(t, region=True)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per = (j.select(F.col("r_name").alias("region"),
                    F.col("o_custkey").alias("cust"),
                    cents.alias("c"))
           .groupBy("region", "cust").agg(F.sum("c").alias("x")))
    w = Window.partitionBy("region").orderBy("x", "cust")
    dec = "decimal(19,0)"
    ranked = per.withColumn("i", F.row_number().over(w))
    g = (ranked.groupBy("region")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("x").cast(dec)).alias("sx"),
              F.sum(F.col("i").cast(dec) * F.col("x").cast(dec))
              .alias("six")))
    nn = F.col("n").cast(dec)
    num = F.lit(2).cast(dec) * F.col("six") - (nn + F.lit(1).cast(dec)) * F.col("sx")
    den = nn * F.col("sx")
    return (g.select("region", F.col("n").alias("n_customers"),
                     (F.col("sx").cast("double") / F.lit(100.0))
                     .alias("revenue"),
                     (num.cast("double") / den.cast("double"))
                     .alias("gini"))
            .orderBy("region"))


_SQL_GINI_CONCENTRATION = """
WITH j AS (
  SELECT r_name AS region, o_custkey AS cust,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
), per AS (
  SELECT region, cust, CAST(SUM(c) AS BIGINT) AS x
  FROM j GROUP BY 1, 2
), ranked AS (
  SELECT region, x,
         row_number() OVER (PARTITION BY region ORDER BY x, cust) AS i
  FROM per
), g AS (
  SELECT region, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(19,0))) AS sx,
         SUM(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS six
  FROM ranked GROUP BY 1
)
SELECT region, n AS n_customers,
       CAST(sx AS DOUBLE) / 100.0 AS revenue,
       CAST(CAST(2 AS DECIMAL(19,0)) * six
            - (CAST(n AS DECIMAL(19,0)) + CAST(1 AS DECIMAL(19,0))) * sx
            AS DOUBLE)
       / CAST(CAST(n AS DECIMAL(19,0)) * sx AS DOUBLE) AS gini
FROM g ORDER BY region
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation census — the classic CRM cut of the
    same order feed the reference streams: per customer, Recency
    (days since last order, against the corpus max date), Frequency
    (order count) and Monetary (exact cents sum) are quartiled by
    ntile(4) under deterministic (metric, custkey) orders, then the
    4×4×4 segment census reports size and exact-ratio average spend.

    No single-task sort anywhere: each quartile is an
    ``exact_global_ntile`` (operators/ranking.py) — a parallel range
    shuffle, per-range-partition row_numbers windowed by partition id,
    and a P-row offsets fold. Bucket boundaries are bit-identical to
    the oracle's ``ntile(4)`` (first n mod 4 tiles one row larger)
    because the rank is exact under the same deterministic
    (metric, custkey) total orders.

    The three quartiles are INDEPENDENT branches over one persisted
    per-customer frame, joined back on the key — not a chain: chained
    ntiles serialize three cache-materialization barriers, while
    independent branches let the DAG scheduler overlap the three sort
    pipelines (and at cluster scale the three range shuffles run
    concurrently instead of back to back). Quartile 1 is best on every
    axis (most recent / most frequent / highest spend)."""
    from .operators.ranking import exact_global_ntile

    t = load_tables(spark, sf_dir, ("orders",))
    o = t["orders"]
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    per = (o.groupBy("o_custkey")
           .agg(F.max(day).alias("last_day"),
                F.count(F.lit(1)).alias("freq"),
                F.sum(F.round(F.col("o_totalprice") * 100)
                      .cast("long")).alias("cents")))
    maxd = per.agg(F.max("last_day").alias("corpus_max"))
    per = (per.crossJoin(F.broadcast(maxd))
           .withColumn("recency", F.col("corpus_max") - F.col("last_day"))
           .persist())  # one materialization feeds all three branches
    caches: list = [per]
    r_q = exact_global_ntile(
        per, 4, [F.col("recency"), F.col("o_custkey")], "r_q",
        cache_registry=caches).select("o_custkey", "r_q")
    f_q = exact_global_ntile(
        per, 4, [F.col("freq").desc(), F.col("o_custkey")], "f_q",
        cache_registry=caches).select("o_custkey", "f_q")
    m_q = exact_global_ntile(
        per, 4, [F.col("cents").desc(), F.col("o_custkey")], "m_q",
        cache_registry=caches).select("o_custkey", "m_q")
    scored = (per.select("o_custkey", "cents")
              .join(r_q, "o_custkey").join(f_q, "o_custkey")
              .join(m_q, "o_custkey"))
    out = (scored.groupBy("r_q", "f_q", "m_q")
           .agg(F.count(F.lit(1)).alias("n_customers"),
                ((F.sum("cents").cast("double") / F.lit(100.0))
                 / F.count(F.lit(1))).alias("avg_spend"))
           .orderBy("r_q", "f_q", "m_q"))
    # The query stacks FOUR pinned frames (per + three ranged ntile
    # branches) — in a long-lived session with no harness clearCache()
    # those would accumulate across invocations. The 4^3-row census is
    # checkpointed eagerly (plan cut — no recompute after release, so
    # the range-boundary-resampling hazard cannot re-open), then every
    # pinned frame is dropped before returning.
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


_SQL_RFM_SEGMENTS = """
WITH per AS (
  SELECT o_custkey,
         MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
         COUNT(*) AS freq,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), mx AS (SELECT MAX(last_day) AS corpus_max FROM per),
scored AS (
  SELECT o_custkey, freq, cents,
         corpus_max - last_day AS recency,
         ntile(4) OVER (ORDER BY corpus_max - last_day, o_custkey)
           AS r_q,
         ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
         ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_q
  FROM per CROSS JOIN mx
)
SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
       (CAST(SUM(cents) AS DOUBLE) / 100.0) / COUNT(*) AS avg_spend
FROM scored GROUP BY 1, 2, 3
ORDER BY r_q, f_q, m_q
"""


def q_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-indicator scan (operators/aggregates.py xcorr_lags):
    Pearson cross-correlation between the hourly click and purchase
    value series at lags 0..6 h, zero-filled grid, exact integer
    moments."""
    from .operators.aggregates import xcorr_lags
    ev = load_table(spark, sf_dir, "events")
    return xcorr_lags(ev, "ts", "event_type", "value",
                      "click", "purchase", max_lag=6)


_SQL_XCORR_LAGS = """
WITH per AS (
  SELECT event_type AS t,
         (epoch_us(ts) // 1000000) // 3600 AS b,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
), bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM per),
grid AS (SELECT unnest(range(lo, hi + 1)) AS b FROM bounds),
x AS (
  SELECT g.b, COALESCE(p.s, 0) AS x
  FROM grid g LEFT JOIN per p ON p.b = g.b AND p.t = 'click'
), y AS (
  SELECT g.b, COALESCE(p.s, 0) AS y
  FROM grid g LEFT JOIN per p ON p.b = g.b AND p.t = 'purchase'
), lags AS (SELECT unnest(range(0, 7)) AS lag),
paired AS (
  SELECT l.lag, x.x, y.y
  FROM x CROSS JOIN lags l JOIN y ON x.b + l.lag = y.b
), agg AS (
  SELECT lag, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(19,0))) AS sx,
         SUM(CAST(y AS DECIMAL(19,0))) AS sy,
         SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
         SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
  FROM paired GROUP BY lag
)
SELECT lag, n AS n_buckets,
       CASE WHEN CAST(n AS DECIMAL(19,0)) * sxx - sx * sx > 0
             AND CAST(n AS DECIMAL(19,0)) * syy - sy * sy > 0
            THEN CAST(CAST(n AS DECIMAL(19,0)) * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(CAST(n AS DECIMAL(19,0)) * sxx - sx * sx
                              AS DOUBLE))
                    * sqrt(CAST(CAST(n AS DECIMAL(19,0)) * syy - sy * sy
                                AS DOUBLE)))
       END AS xcorr
FROM agg ORDER BY lag
"""


def q_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-activity analysis (operators/temporal.py
    day_island_intervals + interval_overlap_join): per user, every
    overlapping pair of click-activity and purchase-activity day-runs
    with the overlap length — the interval-algebra join Spark lacks as
    a built-in, keyed so it stays a hash equi-join."""
    from .operators.temporal import (day_island_intervals,
                                     interval_overlap_join)
    ev = load_table(spark, sf_dir, "events")
    clicks = day_island_intervals(
        ev.filter(F.col("event_type") == "click"), "user_id", "ts")
    buys = day_island_intervals(
        ev.filter(F.col("event_type") == "purchase"), "user_id", "ts")
    return (interval_overlap_join(clicks, buys, "user_id")
            .orderBy("user_id", "a_start_day", "a_end_day",
                     "b_start_day", "b_end_day"))


_SQL_SESSION_OVERLAP = """
WITH d AS (
  SELECT DISTINCT user_id, event_type,
         epoch_us(ts) // 86400000000 AS d
  FROM events WHERE event_type IN ('click', 'purchase')
), runs AS (
  SELECT user_id, event_type,
         d - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY d) AS grp,
         d
  FROM d
), iv AS (
  SELECT user_id, event_type,
         MIN(d) AS start_day, MAX(d) AS end_day
  FROM runs GROUP BY user_id, event_type, grp
)
SELECT a.user_id AS user_id,
       a.start_day AS a_start_day, a.end_day AS a_end_day,
       b.start_day AS b_start_day, b.end_day AS b_end_day,
       least(a.end_day, b.end_day)
         - greatest(a.start_day, b.start_day) + 1 AS overlap_len
FROM iv a JOIN iv b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND a.start_day <= b.end_day AND b.start_day <= a.end_day
ORDER BY user_id, a_start_day, a_end_day, b_start_day, b_end_day
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KS drift between the early and late halves of
    the event stream (operators/aggregates.py ks_drift) — exact
    cross-multiplied CDF gap, the train/serve skew audit."""
    from .operators.aggregates import ks_drift
    ev = load_table(spark, sf_dir, "events")
    return ks_drift(ev, "event_type", "ts", "value", scale=100)


_SQL_KS_DRIFT = """
WITH b AS (SELECT MIN(epoch_us(ts)) AS t_lo, MAX(epoch_us(ts)) AS t_hi
           FROM events),
pts AS (
  SELECT event_type AS grp,
         CAST(round(value * 100) AS BIGINT) AS q,
         CASE WHEN CAST(epoch_us(ts) AS DOUBLE) <= (t_lo + t_hi) / 2
              THEN 1 ELSE 0 END AS e
  FROM events CROSS JOIN b
), c AS (
  SELECT grp, q, CAST(SUM(e) AS BIGINT) AS c1,
         CAST(SUM(1 - e) AS BIGINT) AS c2
  FROM pts GROUP BY 1, 2
), w AS (
  SELECT grp,
         CAST(SUM(c1) OVER win AS DECIMAL(19,0)) AS cum1,
         CAST(SUM(c2) OVER win AS DECIMAL(19,0)) AS cum2,
         CAST(SUM(c1) OVER wall AS DECIMAL(19,0)) AS n1,
         CAST(SUM(c2) OVER wall AS DECIMAL(19,0)) AS n2
  FROM c
  WINDOW win AS (PARTITION BY grp ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wall AS (PARTITION BY grp)
), g AS (
  SELECT grp, MAX(abs(cum1 * n2 - cum2 * n1)) AS dnum,
         MAX(n1) AS n1, MAX(n2) AS n2
  FROM w GROUP BY grp
)
SELECT grp AS event_type, CAST(n1 AS BIGINT) AS n_early,
       CAST(n2 AS BIGINT) AS n_late,
       CAST(dnum AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d_stat
FROM g WHERE n1 > 0 AND n2 > 0 ORDER BY event_type
"""


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-country winsorized order-value mean at 10% (operators/
    aggregates.py winsorized_stats): the clamping robust statistic —
    trimmed_mean's sibling — assembled in one window pass + one
    hash-agg with exact-rank boundaries and decimal arithmetic.

    r13: orders spread — same rationale as q_trimmed_mean."""
    from .operators.aggregates import winsorized_stats
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    t["orders"] = load_table(spark, sf_dir, "orders", spread=True)
    joined = star_join(t).withColumnRenamed("n_name", "country")
    return winsorized_stats(joined, ["country"], "o_totalprice",
                            "o_orderkey", pct=10)


_SQL_WINSORIZED_MEAN = """
WITH j AS (
  SELECT n_name AS country, o_totalprice AS amount, o_orderkey
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
), r AS (
  SELECT country, amount, o_orderkey,
         row_number() OVER (PARTITION BY country
                            ORDER BY amount, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY country) AS n
  FROM j
), rk AS (
  SELECT *, CAST(floor(n * 10 / 100) AS BIGINT) AS k FROM r
), g AS (
  SELECT country, MAX(n) AS n_total, MAX(k) AS k_clamped,
         MAX(CASE WHEN rn = k + 1 THEN amount END) AS lo,
         MAX(CASE WHEN rn = n - k THEN amount END) AS hi,
         SUM(CASE WHEN rn > k AND rn <= n - k
                  THEN CAST(amount AS DECIMAL(19,2)) END) AS mid_sum
  FROM rk GROUP BY country
)
SELECT country, n_total, k_clamped, lo, hi,
       CAST(mid_sum + CAST(k_clamped AS DECIMAL(12,0))
                      * CAST(lo AS DECIMAL(19,2))
                    + CAST(k_clamped AS DECIMAL(12,0))
                      * CAST(hi AS DECIMAL(19,2)) AS DOUBLE)
       / n_total AS win_mean
FROM g ORDER BY country
"""


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing EWMA (α=1/2, 32-event frame) of event values
    (operators/temporal.py ewma_halving) — exact dyadic arithmetic
    makes the sequential recurrence hash-matchable cross-engine."""
    from .operators.temporal import ewma_halving
    ev = load_table(spark, sf_dir, "events")
    return ewma_halving(ev, "user_id", ["ts", "event_id"], "value",
                        frame=32, scale=100)


from .operators.temporal import (  # noqa: E402
    EWMA_HALVING_ORACLE_SQL as _SQL_EWMA_SMOOTH)


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining (operators/basket.py): top-25
    co-purchased part pairs by support with exact-arithmetic lift,
    apriori-prefiltered before the per-order self-join. The association
    mining a retailer runs over the same denormalized order feed the
    reference streams through Kafka."""
    from .operators.basket import copurchase_pairs
    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_pairs(li, k=25, min_support=2)


_SQL_COPURCHASE_PAIRS = """
WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
            FROM lineitem),
ifreq AS (SELECT part, COUNT(*) AS c_item FROM li GROUP BY 1),
fli AS (SELECT okey, part, c_item FROM li JOIN ifreq USING (part)
        WHERE c_item >= 2),
pairs AS (
  SELECT a.part AS p1, b.part AS p2, a.c_item AS c1, b.c_item AS c2
  FROM fli a JOIN fli b ON a.okey = b.okey AND a.part < b.part),
sup AS (SELECT p1, p2, c1, c2, COUNT(*) AS support
        FROM pairs GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2),
n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM li)
SELECT p1, p2, support,
       CAST(CAST(support AS DECIMAL(19,0))
            * CAST(n_orders AS DECIMAL(19,0)) AS DOUBLE)
       / CAST(CAST(c1 AS DECIMAL(19,0))
              * CAST(c2 AS DECIMAL(19,0)) AS DOUBLE) AS lift
FROM sup CROSS JOIN n
ORDER BY support DESC, lift DESC, p1, p2 LIMIT 25
"""


# ---------------------------------------------------------------------------
# TPC-H parity battery (continued): Q3/Q5/Q10/Q14/Q17/Q18 re-expressed over
# the synthetic star schema with data-derived date cutoffs (the corpus does
# not carry TPC-H's 1992-1998 calendar) and cents/basis-point integer
# arithmetic so every aggregate hash-matches the DuckDB oracle exactly.
# Shared conventions: `*_c` = cents (x100 longs), `*_b` = basis points of a
# percent (x100 longs), one correctly-rounded division per output column.
# ---------------------------------------------------------------------------

_DAY_US = 86400000000  # microseconds per day


def _day(col: str):
    """Timestamp column -> integer day number (exact, tz-free)."""
    return F.expr(f"unix_micros({col}) div {_DAY_US}")


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): unshipped-revenue top-10 for one
    market segment around a cutoff date. Cutoff = midpoint of the
    orders calendar (one-row broadcast). customer filters+broadcasts
    into orders; lineitem joins on the shuffled orderkey; revenue
    sums as integer ep_c*(100-disc_b); top-10 ranks on the exact
    integer sum with (o_orderdate, l_orderkey) tiebreakers."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "lineitem"))
    od = _day("o_orderdate")
    bounds = t["orders"].agg(
        ((F.min(od) + F.max(od)) / 2).cast("long").alias("mid_day"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING") \
                        .select("c_custkey")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    orders = (t["orders"].crossJoin(F.broadcast(bounds))
              .filter(od < F.col("mid_day"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "o_orderpriority", "mid_day",
                      F.expr("unix_micros(o_orderdate)").alias("o_date_us")))
    li = (t["lineitem"]
          .select("l_orderkey", "l_shipdate",
                  (ep_c * (F.lit(100) - disc_b)).alias("rev_u")))
    g = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .filter(_day("l_shipdate") > F.col("mid_day"))
         .groupBy("l_orderkey", "o_date_us", "o_orderpriority")
         .agg(F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("_rev")))
    return (g.orderBy(F.col("_rev").desc(), "o_date_us", "l_orderkey")
            .limit(10)
            .select("l_orderkey",
                    (F.col("_rev").cast("double") / 10000.0)
                    .alias("revenue"),
                    "o_date_us", "o_orderpriority"))


_SQL_TPCH_Q3 = """
WITH b AS (
  SELECT CAST((MIN(epoch_us(o_orderdate) // 86400000000)
             + MAX(epoch_us(o_orderdate) // 86400000000)) / 2 AS BIGINT)
         AS mid_day
  FROM orders
), o AS (
  SELECT o_orderkey, o_orderpriority, mid_day,
         epoch_us(o_orderdate) AS o_date_us
  FROM orders CROSS JOIN b
  JOIN customer ON o_custkey = c_custkey
  WHERE epoch_us(o_orderdate) // 86400000000 < mid_day
    AND c_mktsegment = 'BUILDING'
), g AS (
  SELECT l_orderkey, o_date_us, o_orderpriority,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev
  FROM lineitem JOIN o ON l_orderkey = o_orderkey
  WHERE epoch_us(l_shipdate) // 86400000000 > mid_day
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, CAST(rev AS DOUBLE) / 10000.0 AS revenue,
       o_date_us, o_orderpriority
FROM g ORDER BY rev DESC, o_date_us, l_orderkey LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue per nation within one
    region, first order-year, counted only when the supplying
    supplier and the ordering customer share the nation. The classic
    join-order test: lineitem⋈orders shuffles on orderkey,
    ⋈customer on custkey; supplier/nation/region broadcast, with the
    locality predicate (c_nationkey = s_nationkey) folded into the
    broadcast supplier join."""
    t = load_tables(spark, sf_dir,
                    ("orders", "customer", "lineitem", "supplier",
                     "nation", "region"))
    od = _day("o_orderdate")
    bounds = t["orders"].agg(F.min(od).alias("min_day"))
    asia = (t["nation"]
            .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
            .filter(F.col("r_name") == "ASIA")
            .select("n_nationkey", "n_name"))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    orders = (t["orders"].crossJoin(F.broadcast(bounds))
              .filter((od >= F.col("min_day"))
                      & (od < F.col("min_day") + 365))
              .select("o_orderkey", "o_custkey"))
    joined = (t["lineitem"]
              .select("l_orderkey", "l_suppkey",
                      (ep_c * (F.lit(100) - disc_b)).alias("rev_u"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(t["customer"].select("c_custkey", "c_nationkey"),
                    F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(t["supplier"]
                                .select("s_suppkey", "s_nationkey")),
                    (F.col("l_suppkey") == F.col("s_suppkey"))
                    & (F.col("c_nationkey") == F.col("s_nationkey")))
              .join(F.broadcast(asia),
                    F.col("s_nationkey") == F.col("n_nationkey")))
    g = joined.groupBy("n_name").agg(
        F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("_rev"))
    return (g.orderBy(F.col("_rev").desc(), "n_name")
            .select("n_name",
                    (F.col("_rev").cast("double") / 10000.0)
                    .alias("revenue")))


_SQL_TPCH_Q5 = """
WITH b AS (
  SELECT MIN(epoch_us(o_orderdate) // 86400000000) AS min_day FROM orders
), g AS (
  SELECT n_name,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  CROSS JOIN b
  WHERE r_name = 'ASIA'
    AND epoch_us(o_orderdate) // 86400000000 >= min_day
    AND epoch_us(o_orderdate) // 86400000000 <  min_day + 365
  GROUP BY 1
)
SELECT n_name, CAST(rev AS DOUBLE) / 10000.0 AS revenue
FROM g ORDER BY rev DESC, n_name
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): top-20 customers by revenue
    lost to returns (l_returnflag = 'R') for orders in the first
    quarter of the corpus calendar. lineitem pre-filters on the
    return flag before the orderkey shuffle; customer/nation enrich
    after the per-customer rollup so the wide name columns never
    enter the big shuffle."""
    t = load_tables(spark, sf_dir,
                    ("orders", "customer", "lineitem", "nation"))
    od = _day("o_orderdate")
    bounds = t["orders"].agg(F.min(od).alias("min_day"))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    orders = (t["orders"].crossJoin(F.broadcast(bounds))
              .filter((od >= F.col("min_day"))
                      & (od < F.col("min_day") + 90))
              .select("o_orderkey", "o_custkey"))
    li = (t["lineitem"].filter(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  (ep_c * (F.lit(100) - disc_b)).alias("rev_u")))
    per_cust = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_custkey")
                .agg(F.sum(F.col("rev_u").cast("decimal(38,0)"))
                     .alias("_rev")))
    return (star_join(t, fact=per_cust)
            .orderBy(F.col("_rev").desc(), "c_custkey")
            .limit(20)
            .select("c_custkey", "c_name",
                    (F.col("_rev").cast("double") / 10000.0)
                    .alias("revenue"),
                    "c_acctbal", F.col("n_name").alias("nation")))


_SQL_TPCH_Q10 = """
WITH b AS (
  SELECT MIN(epoch_us(o_orderdate) // 86400000000) AS min_day FROM orders
), g AS (
  SELECT o_custkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  CROSS JOIN b
  WHERE l_returnflag = 'R'
    AND epoch_us(o_orderdate) // 86400000000 >= min_day
    AND epoch_us(o_orderdate) // 86400000000 <  min_day + 90
  GROUP BY 1
)
SELECT c_custkey, c_name, CAST(rev AS DOUBLE) / 10000.0 AS revenue,
       c_acctbal, n_name AS nation
FROM g
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY rev DESC, c_custkey LIMIT 20
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of one month's revenue from
    PROMO-type parts. part is a broadcast dimension; the conditional
    numerator and the denominator accumulate in the same integer
    domain, so the percentage is one double division of two exact
    integers — bit-identical to the oracle."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    sd = _day("l_shipdate")
    bounds = t["lineitem"].agg(F.min(sd).alias("min_day"))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    li = (t["lineitem"].crossJoin(F.broadcast(bounds))
          .filter((sd >= F.col("min_day"))
                  & (sd < F.col("min_day") + 30))
          .select("l_partkey",
                  (ep_c * (F.lit(100) - disc_b)).alias("rev_u"))
          .join(F.broadcast(t["part"].select("p_partkey", "p_type")),
                F.col("l_partkey") == F.col("p_partkey")))
    g = li.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_u"))
              .otherwise(F.lit(0)).cast("decimal(38,0)")).alias("_promo"),
        F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("_total"),
        F.count(F.lit(1)).alias("n_lineitems"))
    return g.select(
        (F.col("_promo").cast("double") * 100.0
         / F.col("_total").cast("double")).alias("promo_revenue_pct"),
        (F.col("_total").cast("double") / 10000.0).alias("total_revenue"),
        "n_lineitems")


_SQL_TPCH_Q14 = """
WITH b AS (
  SELECT MIN(epoch_us(l_shipdate) // 86400000000) AS min_day FROM lineitem
), q AS (
  SELECT p_type,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  CROSS JOIN b
  WHERE epoch_us(l_shipdate) // 86400000000 >= min_day
    AND epoch_us(l_shipdate) // 86400000000 <  min_day + 30
)
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_u ELSE 0 END)
            AS DOUBLE) * 100.0
       / CAST(SUM(rev_u) AS DOUBLE) AS promo_revenue_pct,
       CAST(SUM(rev_u) AS DOUBLE) / 10000.0 AS total_revenue,
       COUNT(*) AS n_lineitems
FROM q
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    below-20%%-of-average-quantity orders for one brand's parts were
    no longer taken. The correlated avg becomes a per-partkey
    aggregate joined back; the 20%% threshold compares in integers
    (5·qty·cnt < Σqty — scale factors cancel), so no rounding
    ambiguity. Brand parts broadcast twice (filter + agg join)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    brand = F.broadcast(t["part"]
                        .filter(F.col("p_brand") == "Brand#13")
                        .select("p_partkey"))
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    li = (t["lineitem"]
          .join(brand, F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", qty_c.alias("qty_c"), ep_c.alias("ep_c")))
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum("qty_c").alias("sum_qty_c"), F.count(F.lit(1)).alias("cnt"))
    small = (li.join(F.broadcast(per_part),
                     F.col("l_partkey") == F.col("a_partkey"))
             .filter(F.lit(5) * F.col("qty_c") * F.col("cnt")
                     < F.col("sum_qty_c")))
    return small.agg(
        (F.sum(F.col("ep_c").cast("decimal(38,0)")).cast("double")
         / 700.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"))


_SQL_TPCH_Q17 = """
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#13'
), a AS (
  SELECT l_partkey AS a_partkey, SUM(qty_c) AS sum_qty_c,
         COUNT(*) AS cnt
  FROM li GROUP BY 1
)
SELECT CAST(SUM(ep_c) AS DOUBLE) / 700.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM li JOIN a ON l_partkey = a_partkey
WHERE 5 * qty_c * cnt < sum_qty_c
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds 250 units, with customer names, top-100 by order value.
    The HAVING filter runs as a pre-aggregation on lineitem alone
    (partial map-side combine on orderkey), and only the surviving
    ~1-2%% of orderkeys join orders/customer — the survivor set
    broadcasts."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "lineitem"))
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    big = (t["lineitem"]
           .groupBy("l_orderkey")
           .agg(F.sum(qty_c).alias("sum_qty_c"))
           .filter(F.col("sum_qty_c") > 25000))
    joined = (t["orders"]
              .join(F.broadcast(big),
                    F.col("o_orderkey") == F.col("l_orderkey"))
              .join(t["customer"],
                    F.col("o_custkey") == F.col("c_custkey")))
    return (joined
            .orderBy(F.col("o_totalprice").desc(),
                     F.expr("unix_micros(o_orderdate)"), "o_orderkey")
            .limit(100)
            .select("c_name", "c_custkey", "o_orderkey",
                    F.expr("unix_micros(o_orderdate)").alias("o_date_us"),
                    "o_totalprice",
                    (F.col("sum_qty_c").cast("double") / 100.0)
                    .alias("total_qty")))


_SQL_TPCH_Q18 = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(round(l_quantity * 100) AS BIGINT))
         AS sum_qty_c
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000
)
SELECT c_name, c_custkey, o_orderkey,
       epoch_us(o_orderdate) AS o_date_us, o_totalprice,
       CAST(sum_qty_c AS DOUBLE) / 100.0 AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, epoch_us(o_orderdate), o_orderkey LIMIT 100
"""


# --- TPC-H continued: Q4/Q7/Q8/Q9/Q12/Q13/Q15/Q19/Q22 ---------------------
# Schema adaptations (documented per query): the synthetic corpus carries no
# l_commitdate/l_receiptdate/l_shipmode, no partsupp, and no c_phone, so
# Q4/Q12 use the ship-lag (l_shipdate − o_orderdate in days) as the
# lateness signal, Q9 uses p_retailprice as the unit-cost stand-in, and
# Q22's country code is the customer's nation. Calendar years are replaced
# by tz-free 365-day epoch buckets (`day div 365`) — identical integer
# arithmetic on both engines, immune to session-timezone year() drift.


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders placed in the first
    quarter with at least one line shipped > 60 days after the order
    date (the corpus has no commitdate; ship-lag is the lateness
    signal), counted per priority. The EXISTS becomes a left-semi
    join on orderkey with the lag predicate folded into the join
    condition — a hash semi join, no pre-aggregation needed."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    od = _day("o_orderdate")
    bounds = t["orders"].agg(F.min(od).alias("min_day"))
    orders = (t["orders"].crossJoin(F.broadcast(bounds))
              .filter((od >= F.col("min_day"))
                      & (od < F.col("min_day") + 90))
              .select("o_orderkey", "o_orderpriority",
                      od.alias("o_day")))
    li = t["lineitem"].select("l_orderkey", _day("l_shipdate").alias("l_day"))
    late = orders.join(
        li, (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_day") > F.col("o_day") + 60), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


_SQL_TPCH_Q4 = """
WITH b AS (
  SELECT MIN(epoch_us(o_orderdate) // 86400000000) AS min_day FROM orders
)
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders CROSS JOIN b
WHERE epoch_us(o_orderdate) // 86400000000 >= min_day
  AND epoch_us(o_orderdate) // 86400000000 <  min_day + 90
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND epoch_us(l_shipdate) // 86400000000
          > epoch_us(o_orderdate) // 86400000000 + 60)
GROUP BY 1 ORDER BY 1
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue shipped between two nations,
    both directions, per 365-day epoch bucket of the ship date.
    supplier+nation and customer+nation pre-resolve to (key, nation)
    frames; the supplier side broadcasts, the customer side rides the
    existing custkey shuffle. Pair filter applies after both joins."""
    t = load_tables(spark, sf_dir,
                    ("orders", "customer", "lineitem", "supplier",
                     "nation"))
    n = t["nation"].select("n_nationkey", "n_name")
    supp = (t["supplier"].join(F.broadcast(n),
                               F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (t["customer"].join(F.broadcast(n),
                               F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    li = t["lineitem"].select(
        "l_orderkey", "l_suppkey",
        F.expr(f"(unix_micros(l_shipdate) div {_DAY_US}) div 365")
        .alias("ship_yb"),
        (ep_c * (F.lit(100) - disc_b)).alias("rev_u"))
    joined = (li
              .join(t["orders"].select("o_orderkey", "o_custkey"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(supp),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .filter(((F.col("supp_nation") == "NATION_1")
                       & (F.col("cust_nation") == "NATION_2"))
                      | ((F.col("supp_nation") == "NATION_2")
                         & (F.col("cust_nation") == "NATION_1"))))
    g = (joined.groupBy("supp_nation", "cust_nation", "ship_yb")
         .agg(F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("_rev")))
    return (g.orderBy("supp_nation", "cust_nation", "ship_yb")
            .select("supp_nation", "cust_nation", "ship_yb",
                    (F.col("_rev").cast("double") / 10000.0)
                    .alias("revenue")))


_SQL_TPCH_Q7 = """
WITH g AS (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         (epoch_us(l_shipdate) // 86400000000) // 365 AS ship_yb,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey  = c_custkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
     OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
  GROUP BY 1, 2, 3
)
SELECT supp_nation, cust_nation, ship_yb,
       CAST(rev AS DOUBLE) / 10000.0 AS revenue
FROM g ORDER BY supp_nation, cust_nation, ship_yb
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of the ECONOMY-type part
    revenue sold to EUROPE-region customers, the share supplied by
    NATION_3, per order-date 365-day bucket. Numerator and
    denominator accumulate in the same integer domain; the share is
    one double division — bit-identical to the oracle.

    r13: lineitem spread examined and REJECTED (A/B tails 1.3-1.7
    base vs 1.4-1.9 s — the probe chain is too cheap to amortize the
    §2.5 exchange)."""
    t = load_tables(spark, sf_dir,
                    ("orders", "customer", "lineitem", "supplier",
                     "nation", "region", "part"))
    parts = F.broadcast(t["part"].filter(F.col("p_type") == "ECONOMY")
                        .select("p_partkey"))
    eur_cust = (t["customer"]
                .join(F.broadcast(
                    t["nation"].join(t["region"],
                                     F.col("n_regionkey")
                                     == F.col("r_regionkey"))
                    .filter(F.col("r_name") == "EUROPE")
                    .select("n_nationkey")),
                    F.col("c_nationkey") == F.col("n_nationkey"))
                .select("c_custkey"))
    supp = (t["supplier"]
            .join(F.broadcast(t["nation"]
                              .select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    li = (t["lineitem"]
          .join(parts, F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "l_suppkey",
                  (ep_c * (F.lit(100) - disc_b)).alias("rev_u")))
    joined = (li
              .join(t["orders"].select(
                  "o_orderkey", "o_custkey",
                  F.expr(f"(unix_micros(o_orderdate) div {_DAY_US}) div 365")
                  .alias("order_yb")),
                  F.col("l_orderkey") == F.col("o_orderkey"))
              .join(eur_cust, F.col("o_custkey") == F.col("c_custkey"),
                    "left_semi")
              .join(F.broadcast(supp),
                    F.col("l_suppkey") == F.col("s_suppkey")))
    g = joined.groupBy("order_yb").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3",
                     F.col("rev_u")).otherwise(F.lit(0))
              .cast("decimal(38,0)")).alias("_nat"),
        F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("_all"))
    return (g.orderBy("order_yb")
            .select("order_yb",
                    (F.col("_nat").cast("double")
                     / F.col("_all").cast("double")).alias("mkt_share"),
                    (F.col("_all").cast("double") / 10000.0)
                    .alias("total_revenue")))


_SQL_TPCH_Q8 = """
WITH g AS (
  SELECT (epoch_us(o_orderdate) // 86400000000) // 365 AS order_yb,
         SUM(CASE WHEN sn.n_name = 'NATION_3'
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))
             ELSE 0 END) AS nat,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = 'ECONOMY'
    AND o_custkey IN (
      SELECT c_custkey FROM customer
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE')
  GROUP BY 1
)
SELECT order_yb,
       CAST(nat AS DOUBLE) / CAST(total AS DOUBLE) AS mkt_share,
       CAST(total AS DOUBLE) / 10000.0 AS total_revenue
FROM g ORDER BY order_yb
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit): per supplier-nation and
    order-date bucket, profit on widget-named parts. No partsupp
    table exists, so p_retailprice stands in for the unit supply
    cost. Both profit terms land in the same 10^-4-dollar integer
    unit (ep_c·(100−disc_b) and retail_c·qty_c), so the subtraction
    stays exact.

    r13: lineitem spread examined and REJECTED (A/B tails 0.9-1.4
    base vs 1.4-2.1 s — same reason as tpch_q8)."""
    t = load_tables(spark, sf_dir,
                    ("orders", "lineitem", "supplier", "nation", "part"))
    parts = F.broadcast(t["part"]
                        .filter(F.col("p_name").like("%widget%"))
                        .select("p_partkey", "p_retailprice"))
    supp = (t["supplier"]
            .join(F.broadcast(t["nation"]
                              .select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("nation")))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    retail_c = F.round(F.col("p_retailprice") * 100).cast("long")
    li = (t["lineitem"]
          .join(parts, F.col("l_partkey") == F.col("p_partkey"))
          .select("l_orderkey", "l_suppkey",
                  (ep_c * (F.lit(100) - disc_b)
                   - retail_c * qty_c).alias("amount_u")))
    joined = (li
              .join(t["orders"].select(
                  "o_orderkey",
                  F.expr(f"(unix_micros(o_orderdate) div {_DAY_US}) div 365")
                  .alias("order_yb")),
                  F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(supp),
                    F.col("l_suppkey") == F.col("s_suppkey")))
    g = (joined.groupBy("nation", "order_yb")
         .agg(F.sum(F.col("amount_u").cast("decimal(38,0)"))
              .alias("_profit")))
    return (g.orderBy("nation", F.col("order_yb").desc())
            .select("nation", "order_yb",
                    (F.col("_profit").cast("double") / 10000.0)
                    .alias("sum_profit")))


_SQL_TPCH_Q9 = """
WITH g AS (
  SELECT n_name AS nation,
         (epoch_us(o_orderdate) // 86400000000) // 365 AS order_yb,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))
             - CAST(round(p_retailprice * 100) AS BIGINT)
               * CAST(round(l_quantity * 100) AS BIGINT)) AS profit
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
  GROUP BY 1, 2
)
SELECT nation, order_yb, CAST(profit AS DOUBLE) / 10000.0 AS sum_profit
FROM g ORDER BY nation, order_yb DESC
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority census, lateness-bucket
    adaptation): the corpus has no l_shipmode, so lines bucket by
    ship lag (early / on_time / late / very_late), counting
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders per
    bucket. One orderkey shuffle, conditional integer counts."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    li = t["lineitem"].select("l_orderkey",
                              _day("l_shipdate").alias("l_day"))
    orders = t["orders"].select("o_orderkey", "o_orderpriority",
                                _day("o_orderdate").alias("o_day"))
    lag = F.col("l_day") - F.col("o_day")
    bucket = (F.when(lag < 0, "early")
              .when(lag <= 60, "on_time")
              .when(lag <= 365, "late")
              .otherwise("very_late"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    return (joined.groupBy(bucket.alias("ship_bucket"))
            .agg(F.sum(F.when(high, 1).otherwise(0))
                 .alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1))
                 .alias("low_line_count"))
            .orderBy("ship_bucket"))


_SQL_TPCH_Q12 = """
WITH q AS (
  SELECT CASE
           WHEN epoch_us(l_shipdate) // 86400000000
                - epoch_us(o_orderdate) // 86400000000 < 0 THEN 'early'
           WHEN epoch_us(l_shipdate) // 86400000000
                - epoch_us(o_orderdate) // 86400000000 <= 60
                THEN 'on_time'
           WHEN epoch_us(l_shipdate) // 86400000000
                - epoch_us(o_orderdate) // 86400000000 <= 365
                THEN 'late'
           ELSE 'very_late' END AS ship_bucket,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS is_high
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT ship_bucket,
       CAST(SUM(is_high) AS BIGINT) AS high_line_count,
       CAST(SUM(1 - is_high) AS BIGINT) AS low_line_count
FROM q GROUP BY 1 ORDER BY 1
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): histogram of
    per-customer order counts, excluding 4-NOT SPECIFIED orders (the
    stand-in for TPC-H's comment-pattern exclusion), customers with
    zero kept via the left outer join. Two aggregations: custkey
    shuffle, then the tiny count-histogram shuffle."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    orders = (t["orders"]
              .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
              .select("o_orderkey", "o_custkey"))
    per_cust = (t["customer"].select("c_custkey")
                .join(orders, F.col("c_custkey") == F.col("o_custkey"),
                      "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


_SQL_TPCH_Q13 = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY 1
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY 1 ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum revenue
    over the first quarter's shipments. The revenue view is a
    per-suppkey integer aggregate; the scalar max re-broadcasts as a
    one-row frame and the equality filter happens in the exact
    integer domain, so ties are real ties, not double artifacts."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    sd = _day("l_shipdate")
    bounds = t["lineitem"].agg(F.min(sd).alias("min_day"))
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    rev = (t["lineitem"].crossJoin(F.broadcast(bounds))
           .filter((sd >= F.col("min_day"))
                   & (sd < F.col("min_day") + 90))
           .groupBy("l_suppkey")
           .agg(F.sum((ep_c * (F.lit(100) - disc_b))
                      .cast("decimal(38,0)")).alias("_rev")))
    top = rev.agg(F.max("_rev").alias("_max_rev"))
    return (rev.crossJoin(F.broadcast(top))
            .filter(F.col("_rev") == F.col("_max_rev"))
            .join(F.broadcast(t["supplier"]
                              .select("s_suppkey", "s_name")),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .orderBy("s_suppkey")
            .select("s_suppkey", "s_name",
                    (F.col("_rev").cast("double") / 10000.0)
                    .alias("total_revenue")))


_SQL_TPCH_Q15 = """
WITH b AS (
  SELECT MIN(epoch_us(l_shipdate) // 86400000000) AS min_day
  FROM lineitem
), rev AS (
  SELECT l_suppkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS r
  FROM lineitem CROSS JOIN b
  WHERE epoch_us(l_shipdate) // 86400000000 >= min_day
    AND epoch_us(l_shipdate) // 86400000000 <  min_day + 90
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
ORDER BY s_suppkey
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): revenue
    from lines matching any of three (brand, size-range, qty-range)
    arms. part broadcasts; the OR-of-ANDs evaluates inside the join
    output projection — the canonical test that a disjunction does
    not break the broadcast-hash plan."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_b = F.round(F.col("l_discount") * 100).cast("long")
    li = t["lineitem"].select("l_partkey", qty_c.alias("qty_c"),
                              (ep_c * (F.lit(100) - disc_b))
                              .alias("rev_u"))
    joined = li.join(F.broadcast(t["part"]
                                 .select("p_partkey", "p_brand",
                                         "p_size")),
                     F.col("l_partkey") == F.col("p_partkey"))
    arm1 = ((F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("qty_c").between(100, 1100))
    arm2 = ((F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 10)
            & F.col("qty_c").between(1000, 2000))
    arm3 = ((F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("qty_c").between(2000, 3000))
    return (joined.filter(arm1 | arm2 | arm3)
            .agg((F.sum(F.col("rev_u").cast("decimal(38,0)"))
                  .cast("double") / 10000.0).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lineitems")))


_SQL_TPCH_Q19 = """
WITH q AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_u
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         AND CAST(round(l_quantity * 100) AS BIGINT)
             BETWEEN 100 AND 1100)
     OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 10
         AND CAST(round(l_quantity * 100) AS BIGINT)
             BETWEEN 1000 AND 2000)
     OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
         AND CAST(round(l_quantity * 100) AS BIGINT)
             BETWEEN 2000 AND 3000)
)
SELECT CAST(SUM(rev_u) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_lineitems
FROM q
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): per nation (the corpus'
    stand-in for the phone country code), customers with
    above-average positive balance and no orders in the first
    quarter. The global average broadcasts as (sum, count) and the
    threshold compares as acctbal_c·cnt > sum — pure integers, no
    division. The no-orders test is a left-anti join on custkey."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = t["customer"].select("c_custkey", "c_nationkey",
                                bal_c.alias("bal_c"))
    avg_pos = (cust.filter(F.col("bal_c") > 0)
               .agg(F.sum(F.col("bal_c").cast("decimal(38,0)"))
                    .alias("_sum_pos"),
                    F.count(F.lit(1)).alias("_cnt_pos")))
    od = _day("o_orderdate")
    bounds = t["orders"].agg(F.min(od).alias("min_day"))
    window_orders = (t["orders"].crossJoin(F.broadcast(bounds))
                     .filter((od >= F.col("min_day"))
                             & (od < F.col("min_day") + 90))
                     .select("o_custkey"))
    eligible = (cust.crossJoin(F.broadcast(avg_pos))
                .filter(F.col("bal_c").cast("decimal(38,0)")
                        * F.col("_cnt_pos") > F.col("_sum_pos"))
                .join(window_orders,
                      F.col("c_custkey") == F.col("o_custkey"),
                      "left_anti"))
    g = (eligible
         .join(F.broadcast(t["nation"]
                           .select("n_nationkey", "n_name")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .groupBy("n_name")
         .agg(F.count(F.lit(1)).alias("numcust"),
              F.sum(F.col("bal_c").cast("decimal(38,0)"))
              .alias("_totbal")))
    return (g.orderBy("n_name")
            .select("n_name", "numcust",
                    (F.col("_totbal").cast("double") / 100.0)
                    .alias("totacctbal")))


_SQL_TPCH_Q22 = """
WITH b AS (
  SELECT MIN(epoch_us(o_orderdate) // 86400000000) AS min_day FROM orders
), cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
), avg_pos AS (
  SELECT SUM(bal_c) AS sum_pos, COUNT(*) AS cnt_pos
  FROM cust WHERE bal_c > 0
), wo AS (
  SELECT DISTINCT o_custkey FROM orders CROSS JOIN b
  WHERE epoch_us(o_orderdate) // 86400000000 >= min_day
    AND epoch_us(o_orderdate) // 86400000000 <  min_day + 90
)
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS totacctbal
FROM cust CROSS JOIN avg_pos
JOIN nation ON c_nationkey = n_nationkey
WHERE bal_c * cnt_pos > sum_pos
  AND c_custkey NOT IN (SELECT o_custkey FROM wo)
GROUP BY 1 ORDER BY 1
"""


def _top_supplier_nation(t: dict) -> DataFrame:
    """One-row frame: the nationkey fielding the MOST suppliers,
    ties broken by smallest key. Data-derived stand-in for the
    SF-dependent nation literals of TPC-H Q11/Q20/Q21 — deterministic
    and non-empty at every scale factor; broadcasts as a dim filter."""
    return (t["supplier"].groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.desc("_n"), "s_nationkey")
            .limit(1)
            .select(F.col("s_nationkey").alias("top_nationkey")))


#: DuckDB twin of _top_supplier_nation (CTE body).
_SQL_TOP_NATION = """
  SELECT s_nationkey AS top_nationkey FROM supplier
  GROUP BY 1 ORDER BY COUNT(*) DESC, s_nationkey LIMIT 1
"""


def _top_nation_suppliers(t: dict, *cols: str) -> DataFrame:
    """Suppliers of the argmax nation, projected to ``cols`` — the
    shared broadcast-dim filter of the Q11/Q20/Q21 adaptations."""
    return (t["supplier"]
            .join(F.broadcast(_top_supplier_nation(t)),
                  F.col("s_nationkey") == F.col("top_nationkey"))
            .select(*cols))


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finalized
    orders ('F') with lines from >1 supplier where EXACTLY ONE
    supplier shipped late (ship-lag > 60 days — the corpus carries no
    l_receiptdate/l_commitdate, consistent with Q4/Q12), count the
    culprit's orders, for suppliers of the nation that fields the
    MOST suppliers (the original's literal 'SAUDI ARABIA' is
    SF-dependent against the synthetic 25-nation corpus; the argmax
    nation is data-derived, deterministic, and non-empty at every
    SF). The classic EXISTS/NOT-EXISTS double self-join is rewritten
    as ONE aggregation cascade — per-(order,supplier) late flag, then
    per-order (n_supp, n_late) — so lineitem is scanned once and
    every stage rides the same orderkey shuffle; at 100 TB that is
    two co-partitioned hash-aggs instead of three self-joins."""
    t = load_tables(spark, sf_dir,
                    ("orders", "lineitem", "supplier", "nation"))
    orders_f = (t["orders"].filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey", _day("o_orderdate").alias("o_day")))
    li = t["lineitem"].select("l_orderkey", "l_suppkey",
                              _day("l_shipdate").alias("ship_day"))
    lo = (li.join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
          .withColumn("late",
                      (F.col("ship_day") > F.col("o_day") + 60)
                      .cast("int")))
    per_os = (lo.groupBy("l_orderkey", "l_suppkey")
              .agg(F.max("late").alias("supp_late")))
    # per-order counts as WINDOW sums over the per-(order,supplier)
    # frame, not a groupBy + self-join back: the self-join form plans
    # TWO full lineitem scans (Spark shares no subplans without an
    # explicit cache); this is one branch, one scan.
    w_o = Window.partitionBy("l_orderkey")
    culprit = (per_os
               .withColumn("n_supp", F.count(F.lit(1)).over(w_o))
               .withColumn("n_late", F.sum("supp_late").over(w_o))
               .filter((F.col("supp_late") == 1)
                       & (F.col("n_supp") > 1)
                       & (F.col("n_late") == 1)))
    supp = _top_nation_suppliers(t, "s_suppkey", "s_name")
    return (culprit.join(F.broadcast(supp),
                         F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name")
            .limit(100))


_SQL_TPCH_Q21 = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN epoch_us(l_shipdate) // 86400000000
                   > epoch_us(o_orderdate) // 86400000000 + 60
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS supp_late
  FROM lo GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(supp_late) AS n_late
  FROM per_os GROUP BY 1
), topn AS (""" + _SQL_TOP_NATION + """)
SELECT s_name, COUNT(*) AS numwait
FROM per_os JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
JOIN topn    ON s_nationkey = top_nationkey
WHERE supp_late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): the corpus has no partsupp, so the
    supply fact is lineitem itself — per-part supplied value from the
    top-supplier nation's suppliers (data-derived, see
    _top_supplier_nation) = Σ round(qty)·price_c, keeping parts whose
    value exceeds 2x the mean per-part value (the original's
    fixed 0.0001 fraction is SF-dependent; 2x-mean is scale-free).
    The HAVING-against-a-scalar-subquery shape survives: the (total,
    count) pair broadcasts and the threshold compares as
    val·n > 2·tot — pure integers, no division. lineitem joins part
    on the SAME partkey the aggregate groups by, so the join and the
    agg share one shuffle; the nation's supplier list broadcasts as a
    semi join."""
    t = load_tables(spark, sf_dir,
                    ("lineitem", "supplier", "nation", "part"))
    supp = _top_nation_suppliers(t, "s_suppkey")
    qty_l = F.round(F.col("l_quantity")).cast("long")
    price_c = F.round(F.col("p_retailprice") * 100).cast("long")
    li = (t["lineitem"]
          .join(F.broadcast(supp),
                F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
          .select("l_partkey", qty_l.alias("qty_l")))
    val = (li.join(t["part"].select("p_partkey",
                                    price_c.alias("price_c")),
                   F.col("l_partkey") == F.col("p_partkey"))
           .groupBy("p_partkey")
           .agg(F.sum((F.col("qty_l") * F.col("price_c"))
                      .cast("decimal(38,0)")).alias("val_u")))
    tot = val.agg(F.sum("val_u").alias("tot_u"),
                  F.count(F.lit(1)).alias("n_parts"))
    return (val.crossJoin(F.broadcast(tot))
            .filter(F.col("val_u") * F.col("n_parts")
                    > F.col("tot_u") * 2)
            .orderBy(F.desc("val_u"), "p_partkey")
            .select("p_partkey",
                    (F.col("val_u").cast("double") / 100.0)
                    .alias("value")))


_SQL_TPCH_Q11 = """
WITH topn AS (""" + _SQL_TOP_NATION + """
), supp AS (
  SELECT s_suppkey FROM supplier JOIN topn ON s_nationkey = top_nationkey
), v AS (
  SELECT p_partkey,
         SUM(CAST(round(l_quantity) AS BIGINT)
             * CAST(round(p_retailprice * 100) AS BIGINT)) AS val_u
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey IN (SELECT s_suppkey FROM supp)
  GROUP BY 1
), tot AS (SELECT SUM(val_u) AS tot_u, COUNT(*) AS n_parts FROM v)
SELECT p_partkey, CAST(val_u AS DOUBLE) / 100.0 AS value
FROM v CROSS JOIN tot
WHERE val_u * n_parts > tot_u * 2
ORDER BY val_u DESC, p_partkey
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct suppliers per
    (brand, size) for non-PROMO parts, excluding suppliers whose
    account balance is under 1000.00 (the corpus has no s_comment;
    low balance is the 'customer complaints' stand-in, compared in
    exact cents). The part-supplier relation is lineitem (no
    partsupp). The exclusion list broadcasts as an anti join;
    COUNT(DISTINCT) expands to the standard two-phase
    partial-distinct aggregate Spark plans for it."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "part"))
    bal_c = F.round(F.col("s_acctbal") * 100).cast("long")
    excl = (t["supplier"]
            .filter(bal_c < 100000)
            .select("s_suppkey"))
    pairs = (t["lineitem"].select("l_partkey", "l_suppkey")
             .join(F.broadcast(excl),
                   F.col("l_suppkey") == F.col("s_suppkey"),
                   "left_anti")
             .join(t["part"]
                   .filter(F.col("p_type") != "PROMO")
                   .select("p_partkey", "p_brand", "p_size"),
                   F.col("l_partkey") == F.col("p_partkey")))
    return (pairs.groupBy("p_brand", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size"))


_SQL_TPCH_Q16 = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier
    WHERE CAST(round(s_acctbal * 100) AS BIGINT) < 100000)
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): top-supplier-nation
    suppliers (data-derived, see _top_supplier_nation) whose
    shipped quantity of 'large…'-named parts in the first 365-day
    shipping bucket exceeds HALF the mean per-supplier quantity of
    those parts (the original's '50% of availqty' has no partsupp to
    read from; half-the-mean keeps the same over-supply semantics,
    scale-free). Threshold compares as 2·qty·n > tot — integers
    only. The filtered part list broadcasts as a semi join; the date
    bound is a one-row broadcast of min(ship_day)."""
    t = load_tables(spark, sf_dir,
                    ("lineitem", "supplier", "nation", "part"))
    parts = (t["part"].filter(F.col("p_name").startswith("large"))
             .select("p_partkey"))
    li = t["lineitem"].select("l_partkey", "l_suppkey",
                              _day("l_shipdate").alias("ship_day"),
                              F.round(F.col("l_quantity")).cast("long")
                              .alias("qty_l"))
    bounds = li.agg(F.min("ship_day").alias("min_day"))
    per_s = (li.join(F.broadcast(parts),
                     F.col("l_partkey") == F.col("p_partkey"),
                     "left_semi")
             .crossJoin(F.broadcast(bounds))
             .filter(F.col("ship_day") < F.col("min_day") + 365)
             .groupBy("l_suppkey")
             .agg(F.sum("qty_l").alias("qty")))
    stats = per_s.agg(F.sum("qty").alias("tot"),
                      F.count(F.lit(1)).alias("n_supp"))
    supp = _top_nation_suppliers(t, "s_suppkey", "s_name")
    return (per_s.crossJoin(F.broadcast(stats))
            .filter(F.col("qty") * F.col("n_supp") * 2 > F.col("tot"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_name", "qty")
            .orderBy("s_name"))


_SQL_TPCH_Q20 = """
WITH li AS (
  SELECT l_suppkey,
         CAST(round(l_quantity) AS BIGINT) AS qty_l,
         epoch_us(l_shipdate) // 86400000000 AS ship_day
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'large%')
), b AS (
  SELECT MIN(epoch_us(l_shipdate) // 86400000000) AS min_day
  FROM lineitem
), per_s AS (
  SELECT l_suppkey, CAST(SUM(qty_l) AS BIGINT) AS qty
  FROM li CROSS JOIN b WHERE ship_day < min_day + 365
  GROUP BY 1
), stats AS (SELECT SUM(qty) AS tot, COUNT(*) AS n_supp FROM per_s),
topn AS (""" + _SQL_TOP_NATION + """)
SELECT s_name, qty
FROM per_s CROSS JOIN stats
JOIN supplier ON l_suppkey = s_suppkey
JOIN topn    ON s_nationkey = top_nationkey
WHERE qty * n_supp * 2 > tot
ORDER BY s_name
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) — completes the adapted 22-query
    battery. The corpus has no partsupp/ps_supplycost, so the supply
    relation is distinct (l_partkey, l_suppkey) from lineitem and the
    cost is the supplier's account balance in exact cents (lowest
    balance wins; equal-cost suppliers all return, as in the
    original). Parts: size 15, STANDARD type; suppliers from EUROPE.
    The correlated min-cost subquery becomes a WINDOW min over the
    part partition with an equality filter — not a hash-agg joined
    back, which would plan the expensive supply-relation distinct
    twice (Spark shares no subplans without a cache). The filtered
    part list and the region's supplier dim both broadcast, so the
    only wide shuffle is the distinct over the supply relation,
    keyed on partkey."""
    t = load_tables(spark, sf_dir,
                    ("lineitem", "supplier", "nation", "region",
                     "part"))
    eur = (t["nation"]
           .join(t["region"],
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .filter(F.col("r_name") == "EUROPE")
           .select("n_nationkey", "n_name"))
    bal_c = F.round(F.col("s_acctbal") * 100).cast("long")
    supp = (t["supplier"].join(F.broadcast(eur),
                               F.col("s_nationkey")
                               == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name",
                    bal_c.alias("bal_c")))
    srel = (t["lineitem"]
            .select("l_partkey", "l_suppkey").distinct())
    parts = (t["part"]
             .filter((F.col("p_size") == 15)
                     & (F.col("p_type") == "STANDARD"))
             .select("p_partkey", "p_name"))
    cand = (srel.join(F.broadcast(parts),
                      F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey")))
    min_bal = F.min("bal_c").over(Window.partitionBy("p_partkey"))
    return (cand.withColumn("min_bal", min_bal)
            .filter(F.col("bal_c") == F.col("min_bal"))
            .select((F.col("bal_c").cast("double") / 100.0)
                    .alias("s_acctbal"),
                    "s_name", "n_name", "p_partkey", "p_name")
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name",
                     "p_partkey")
            .limit(100))


_SQL_TPCH_Q2 = """
WITH eur AS (
  SELECT n_nationkey, n_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), supp AS (
  SELECT s_suppkey, s_name, n_name,
         CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c
  FROM supplier JOIN eur ON s_nationkey = n_nationkey
), srel AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), parts AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_size = 15 AND p_type = 'STANDARD'
), cand AS (
  SELECT p_partkey, p_name, s_name, n_name, bal_c
  FROM srel
  JOIN parts ON l_partkey = p_partkey
  JOIN supp  ON l_suppkey = s_suppkey
), mc AS (
  SELECT p_partkey AS mp, MIN(bal_c) AS min_bal FROM cand GROUP BY 1
)
SELECT CAST(bal_c AS DOUBLE) / 100.0 AS s_acctbal,
       s_name, n_name, p_partkey, p_name
FROM cand JOIN mc ON p_partkey = mp AND bal_c = min_bal
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot DIFF: what changed between changelog instant T1
    (mid-initial-snapshot — keys <= 500 loaded) and the final state —
    every key classified inserted / updated / deleted with its old
    and new images. The audit query behind every incremental
    publish: both states reconstruct with the same latest-wins rank
    used by cdc_snapshot_at, then ONE full-outer join on the key
    classifies; all three classes are non-empty at every SF by
    construction of the deterministic envelope (sources/cdc.py)."""
    from .sources.cdc import orders_cdc_envelope

    # r13: spread (guide §2.5) — envelope build is scan-stage compute
    env = orders_cdc_envelope(spark, sf_dir, spread=True).drop("__phase")
    key = F.coalesce(F.col("after.o_orderkey"),
                     F.col("before.o_orderkey"))
    # r12 (§2.3 aggregate before you shuffle, §2.4 fewer passes): both
    # snapshots fold into ONE hash aggregate over the envelope. The old
    # shape ranked the envelope TWICE (two full window exchanges + sorts,
    # six scans of orders through the 3-way union envelope) and stitched
    # the snapshots with a full-outer join — a third key exchange. The
    # latest-wins winner under (ts_ms DESC, lsn DESC) is exactly
    # max(struct(ts_ms, lsn, ...)) — struct comparison is lexicographic
    # and ts_ms is unique within a key by envelope construction (phase
    # base 1e9/2e9/3e9 + key) — so one partial-aggregating groupBy
    # carries the T1-bounded winner (a conditional max) and the final
    # winner in the same pass: 3 exchanges + 2 sorts -> 1 exchange.
    # A snapshot omits the key when its winner is a delete (the old
    # rn==1 & op!='d' filter) or, for T1, when no row exists yet; a key
    # absent from BOTH snapshots produced no full-outer row before, so
    # the both-absent case maps to change=NULL and is filtered the same.
    rec = F.struct(F.col("ts_ms"),
                   F.col("source.lsn").alias("lsn"),
                   F.col("op"),
                   F.col("after.o_totalprice").alias("price"),
                   F.col("after.order_month").alias("month"))
    agg = (env.withColumn("_key", key)
           .groupBy("_key")
           .agg(F.max(F.when(F.col("ts_ms") <= 1_000_000_500, rec))
                .alias("w1"),
                F.max(rec).alias("w2")))
    a_abs = F.col("w1").isNull() | (F.col("w1.op") == "d")
    b_abs = F.col("w2.op") == "d"
    price_old = F.when(~a_abs, F.col("w1.price"))
    month_old = F.when(~a_abs, F.col("w1.month"))
    price_new = F.when(~b_abs, F.col("w2.price"))
    month_new = F.when(~b_abs, F.col("w2.month"))
    change = (F.when(a_abs & b_abs, F.lit(None).cast("string"))
              .when(a_abs, "inserted")
              .when(b_abs, "deleted")
              .when((price_old != price_new)
                    | (month_old != month_new),
                    "updated"))
    return (agg.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(F.col("_key").alias("o_orderkey"),
                    "change",
                    price_old.alias("price_old"),
                    price_new.alias("price_new"),
                    month_old.alias("month_old"),
                    month_new.alias("month_new"))
            .orderBy("o_orderkey"))


_SQL_CDC_SNAPSHOT_DIFF = """
WITH s1 AS (
  SELECT o_orderkey AS k, o_totalprice AS price,
         strftime(o_orderdate, '%Y-%m') AS month
  FROM orders WHERE 1000000000 + o_orderkey <= 1000000500
), s2 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 IN (1, 2)
              THEN o_totalprice * 1.1 ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 10 IN (1, 2)
              THEN strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m')
              ELSE strftime(o_orderdate, '%Y-%m') END AS month
  FROM orders WHERE o_orderkey % 10 <> 0
), j AS (
  SELECT COALESCE(s1.k, s2.k) AS o_orderkey,
         CASE WHEN s1.k IS NULL THEN 'inserted'
              WHEN s2.k IS NULL THEN 'deleted'
              WHEN s1.price <> s2.price OR s1.month <> s2.month
                   THEN 'updated' END AS change,
         s1.price AS price_old, s2.price AS price_new,
         s1.month AS month_old, s2.month AS month_new
  FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k
)
SELECT * FROM j WHERE change IS NOT NULL ORDER BY o_orderkey
"""


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon lag feature build — the feature-engineering pass
    every sequence model trains on: per user, the previous 3 values,
    the trailing-5 mean, and the gap to the previous event, in ONE
    window pass ordered by (ts, event_id). The trailing mean divides
    the exact long window sum of value-cents by the window count —
    both engines perform the identical correctly-rounded division, so
    even the float feature hash-matches. One shuffle total; rows
    stream through the window buffer (bounded at 5 rows/key)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_id",
                  F.unix_micros("ts").alias("ts_us"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("v_c")))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w5 = w.rowsBetween(-4, Window.currentRow)
    return (ev
            .withColumn("lag1_c", F.lag("v_c", 1).over(w))
            .withColumn("lag2_c", F.lag("v_c", 2).over(w))
            .withColumn("lag3_c", F.lag("v_c", 3).over(w))
            .withColumn("gap_us",
                        F.col("ts_us") - F.lag("ts_us", 1).over(w))
            .withColumn("mean5",
                        F.sum("v_c").over(w5).cast("double")
                        / F.count(F.lit(1)).over(w5).cast("double")
                        / 100.0)
            .select("user_id", "event_id", "ts_us",
                    (F.col("v_c").cast("double") / 100.0)
                    .alias("value"),
                    (F.col("lag1_c").cast("double") / 100.0)
                    .alias("lag1"),
                    (F.col("lag2_c").cast("double") / 100.0)
                    .alias("lag2"),
                    (F.col("lag3_c").cast("double") / 100.0)
                    .alias("lag3"),
                    "gap_us", "mean5")
            .orderBy("user_id", "ts_us", "event_id"))


_SQL_LAG_FEATURES = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
)
SELECT user_id, event_id, ts_us,
       CAST(v_c AS DOUBLE) / 100.0 AS value,
       CAST(lag(v_c, 1) OVER w AS DOUBLE) / 100.0 AS lag1,
       CAST(lag(v_c, 2) OVER w AS DOUBLE) / 100.0 AS lag2,
       CAST(lag(v_c, 3) OVER w AS DOUBLE) / 100.0 AS lag3,
       ts_us - lag(ts_us, 1) OVER w AS gap_us,
       CAST(SUM(v_c) OVER w5 AS DOUBLE)
       / CAST(COUNT(*) OVER w5 AS DOUBLE) / 100.0 AS mean5
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id),
       w5 AS (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts_us, event_id
"""


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical column — the
    standard leakage-safe categorical feature: each event's
    event_type encodes as the mean purchase-ish value of all OTHER
    rows of that type, (sum_cat - v) / (n_cat - 1). Category sums are
    WINDOW aggregates over the category partition, so one shuffle on
    the category key and no join-back; the subtraction stays in exact
    cents and only the final division rounds. Singleton categories
    yield NULL (nothing to borrow) via the null-guarded divisor."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "event_type", "value"))
    return target_encode_frame(ev)


def target_encode_frame(ev: DataFrame) -> DataFrame:
    """LOO-encoding plan over an (event_id, event_type, value) frame —
    q_target_encode_loo body; tests inject hand-built frames here so
    they exercise the production plan."""
    base = ev.select("event_id", "event_type",
                     F.round(F.col("value") * 100).cast("long")
                     .alias("v_c"))
    w = Window.partitionBy("event_type")
    sum_c = F.sum(F.col("v_c").cast("decimal(38,0)")).over(w)
    n = F.count(F.lit(1)).over(w)
    loo = ((sum_c - F.col("v_c")).cast("double")
           / F.nullif((n - 1).cast("double"), F.lit(0.0)) / 100.0)
    return (base.select("event_id", "event_type",
                        (F.col("v_c").cast("double") / 100.0)
                        .alias("value"),
                        loo.alias("loo_mean"))
            .orderBy("event_id"))


_SQL_TARGET_ENCODE_LOO = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
)
SELECT event_id, event_type,
       CAST(v_c AS DOUBLE) / 100.0 AS value,
       CAST(SUM(v_c) OVER w - v_c AS DOUBLE)
       / NULLIF(CAST(COUNT(*) OVER w - 1 AS DOUBLE), 0.0) / 100.0
       AS loo_mean
FROM ev
WINDOW w AS (PARTITION BY event_type)
ORDER BY event_id
"""


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain rollup CASCADE: daily revenue aggregates once from
    the fact stream, weekly (7-day epoch bucket) rolls up FROM THE
    DAILY frame, and the 4-weekly period (28-day bucket = week div 4)
    FROM THE WEEKLY frame — the warehouse pattern where each coarser
    grain reads the previous rollup, never the facts (at 100 TB the
    fact scan happens exactly once; the cascade's inputs shrink ~7x
    then ~4x). The grains NEST EXACTLY (day ⊂ 7-day week ⊂ 28-day
    period; a calendar month would NOT nest in weeks — 7 does not
    divide 30 — which is why retail reporting uses 4-week periods),
    so no revenue is ever attributed across a coarser boundary.
    Output: the period grain with the day/week counts that fed it —
    provable conservation across grains."""
    orders = load_table(spark, sf_dir, "orders")
    price_c = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (orders.groupBy(_day("o_orderdate").alias("day"))
             .agg(F.sum(price_c.cast("decimal(38,0)")).alias("rev_c"),
                  F.count(F.lit(1)).alias("n_orders")))
    weekly = (daily.groupBy(F.expr("day div 7").alias("week"))
              .agg(F.sum("rev_c").alias("rev_c"),
                   F.sum("n_orders").alias("n_orders"),
                   F.count(F.lit(1)).alias("n_days")))
    period = (weekly.groupBy(F.expr("week div 4").alias("period4w"))
              .agg(F.sum("rev_c").alias("rev_c"),
                   F.sum("n_orders").alias("n_orders"),
                   F.sum("n_days").alias("n_days"),
                   F.count(F.lit(1)).alias("n_weeks")))
    return (period.select(
        "period4w",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        "n_orders", "n_days", "n_weeks")
        .orderBy("period4w"))


_SQL_ROLLUP_CASCADE = """
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
), weekly AS (
  SELECT day // 7 AS week, SUM(rev_c) AS rev_c,
         CAST(SUM(n_orders) AS BIGINT) AS n_orders,
         COUNT(*) AS n_days
  FROM daily GROUP BY 1
), period AS (
  SELECT week // 4 AS period4w, SUM(rev_c) AS rev_c,
         CAST(SUM(n_orders) AS BIGINT) AS n_orders,
         CAST(SUM(n_days) AS BIGINT) AS n_days,
         COUNT(*) AS n_weeks
  FROM weekly GROUP BY 1
)
SELECT period4w, CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       n_orders, n_days, n_weeks
FROM period ORDER BY period4w
"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence census of event_type x market segment:
    the full contingency table with observed count, expected count
    under independence, and the per-cell chi-square contribution
    (o-e)^2/e. The heavy work is ONE distributed hash-agg over the
    events-customer join; the marginals are window sums over the
    resulting <=25-cell frame, so no second pass over the data.
    Expected counts form as exact integer products (decimal(38,0))
    with a single correctly-rounded double division, and each cell's
    contribution uses only exactly-rounded IEEE ops — per-cell rows
    instead of one float total, so no order-dependent summation can
    break the oracle hash."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    cells = (events.select("user_id", "event_type")
             .join(cust.select("c_custkey", "c_mktsegment"),
                   F.col("user_id") == F.col("c_custkey"))
             .groupBy("event_type",
                      F.col("c_mktsegment").alias("mktsegment"))
             .agg(F.count(F.lit(1)).alias("observed")))
    w_all = Window.partitionBy()
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("mktsegment")
    # widen BEFORE the product: rt*ct in long wraps past 2^63 once the
    # marginals reach ~3e9 (a day of 100 TB events); decimal(19)x
    # decimal(19) stays exact in decimal(38), matching the oracle's
    # HUGEINT product.
    rt = F.sum("observed").over(w_row).cast("decimal(19,0)")
    ct = F.sum("observed").over(w_col).cast("decimal(19,0)")
    n = F.sum("observed").over(w_all)
    e = (rt * ct).cast("double") / n.cast("double")
    out = (cells
           .withColumn("expected", e)
           .withColumn("contrib",
                       (F.col("observed") - F.col("expected"))
                       * (F.col("observed") - F.col("expected"))
                       / F.col("expected")))
    return out.orderBy("event_type", "mktsegment")


_SQL_CHI2_INDEPENDENCE = """
WITH cells AS (
  SELECT event_type, c_mktsegment AS mktsegment, COUNT(*) AS observed
  FROM events JOIN customer ON user_id = c_custkey
  GROUP BY 1, 2
), m AS (
  SELECT event_type, mktsegment, observed,
         SUM(observed) OVER (PARTITION BY event_type) AS rt,
         SUM(observed) OVER (PARTITION BY mktsegment) AS ct,
         SUM(observed) OVER () AS n
  FROM cells
)
SELECT event_type, mktsegment, observed,
       CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
       (observed - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
       * (observed - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) AS contrib
FROM m ORDER BY event_type, mktsegment
"""


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation matrix of the four lineitem measures
    (quantity, extendedprice, discount, tax), per returnflag. All 15
    moments (n, 4 sums, 4 sums-of-squares, 6 cross-products)
    accumulate in ONE hash-agg pass as decimal(38,0) integers on the
    cents/basis-point grid; each r is then
    (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2)) —
    exact integers into three correctly-rounded double conversions,
    one sqrt each (sqrt IS exactly rounded in IEEE754), so every
    coefficient hash-matches the oracle bit-for-bit. Single scan,
    no shuffle beyond the 3-group partial/final agg.

    r13: ``spread=True`` — the 15 decimal-buffer moment sums are the
    heaviest scan-stage compute in the registry, and the single-row-
    group testdata layout ran them on ONE task (guide §2.5
    unsplittable input; no-op on a production layout). Measured
    2.27 -> 1.32 s isolated."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    d38 = "decimal(38,0)"
    meas = {
        "q": F.round(F.col("l_quantity")).cast("long"),
        "p": F.round(F.col("l_extendedprice") * 100).cast("long"),
        "d": F.round(F.col("l_discount") * 100).cast("long"),
        "t": F.round(F.col("l_tax") * 100).cast("long"),
    }
    base = li.select("l_returnflag",
                     *[v.alias(k) for k, v in meas.items()])
    keys = list(meas)
    aggs = [F.count(F.lit(1)).alias("n")]
    for k in keys:
        aggs.append(F.sum(F.col(k).cast(d38)).alias(f"s_{k}"))
    for i, a in enumerate(keys):
        for b in keys[i:]:
            aggs.append(F.sum((F.col(a) * F.col(b)).cast(d38))
                        .alias(f"s_{a}{b}"))
    m = base.groupBy("l_returnflag").agg(*aggs)

    def _r(a: str, b: str):
        num = (F.col("n") * F.col(f"s_{a}{b}")
               - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        va = (F.col("n") * F.col(f"s_{a}{a}")
              - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
        vb = (F.col("n") * F.col(f"s_{b}{b}")
              - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
        return num / (F.sqrt(va) * F.sqrt(vb))

    pairs = [(a, b) for i, a in enumerate(keys) for b in keys[i + 1:]]
    return (m.select("l_returnflag",
                     *[_r(a, b).alias(f"r_{a}{b}") for a, b in pairs])
            .orderBy("l_returnflag"))


_SQL_CORR_MATRIX = """
WITH b AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT)            AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(round(l_discount * 100) AS BIGINT)      AS d,
         CAST(round(l_tax * 100) AS BIGINT)           AS t
  FROM lineitem
), m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(q) AS s_q, SUM(p) AS s_p, SUM(d) AS s_d, SUM(t) AS s_t,
         SUM(q*q) AS s_qq, SUM(q*p) AS s_qp, SUM(q*d) AS s_qd,
         SUM(q*t) AS s_qt, SUM(p*p) AS s_pp, SUM(p*d) AS s_pd,
         SUM(p*t) AS s_pt, SUM(d*d) AS s_dd, SUM(d*t) AS s_dt,
         SUM(t*t) AS s_tt
  FROM b GROUP BY 1
)
SELECT l_returnflag,
  CAST(n*s_qp - s_q*s_p AS DOUBLE)
    / (sqrt(CAST(n*s_qq - s_q*s_q AS DOUBLE))
       * sqrt(CAST(n*s_pp - s_p*s_p AS DOUBLE))) AS r_qp,
  CAST(n*s_qd - s_q*s_d AS DOUBLE)
    / (sqrt(CAST(n*s_qq - s_q*s_q AS DOUBLE))
       * sqrt(CAST(n*s_dd - s_d*s_d AS DOUBLE))) AS r_qd,
  CAST(n*s_qt - s_q*s_t AS DOUBLE)
    / (sqrt(CAST(n*s_qq - s_q*s_q AS DOUBLE))
       * sqrt(CAST(n*s_tt - s_t*s_t AS DOUBLE))) AS r_qt,
  CAST(n*s_pd - s_p*s_d AS DOUBLE)
    / (sqrt(CAST(n*s_pp - s_p*s_p AS DOUBLE))
       * sqrt(CAST(n*s_dd - s_d*s_d AS DOUBLE))) AS r_pd,
  CAST(n*s_pt - s_p*s_t AS DOUBLE)
    / (sqrt(CAST(n*s_pp - s_p*s_p AS DOUBLE))
       * sqrt(CAST(n*s_tt - s_t*s_t AS DOUBLE))) AS r_pt,
  CAST(n*s_dt - s_d*s_t AS DOUBLE)
    / (sqrt(CAST(n*s_dd - s_d*s_d AS DOUBLE))
       * sqrt(CAST(n*s_tt - s_t*s_t AS DOUBLE))) AS r_dt
FROM m ORDER BY l_returnflag
"""


def q_golden_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge ('golden record') per user from the event
    stream: event count, first/last seen instants, the LAST NON-NULL
    value (error events carry no trustworthy value — the classic
    most-recent-valid survivorship rule, tie-broken by event_id), and
    the MODAL event type (highest frequency, alphabetical
    tie-break). Three per-user aggregates — plain agg, ranked-keep
    dedup, mode-by-window — all riding the SAME user_id shuffle, so
    the joins that assemble the golden record are co-partitioned;
    users whose every event is an error keep a NULL last_value via
    the left join."""
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type", "value",
                  F.unix_micros("ts").alias("ts_us")))
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"))
    lv = (ranked_keep_first(ev.filter(F.col("event_type") != "error"),
                            ["user_id"],
                            [F.col("ts_us").desc(),
                             F.col("event_id").desc()])
          .select("user_id", F.col("value").alias("last_value")))
    md = (ev.groupBy("user_id", "event_type")
          .agg(F.count(F.lit(1)).alias("cnt")))
    md = (ranked_keep_first(md, ["user_id"],
                            [F.col("cnt").desc(),
                             F.col("event_type").asc()])
          .select("user_id", F.col("event_type").alias("modal_type")))
    return (base.join(lv, "user_id", "left").join(md, "user_id")
            .orderBy("user_id"))


_SQL_GOLDEN_PROFILE = """
WITH ev AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
  FROM events
), base AS (
  SELECT user_id, COUNT(*) AS n_events,
         MIN(ts_us) AS first_us, MAX(ts_us) AS last_us
  FROM ev GROUP BY 1
), lv AS (
  SELECT user_id, value AS last_value FROM (
    SELECT user_id, value, row_number() OVER (
        PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM ev WHERE event_type <> 'error') WHERE rn = 1
), md AS (
  SELECT user_id, event_type AS modal_type FROM (
    SELECT user_id, event_type, row_number() OVER (
        PARTITION BY user_id
        ORDER BY COUNT(*) DESC, event_type) AS rn
    FROM ev GROUP BY 1, 2) WHERE rn = 1
)
SELECT base.user_id, n_events, first_us, last_us, last_value, modal_type
FROM base LEFT JOIN lv USING (user_id) JOIN md USING (user_id)
ORDER BY user_id
"""


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for every order, the customer's first event
    at or after the order instant (asof_attribution is the backward
    twin). Spark-first distributed pattern: union-tag orders and
    events on the user key, sort each user partition once by
    (instant, tag) — orders sort BEFORE same-instant events so '>='
    holds — and take min(struct(ts, event_id)) over the
    current-to-end frame; the struct min resolves same-instant ties
    to the smallest event_id with no self-join and ONE shuffle total.
    Orders whose customer never acts again drop (inner semantics)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", F.unix_micros("ts").alias("us"),
                  "event_id"))
    orders = (load_table(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("user_id"),
                      F.unix_micros("o_orderdate").alias("us"),
                      "o_orderkey"))
    return asof_forward_frame(ev, orders)


def asof_forward_frame(ev: DataFrame, orders: DataFrame) -> DataFrame:
    """Forward as-of plan over (user_id, us, event_id) events and
    (user_id, us, o_orderkey) probes — q_asof_forward body; tests
    inject hand-built sequences here so they exercise the production
    plan, not a copy."""
    ev = ev.select("user_id", "us", F.lit(1).alias("tag"),
                   F.lit(None).cast("long").alias("o_orderkey"),
                   F.struct(F.col("us").alias("e_us"),
                            "event_id").alias("evt"))
    orders = orders.select(
        "user_id", "us", F.lit(0).alias("tag"), "o_orderkey",
        F.lit(None).cast("struct<e_us:long,event_id:long>")
        .alias("evt"))
    w = (Window.partitionBy("user_id")
         .orderBy("us", "tag", "o_orderkey", F.col("evt.event_id"))
         .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    tagged = orders.unionByName(ev).withColumn("nxt", F.min("evt").over(w))
    return (tagged.filter((F.col("tag") == 0)
                          & F.col("nxt").isNotNull())
            .select("o_orderkey", F.col("us").alias("order_us"),
                    F.col("nxt.e_us").alias("next_us"),
                    F.col("nxt.event_id").alias("next_event_id"))
            .orderBy("o_orderkey"))


_SQL_ASOF_FORWARD = """
WITH j AS (
  SELECT o_orderkey, epoch_us(o_orderdate) AS order_us,
         epoch_us(ts) AS e_us, event_id
  FROM orders JOIN events
    ON user_id = o_custkey AND ts >= o_orderdate
), m AS (
  SELECT o_orderkey, MIN(e_us) AS next_us FROM j GROUP BY 1
)
SELECT j.o_orderkey, order_us, next_us,
       MIN(event_id) AS next_event_id
FROM j JOIN m ON j.o_orderkey = m.o_orderkey AND j.e_us = m.next_us
GROUP BY 1, 2, 3 ORDER BY j.o_orderkey
"""


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift (gains chart): customers ranked into balance
    deciles, each decile's order revenue and cumulative revenue
    share. No single-partition window at ANY cardinality: per-balance
    counts aggregate first, their cumulative offsets come from
    ``partitioned_prefix_sum`` (operators/ranking.py — range shuffle
    over the distinct-balance frame, per-partition prefix sums, P-row
    offsets fold), and the within-balance tie-break (row_number by
    custkey) is a window PARTITIONED by balance. decile =
    (rank-1)*10 div n + 1 (even remainder spread; the oracle uses
    the identical formula, so no engine-specific ntile semantics).
    Customers with no orders count with zero revenue."""
    from .operators.ranking import partitioned_prefix_sum

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                      .cast("long").cast("decimal(38,0)"))
                .alias("rev_c")))
    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    base = (cust.select("c_custkey", bal_c.alias("bal_c"))
            .join(rev, F.col("c_custkey") == F.col("o_custkey"),
                  "left")
            .withColumn("rev_c",
                        F.coalesce("rev_c",
                                   F.lit(0).cast("decimal(38,0)"))))
    counts = base.groupBy("bal_c").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = (partitioned_prefix_sum(counts, [F.desc("bal_c")], "cnt",
                                      "before", exclusive=True)
               .withColumnRenamed("_grand_total", "n_total"))
    w_tie = Window.partitionBy("bal_c").orderBy("c_custkey")
    ranked = (base.join(offsets.select("bal_c", "before", "n_total"),
                        "bal_c")
              .withColumn("rank",
                          F.col("before") + F.row_number().over(w_tie))
              .withColumn("decile",
                          F.expr("(rank - 1) * 10 div n_total") + 1))
    g = (ranked.groupBy("decile")
         .agg(F.count(F.lit(1)).alias("n_cust"),
              F.sum("rev_c").alias("rev_c")))
    w_cum = (Window.orderBy("decile")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy()
    return (g.withColumn("cum_c", F.sum("rev_c").over(w_cum))
            .withColumn("tot_c", F.sum("rev_c").over(w_all))
            .select("decile", "n_cust",
                    (F.col("rev_c").cast("double") / 100.0)
                    .alias("revenue"),
                    (F.col("cum_c").cast("double")
                     / F.col("tot_c").cast("double"))
                    .alias("cum_share"))
            .orderBy("decile"))


_SQL_DECILE_LIFT = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), ranked AS (
  SELECT c_custkey, COALESCE(rev_c, 0) AS rev_c,
         row_number() OVER (
             ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC,
                      c_custkey) AS rank,
         COUNT(*) OVER () AS n_total
  FROM customer LEFT JOIN rev ON c_custkey = o_custkey
), g AS (
  SELECT (rank - 1) * 10 // n_total + 1 AS decile,
         COUNT(*) AS n_cust, SUM(rev_c) AS rev_c
  FROM ranked GROUP BY 1
)
SELECT decile, n_cust, CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(rev_c) OVER (ORDER BY decile
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       / CAST(SUM(rev_c) OVER () AS DOUBLE) AS cum_share
FROM g ORDER BY decile
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-observation Pearson correlation between the daily
    click and purchase counts — rolling co-movement of two event
    series. One distributed hash-agg builds the daily (clicks,
    purchases) frame; the rolling moments are six exact long window
    sums over a ROWS 6-preceding frame on that small frame, and r
    finishes with the same exactly-rounded double recipe as
    corr_matrix — bit-stable, no float accumulation anywhere.
    Rows appear once 7 observed days are in frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type").isin("click", "purchase"))
             .groupBy(_day("ts").alias("day"))
             .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).alias("c"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("p")))
    w = (Window.orderBy("day")
         .rowsBetween(-6, Window.currentRow))
    # products and the n*sxy-sx*sy finisher widen to decimal: with
    # ~6e8-click days (100 TB events) c*c ~ 3.6e17 and 7*scp tops
    # 2^63 — long would wrap silently while the oracle's HUGEINT
    # stays exact. decimal(38,0) matches it.
    d19, d38 = "decimal(19,0)", "decimal(38,0)"
    cd, pd = F.col("c").cast(d19), F.col("p").cast(d19)
    n = F.count(F.lit(1)).over(w)
    sc = F.sum(F.col("c").cast(d38)).over(w)
    sp = F.sum(F.col("p").cast(d38)).over(w)
    scc = F.sum((cd * cd).cast(d38)).over(w)
    spp = F.sum((pd * pd).cast(d38)).over(w)
    scp = F.sum((cd * pd).cast(d38)).over(w)
    num = (n * scp - sc * sp).cast("double")
    vc = (n * scc - sc * sc).cast("double")
    vp = (n * spp - sp * sp).cast("double")
    return (daily
            .withColumn("n_days", n)
            .withColumn("r", num / (F.sqrt(vc) * F.sqrt(vp)))
            .filter(F.col("n_days") == 7)
            .select("day", "c", "p", "r")
            .orderBy("day"))


_SQL_ROLLING_CORR = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
), m AS (
  -- sums and products stay in HUGEINT (exact), mirroring the Spark
  -- side's decimal(38,0) widening; only the finisher rounds.
  SELECT day, c, p,
    COUNT(*)        OVER w AS n,
    SUM(c)          OVER w AS sc,
    SUM(p)          OVER w AS sp,
    SUM(c::HUGEINT * c) OVER w AS scc,
    SUM(p::HUGEINT * p) OVER w AS spp,
    SUM(c::HUGEINT * p) OVER w AS scp
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, c, p,
       CAST(n*scp - sc*sp AS DOUBLE)
       / (sqrt(CAST(n*scc - sc*sc AS DOUBLE))
          * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) AS r
FROM m WHERE n = 7 ORDER BY day
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test: users split into arms by the parity
    of the first md5 hex digit of their id (engine-portable
    deterministic hash — in production this is the experiment
    bucketing hash), conversion = purchases make up MORE than their
    uniform 1/5 share of the user's events (scale-free, exact
    integer compare — 'did this user over-index on purchasing').
    Per-user flags reduce on the user shuffle, the per-arm counts
    collapse to ONE row via conditional aggregation, and the pooled
    z-statistic is a fixed sequence of exactly-rounded double ops
    over exact integers — deterministic to the last bit. z is NULL
    when the pooled rate is degenerate (0 or 1: zero variance)."""
    ev = load_table(spark, sf_dir, "events")
    arm = (F.ascii(F.substring(F.md5(F.col("user_id")
                                     .cast("string")), 1, 1)) % 2)
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("np"),
                     F.count(F.lit(1)).alias("ne"))
                .select("user_id",
                        (F.col("np") * 5 > F.col("ne")).cast("int")
                        .alias("conv"))
                .withColumn("arm", arm))
    row = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))
              .otherwise(0)).alias("x0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))
              .otherwise(0)).alias("x1"))
    p0 = F.col("x0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    pp = ((F.col("x0") + F.col("x1")).cast("double")
          / (F.col("n0") + F.col("n1")).cast("double"))
    se = F.sqrt(pp * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n0").cast("double")
                   + F.lit(1.0) / F.col("n1").cast("double")))
    return row.select("n0", "n1", "x0", "x1",
                      p0.alias("p0"), p1.alias("p1"),
                      ((p0 - p1) / F.nullif(se, F.lit(0.0)))
                      .alias("z"))


_SQL_AB_TEST = """
WITH pu AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) * 5 > COUNT(*)
              THEN 1 ELSE 0 END AS conv,
         ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 AS arm
  FROM events GROUP BY 1
), g AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x0,
    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x1
  FROM pu
)
SELECT n0, n1, x0, x1,
       CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
       CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
       (CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
       / NULLIF(sqrt((CAST(x0 + x1 AS DOUBLE)
                      / CAST(n0 + n1 AS DOUBLE))
              * (1.0 - CAST(x0 + x1 AS DOUBLE)
                       / CAST(n0 + n1 AS DOUBLE))
              * (1.0 / CAST(n0 AS DOUBLE)
                 + 1.0 / CAST(n1 AS DOUBLE))), 0.0) AS z
FROM g
"""


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Symmetric distinct co-purchase edge list (src, dst) from a
    lineitem-shaped frame — the shared graph-extraction step of
    bfs_hops and degree_histogram (keep the twin SQL CTE in their
    oracles in sync with this)."""
    # r12 (§2.4 share one exchange): repartition by okey FIRST, so the
    # hashpartitioning(okey) both satisfies the (okey, part) distinct
    # (okey ⊆ the grouping key) and co-partitions BOTH self-join sides
    # — one exchange where the old distinct-then-join shape paid the
    # (okey, part) distinct exchange plus an okey exchange per join
    # input. Lineitem rarely repeats a part within an order, so the
    # lost map-side partial dedup moved ~no bytes anyway.
    base = (li.select(F.col("l_orderkey").alias("okey"),
                      F.col("l_partkey").alias("part"))
            .repartition("okey")
            .dropDuplicates(["okey", "part"]))
    pairs = (base.alias("a")
             .join(base.alias("b"),
                   (F.col("a.okey") == F.col("b.okey"))
                   & (F.col("a.part") < F.col("b.part")))
             .select(F.col("a.part").alias("src"),
                     F.col("b.part").alias("dst"))
             .distinct())
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst")))


def bfs_hops_frame(li: DataFrame, max_hops: int = 3) -> DataFrame:
    """BFS plan over a lineitem-shaped frame (q_bfs_hops body; tests
    inject hand-built graphs here so they exercise the production
    plan, not a copy). The edge list MUST be persisted: every
    frontier round references both the frontier and the accumulated
    visited set, so the unpersisted plan tree embeds the edge
    self-join ~2^hops times — measured as an executor OOM at sf0.1
    under a 1 GiB heap. The persist is LRU-evictable and the bench
    harness clears the cache between query sweeps, so no state
    outlives the measurement.

    The cached edge list is hash-partitioned by src (r12): the
    symmetrizing union in copurchase_edges destroys partitioning, so
    an unpartitioned cache re-shuffled the full |E| frame at every
    frontier-expansion join — one |E| exchange per hop. Partitioned
    once, each hop moves only the frontier; set semantics make the
    result partition-invariant."""
    edges = copurchase_edges(li).repartition("src").persist()
    src0 = edges.agg(F.min("src").alias("node"))
    visited = src0.withColumn("hops", F.lit(0)).persist()
    frontier = visited.select("node")
    rounds = [visited]
    for h in range(1, max_hops + 1):
        # persist each round's frontier too: it is referenced by the
        # next round's expansion AND by every later round's visited
        # anti-join — unpersisted, those references re-execute the
        # whole prior cascade (2^hops blow-up, the same pathology as
        # the edge list). ONLY the per-round frontiers are cached;
        # the visited set is rebuilt as a union of the cached rounds,
        # so no row is cached twice.
        nxt = (frontier.join(edges,
                             F.col("node") == F.col("src"))
               .select(F.col("dst").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("hops", F.lit(h)).persist())
        rounds.append(nxt)
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.orderBy("node")


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first search (3 hops) over the co-purchase
    graph from the smallest part key: shortest hop count per
    reachable part. Distributed frontier expansion — each round joins
    ONLY the new frontier against the edge list (shuffle keyed on the
    node), dedups, and anti-joins the visited set, so per-round work
    is O(frontier boundary), not O(paths); the depth bound makes the
    loop a fixed 3-stage lazy plan with no driver data movement.
    The oracle replays it as a recursive CTE with UNION dedup."""
    return bfs_hops_frame(load_table(spark, sf_dir, "lineitem"))


_SQL_BFS_HOPS = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), pairs AS (
  SELECT DISTINCT a.part AS src, b.part AS dst
  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
), edges AS (
  SELECT src, dst FROM pairs
  UNION ALL SELECT dst, src FROM pairs
), walk(node, hop) AS (
  SELECT (SELECT MIN(src) FROM edges), 0
  UNION
  SELECT e.dst, w.hop + 1
  FROM walk w JOIN edges e ON e.src = w.node WHERE w.hop < 3
)
SELECT node, CAST(MIN(hop) AS INT) AS hops
FROM walk GROUP BY 1 ORDER BY 1
"""


def seq_pattern_frame(ev: DataFrame) -> DataFrame:
    """Lag-chain pattern plan over a (user_id, event_id, event_type,
    ts_us) frame — q_seq_pattern_detect body; tests inject hand-built
    sequences here so they exercise the production plan."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    out = (ev
           .withColumn("t1", F.lag("event_type", 1).over(w))
           .withColumn("t2", F.lag("event_type", 2).over(w))
           .withColumn("t3", F.lag("event_type", 3).over(w))
           .filter((F.col("event_type") == "purchase")
                   & (F.col("t1") == "click")
                   & (F.col("t2") == "click")
                   & (F.col("t3") == "click")))
    return (out.select("user_id", "event_id", "ts_us")
            .orderBy("user_id", "ts_us", "event_id"))


def q_seq_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection (MATCH_RECOGNIZE-style): purchases
    immediately preceded by >= 3 consecutive clicks in the user's
    event sequence — the 'browse burst converts' motif. One window
    pass per user ordered by (ts, event_id) with a lag-3 chain; no
    self-joins, no state beyond the 3-row lag buffer, so the plan is
    a single user-keyed sort — the streaming-safe way to run regexes
    over ordered event sequences at 100 TB."""
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("ts_us")))
    return seq_pattern_frame(ev)


_SQL_SEQ_PATTERN_DETECT = """
SELECT user_id, event_id, ts_us FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         lag(event_type, 1) OVER w AS t1,
         lag(event_type, 2) OVER w AS t2,
         lag(event_type, 3) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
WHERE event_type = 'purchase'
  AND t1 = 'click' AND t2 = 'click' AND t3 = 'click'
ORDER BY user_id, ts_us, event_id
"""


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event temporal join, completing the as-of family
    (asof_attribution = backward, asof_forward = forward): for every
    order, the customer's closest event in time on either side,
    ties (equidistant before/after) to the EARLIER event, then the
    smaller event_id. One union-tagged sort per user yields BOTH
    candidates — max(struct) over the preceding frame and min(struct)
    over the following frame — and a null-safe least-distance pick
    finishes per row; no self-join, ONE shuffle, the same pattern
    that scales the other two as-ofs to 100 TB."""
    # the before-side candidate is a MAX over structs, so same-instant
    # ties need an inverted id field (neg_id) to resolve to the
    # SMALLEST event_id like the oracle's event_id ASC; the third
    # field just carries the id back out.
    ev = (load_table(spark, sf_dir, "events")
          .select(F.col("user_id"),
                  F.unix_micros("ts").alias("us"),
                  F.lit(1).alias("tag"),
                  F.lit(None).cast("long").alias("o_orderkey"),
                  F.struct(F.unix_micros("ts").alias("e_us"),
                           (-F.col("event_id")).alias("neg_id"),
                           "event_id").alias("evt_b"),
                  F.struct(F.unix_micros("ts").alias("e_us"),
                           "event_id").alias("evt_a")))
    orders = (load_table(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("user_id"),
                      F.unix_micros("o_orderdate").alias("us"),
                      F.lit(2).alias("tag"),
                      "o_orderkey",
                      F.lit(None).cast(
                          "struct<e_us:long,neg_id:long,event_id:long>")
                      .alias("evt_b"),
                      F.lit(None).cast(
                          "struct<e_us:long,event_id:long>")
                      .alias("evt_a")))
    # events sort BEFORE same-instant orders (tag 1 < 2) so an
    # equal-instant event is in the PRECEDING frame: distance 0 on
    # the "before" side wins the earlier-event tie-break naturally.
    w_before = (Window.partitionBy("user_id")
                .orderBy("us", "tag", F.col("evt_a.event_id"))
                .rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))
    w_after = (Window.partitionBy("user_id")
               .orderBy("us", "tag", F.col("evt_a.event_id"))
               .rowsBetween(Window.currentRow,
                            Window.unboundedFollowing))
    tagged = (ev.unionByName(orders)
              .withColumn("prev", F.max("evt_b").over(w_before))
              .withColumn("nxt", F.min("evt_a").over(w_after)))
    o = (tagged.filter(F.col("tag") == 2)
         .withColumn("prev",
                     F.when(F.col("prev").isNotNull(),
                            F.struct(F.col("prev.e_us").alias("e_us"),
                                     F.col("prev.event_id")
                                     .alias("event_id")))))
    d_prev = F.col("us") - F.col("prev.e_us")
    d_next = F.col("nxt.e_us") - F.col("us")
    pick_prev = (F.col("nxt").isNull()
                 | (F.col("prev").isNotNull() & (d_prev <= d_next)))
    picked = o.withColumn(
        "nearest", F.when(pick_prev, F.col("prev"))
        .otherwise(F.col("nxt")))
    return (picked.filter(F.col("nearest").isNotNull())
            .select("o_orderkey", F.col("us").alias("order_us"),
                    F.col("nearest.e_us").alias("event_us"),
                    F.col("nearest.event_id").alias("event_id"),
                    F.abs(F.col("nearest.e_us") - F.col("us"))
                    .alias("dist_us"))
            .orderBy("o_orderkey"))


_SQL_ASOF_NEAREST = """
WITH o AS (
  SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS order_us
  FROM orders
), e AS (
  SELECT user_id, event_id, epoch_us(ts) AS e_us FROM events
), cand AS (
  SELECT o_orderkey, order_us, e_us, event_id,
         abs(e_us - order_us) AS dist_us,
         row_number() OVER (
             PARTITION BY o_orderkey
             ORDER BY abs(e_us - order_us),
                      e_us, event_id) AS rn
  FROM o JOIN e ON user_id = o_custkey
)
SELECT o_orderkey, order_us, e_us AS event_us, event_id, dist_us
FROM cand WHERE rn = 1 ORDER BY o_orderkey
"""


def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy report (region > nation): each
    nation's revenue with its share of the parent region and of the
    grand total — the drill-down ratio columns every OLAP frontend
    derives. The fact stream aggregates ONCE on (region, nation);
    both shares are window sums over the tiny aggregate, and each
    ratio is a single correctly-rounded division of exact integer
    cents, so the percentages hash-match the oracle."""
    t = load_tables(spark, sf_dir,
                    ("orders", "customer", "nation", "region"))
    price_c = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (star_join(t, region=True)
         .groupBy(F.col("r_name").alias("region"),
                  F.col("n_name").alias("nation"))
         .agg(F.sum(price_c.cast("decimal(38,0)")).alias("rev_c")))
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return (g.select(
        "region", "nation",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        (F.col("rev_c").cast("double")
         / F.sum("rev_c").over(w_reg).cast("double"))
        .alias("share_of_region"),
        (F.col("rev_c").cast("double")
         / F.sum("rev_c").over(w_all).cast("double"))
        .alias("share_of_total"))
        .orderBy("region", "nation"))


_SQL_SHARE_OF_PARENT = """
WITH g AS (
  SELECT r_name AS region, n_name AS nation,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
       CAST(rev_c AS DOUBLE)
       / CAST(SUM(rev_c) OVER (PARTITION BY region) AS DOUBLE)
       AS share_of_region,
       CAST(rev_c AS DOUBLE)
       / CAST(SUM(rev_c) OVER () AS DOUBLE) AS share_of_total
FROM g ORDER BY region, nation
"""


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: for each degree,
    how many parts have exactly that many distinct co-purchase
    partners — the first graph-health report before any traversal
    (skew here predicts hot keys in every downstream graph shuffle).
    Distinct pair extraction rides the orderkey self-join, degrees
    aggregate on the node key, and the histogram collapses over one
    row per node: each stage's shuffle shrinks by the fan-in."""
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).alias("n_parts"))
            .orderBy("degree"))


_SQL_DEGREE_HISTOGRAM = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), pairs AS (
  SELECT DISTINCT a.part AS src, b.part AS dst
  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
), edges AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
), deg AS (
  SELECT src, COUNT(*) AS degree FROM edges GROUP BY 1
)
SELECT degree, COUNT(*) AS n_parts FROM deg GROUP BY 1 ORDER BY 1
"""


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region revenue trend: closed-form OLS slope of daily revenue
    on the epoch-day index, computed entirely in exact integer moments
    (n·Σxy − Σx·Σy over n·Σx² − (Σx)²) with ONE double division at
    the end — no iterative fitting, no float accumulation, so the
    slope hash-matches the oracle. Two hash-aggs: (region, day) then
    region; the decimal(19)×decimal(19) cross-products stay exact in
    decimal(38)."""
    t = load_tables(spark, sf_dir,
                    ("orders", "customer", "nation", "region"))
    price_c = F.round(F.col("o_totalprice") * 100).cast("long")
    joined = (star_join(t, region=True)
              .select(F.col("r_name").alias("region"),
                      _day("o_orderdate").alias("day"),
                      price_c.alias("price_c")))
    daily = (joined.groupBy("region", "day")
             .agg(F.sum("price_c").alias("y_c")))
    d19 = "decimal(19,0)"
    m = daily.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("day").cast(d19)).alias("sx"),
        F.sum(F.col("y_c").cast(d19)).alias("sy"),
        F.sum((F.col("day") * F.col("y_c")).cast("decimal(38,0)"))
        .alias("sxy"),
        F.sum((F.col("day") * F.col("day")).cast("decimal(38,0)"))
        .alias("sxx"))
    num = (F.col("n").cast(d19) * F.col("sxy").cast(d19)
           - F.col("sx") * F.col("sy"))
    den = (F.col("n").cast(d19) * F.col("sxx").cast(d19)
           - F.col("sx") * F.col("sx"))
    return (m.select(
        "region", "n",
        (num.cast("double") / den.cast("double") / 100.0)
        .alias("slope_per_day"),
        (F.col("sx").cast("double") / F.col("n")).alias("avg_day"),
        (F.col("sy").cast("double") / 100.0 / F.col("n"))
        .alias("avg_daily_rev"))
        .orderBy("region"))


_SQL_OLS_TREND = """
WITH daily AS (
  SELECT r_name AS region,
         epoch_us(o_orderdate) // 86400000000 AS day,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS y_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
), m AS (
  SELECT region, COUNT(*) AS n,
         SUM(CAST(day AS HUGEINT)) AS sx,
         SUM(CAST(y_c AS HUGEINT)) AS sy,
         SUM(CAST(day AS HUGEINT) * CAST(y_c AS HUGEINT)) AS sxy,
         SUM(CAST(day AS HUGEINT) * CAST(day AS HUGEINT)) AS sxx
  FROM daily GROUP BY 1
)
SELECT region, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope_per_day,
       CAST(sx AS DOUBLE) / n AS avg_day,
       CAST(sy AS DOUBLE) / 100.0 / n AS avg_daily_rev
FROM m ORDER BY region
"""


def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic per event type: the range of the
    mean-centered cumulative sum over the (ts, event_id)-ordered value
    series, division-free until the end — the centered prefix is
    P_i = n·S_i − i·T (exact integers), so max−min and the argmax
    location are engine-replayable. One shuffle+sort (the prefix
    window) plus a broadcast of per-type totals; the change-point
    location is the first instant achieving max |P|, folded into the
    final aggregate as max(struct(|P|, −ts)) — no second window pass,
    no self-join."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_type", "event_id",
                     F.expr("unix_micros(ts)").alias("ts_us"),
                     vc.alias("v_c"))
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    d19 = "decimal(19,0)"
    tot = base.groupBy("event_type").agg(
        F.sum(F.col("v_c").cast(d19)).alias("t_sum"),
        F.count(F.lit(1)).alias("n"))
    pref = (base
            .withColumn("s", F.sum("v_c").over(w))
            .withColumn("i", F.row_number().over(w))
            .join(F.broadcast(tot), "event_type")
            .withColumn("p", F.col("n").cast(d19) * F.col("s").cast(d19)
                        - F.col("i").cast(d19) * F.col("t_sum")))
    # r12 (guide §2.4 fewer passes): p_max/p_min/p_abs_max used to be
    # three whole-partition windows (a second full-frame pass that
    # buffers every partition) feeding the final aggregate — but all
    # three ARE aggregates. max/min fold directly; the change-point
    # location folds as one argmax: max(struct(|p|, -ts)) picks the
    # largest |p| and, among ties, the largest -ts = the SMALLEST ts —
    # exactly the old min(ts where |p| = max|p|).
    arg = F.max(F.struct(F.abs(F.col("p")).alias("a"),
                         (-F.col("ts_us")).alias("nt")))
    return (pref.groupBy("event_type")
            .agg(F.max("n").alias("n"),
                 F.max("p").alias("_pmax"),
                 F.min("p").alias("_pmin"),
                 arg.alias("_arg"))
            .select("event_type", "n",
                    ((F.col("_pmax") - F.col("_pmin")).cast("double")
                     / F.col("n") / 100.0).alias("drift_range"),
                    (-F.col("_arg.nt")).alias("shift_ts_us"))
            .orderBy("event_type"))


_SQL_CUSUM_SHIFT = """
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
), pref AS (
  SELECT event_type, event_id, ts_us,
         SUM(v_c) OVER (PARTITION BY event_type
                        ORDER BY ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS s,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts_us, event_id) AS i,
         SUM(v_c) OVER (PARTITION BY event_type) AS t_sum,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
), p AS (
  SELECT event_type, ts_us, n,
         CAST(n AS HUGEINT) * CAST(s AS HUGEINT)
         - CAST(i AS HUGEINT) * CAST(t_sum AS HUGEINT) AS p
  FROM pref
), marked AS (
  SELECT event_type, ts_us, n, p,
         MAX(p) OVER (PARTITION BY event_type) AS p_max,
         MIN(p) OVER (PARTITION BY event_type) AS p_min,
         MAX(abs(p)) OVER (PARTITION BY event_type) AS p_abs_max
  FROM p
)
SELECT event_type, MAX(n) AS n,
       CAST(MAX(p_max) - MIN(p_min) AS DOUBLE) / MAX(n) / 100.0
         AS drift_range,
       MIN(CASE WHEN abs(p) = p_abs_max THEN ts_us END) AS shift_ts_us
FROM marked GROUP BY event_type ORDER BY event_type
"""


def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution with an EXACT largest-remainder
    money split: each purchase's cents spread over the user's
    click/view touches in the preceding 7 days — every touch gets
    ``value_c div n`` and the ``value_c mod n`` remainder cents go to
    the n earliest touches, so the split is integer-exact, sums back
    to the purchase total by construction, and is deterministic
    (no 1/n float weights whose sum order matters). Shuffle story:
    one equi-join on user_id (the range predicate filters inside the
    join), one per-purchase window, one tiny hash-agg."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.expr("unix_micros(ts)").alias("p_ts"),
                         vc.alias("value_c")))
    touches = (ev.filter(F.col("event_type").isin("click", "view"))
               .select(F.col("user_id").alias("t_user"),
                       F.col("event_id").alias("touch_id"),
                       F.col("event_type").alias("touch_type"),
                       F.expr("unix_micros(ts)").alias("t_ts")))
    week_us = 7 * 86400000000
    joined = purchases.join(
        touches,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - week_us))
    w = Window.partitionBy("purchase_id")
    wo = w.orderBy("t_ts", "touch_id")
    alloc = (joined
             .withColumn("n", F.count(F.lit(1)).over(w))
             .withColumn("i", F.row_number().over(wo) - 1)
             .withColumn("attr_c",
                         F.expr("value_c div n")
                         + F.when(F.col("i") < F.col("value_c")
                                  % F.col("n"), 1).otherwise(0)))
    return (alloc.groupBy("touch_type")
            .agg(F.count(F.lit(1)).alias("n_touches"),
                 F.count_distinct("purchase_id").alias("n_purchases"),
                 (F.sum(F.col("attr_c").cast("decimal(38,0)"))
                  .cast("double") / 100.0).alias("attributed_revenue"))
            .orderBy("touch_type"))


_SQL_MULTI_TOUCH = """
WITH p AS (
  SELECT user_id AS p_user, event_id AS purchase_id,
         epoch_us(ts) AS p_ts,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT user_id AS t_user, event_id AS touch_id,
         event_type AS touch_type, epoch_us(ts) AS t_ts
  FROM events WHERE event_type IN ('click', 'view')
), j AS (
  SELECT purchase_id, touch_type, value_c, t_ts, touch_id
  FROM p JOIN t ON p_user = t_user
   AND t_ts < p_ts AND t_ts >= p_ts - 604800000000
), a AS (
  SELECT touch_type, purchase_id,
         value_c // COUNT(*) OVER (PARTITION BY purchase_id)
         + CASE WHEN ROW_NUMBER() OVER (PARTITION BY purchase_id
                                        ORDER BY t_ts, touch_id) - 1
                     < value_c % COUNT(*) OVER (PARTITION BY purchase_id)
                THEN 1 ELSE 0 END AS attr_c
  FROM j
)
SELECT touch_type, COUNT(*) AS n_touches,
       COUNT(DISTINCT purchase_id) AS n_purchases,
       CAST(SUM(CAST(attr_c AS HUGEINT)) AS DOUBLE) / 100.0
         AS attributed_revenue
FROM a GROUP BY 1 ORDER BY 1
"""


def q_running_balance_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance with reset markers — the classic
    restart-the-accumulator shape (inventory resets, meter rollovers):
    each ``signup`` event opens a new segment for its user (segment id
    = prefix count of markers), the balance runs inside (user,
    segment) only. One shuffle+sort on user; both windows share it.
    Emits one row per segment: event count, end balance, peak running
    balance — all integer-exact until the final /100."""
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    base = ev.select("user_id", "event_id",
                     F.expr("unix_micros(ts)").alias("ts_us"),
                     F.col("event_type"), vc.alias("v_c"))
    wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = base.withColumn(
        "segment",
        F.sum(F.when(F.col("event_type") == "signup", 1)
              .otherwise(0)).over(wu))
    ws = Window.partitionBy("user_id", "segment") \
               .orderBy("ts_us", "event_id")
    run = seg.withColumn("bal_c", F.sum("v_c").over(ws))
    return (run.groupBy("user_id", "segment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum("v_c").cast("double") / 100.0)
                 .alias("end_balance"),
                 (F.max("bal_c").cast("double") / 100.0)
                 .alias("peak_balance"))
            .orderBy("user_id", "segment"))


_SQL_RUNNING_BALANCE = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
), seg AS (
  SELECT *, CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment
  FROM base
), run AS (
  SELECT user_id, segment, ts_us, event_id, v_c,
         SUM(v_c) OVER (PARTITION BY user_id, segment
                        ORDER BY ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS bal_c
  FROM seg
)
SELECT user_id, segment, COUNT(*) AS n_events,
       CAST(SUM(v_c) AS DOUBLE) / 100.0 AS end_balance,
       CAST(MAX(bal_c) AS DOUBLE) / 100.0 AS peak_balance
FROM run GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_windowed_distinct_users(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Exact distinct users per (tumbling hour, event type) — the
    windowed COUNT(DISTINCT) Spark expands to a two-level aggregate
    (partial dedup on (window, type, user), then count); window starts
    computed as tz-free epoch arithmetic so the hour boundaries match
    any session timezone."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3600 * 1000000
    win = (F.expr(f"unix_micros(ts) div {hour_us}") * hour_us)
    return (ev.filter(F.col("user_id").isNotNull())
            .groupBy(win.alias("window_start_us"), "event_type")
            .agg(F.count_distinct("user_id").alias("distinct_users"),
                 F.count(F.lit(1)).alias("n_events"))
            .orderBy("window_start_us", "event_type"))


_SQL_WINDOWED_DISTINCT = """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type,
       COUNT(DISTINCT user_id) AS distinct_users,
       COUNT(*) AS n_events
FROM events WHERE user_id IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt): the per-day wide metric frame (one
    column per event type, built with a conditional-count pivot)
    unpivots back to (day, metric, cnt) rows via ``DataFrame.unpivot``
    — Spark's Expand-based melt, one pass, no joins. The oracle
    replays the same reshape as a UNION ALL (dialect-minimal; DuckDB's
    UNPIVOT would also work)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    wide = (ev.groupBy(day.alias("day"))
            .agg(*[F.sum(F.when(F.col("event_type") == t, 1)
                         .otherwise(0)).alias(t)
                   for t in ("click", "view", "purchase")]))
    long = wide.unpivot("day", ["click", "view", "purchase"],
                        "metric", "cnt")
    return long.filter(F.col("cnt") > 0).orderBy("day", "metric")


_SQL_UNPIVOT_METRICS = """
WITH wide AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS purchase
  FROM events GROUP BY 1
), long AS (
  SELECT day, 'click' AS metric, CAST(click AS BIGINT) AS cnt FROM wide
  UNION ALL
  SELECT day, 'view', CAST(view AS BIGINT) FROM wide
  UNION ALL
  SELECT day, 'purchase', CAST(purchase AS BIGINT) FROM wide
)
SELECT day, metric, cnt FROM long WHERE cnt > 0 ORDER BY day, metric
"""


def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (region), (priority), (region,
    priority), and the grand total in ONE Expand pass, with the
    grouping flags materialized as an explicit gid (grouping(region)·2
    + grouping(priority), identical bit math on both engines). The
    SQL-first surface: the loaded tables register as temp views and
    the report is one ``spark.sql``.

    The exact DECIMAL sum crosses the oracle boundary as a fixed-scale
    string and gid as BIGINT (the ``sales_by_country_decimal``
    convention): Spark renders wide decimals as pandas object(Decimal)
    while DuckDB's ``fetchdf`` renders them float64 (and its
    GROUPING() math as int64 vs Spark's int32) — equal values, but the
    driver's value hash is dtype-sensitive, which made this row the
    only r5 red."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation",
                                    "region"))
    t["orders"].createOrReplaceTempView("gs_orders")
    t["customer"].createOrReplaceTempView("gs_customer")
    t["nation"].createOrReplaceTempView("gs_nation")
    t["region"].createOrReplaceTempView("gs_region")
    return spark.sql("""
        SELECT r_name AS region, o_orderpriority AS priority,
               CAST(grouping(r_name) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                         AS DECIMAL(25,2)) AS STRING) AS sales
        FROM gs_orders
        JOIN gs_customer ON o_custkey = c_custkey
        JOIN gs_nation   ON c_nationkey = n_nationkey
        JOIN gs_region   ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority),
                                (r_name, o_orderpriority), ())
        ORDER BY gid, region, priority
    """)


_SQL_GROUPING_SETS = """
SELECT r_name AS region, o_orderpriority AS priority,
       CAST(GROUPING(r_name) * 2 + GROUPING(o_orderpriority)
            AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8)))
                 AS DECIMAL(25,2)) AS VARCHAR) AS sales
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (o_orderpriority),
                        (r_name, o_orderpriority), ())
ORDER BY gid, region, priority
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    raw corpus carries no null keys, so keys are deterministically
    nulled (user_id % 10 == 0 → NULL, the enrich_nullfill convention)
    on BOTH sides; the null-safe hash join then matches the NULL
    bucket to the NULL dim row — the semantics a plain equi-join
    silently drops. Dim side = earliest signup per (nulled) key,
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    nulled = F.when(F.col("user_id") % 10 == 0, F.lit(None)) \
        .otherwise(F.col("user_id"))
    left = ev.select(nulled.alias("k"), "event_type", "event_id")
    dim = (ev.filter(F.col("event_type") == "signup")
           .select(nulled.alias("dk"),
                   F.expr("unix_micros(ts)").alias("sts"))
           .groupBy("dk").agg(F.min("sts").alias("first_signup_us")))
    joined = left.join(F.broadcast(dim), F.col("k").eqNullSafe(F.col("dk")))
    return (joined.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_matched"),
                 F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                 .alias("n_null_key_matches"),
                 F.min("first_signup_us").alias("earliest_signup_us"))
            .orderBy("event_type"))


_SQL_NULL_SAFE_JOIN = """
WITH ev AS (
  SELECT CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END AS k,
         event_type, event_id, epoch_us(ts) AS ts_us
  FROM events
), dim AS (
  SELECT k AS dk, MIN(ts_us) AS first_signup_us
  FROM ev WHERE event_type = 'signup' GROUP BY 1
)
SELECT event_type, COUNT(*) AS n_matched,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_key_matches,
       MIN(first_signup_us) AS earliest_signup_us
FROM ev JOIN dim ON k IS NOT DISTINCT FROM dk
GROUP BY 1 ORDER BY 1
"""


def q_user_profile_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-collection construction: per user, the (event_type,
    count) profile as a SORTED array of structs serialized to one JSON
    document — collect_list + array_sort + to_json, the standard
    feed-a-service denormalization. Determinism: the array is sorted
    by (event_type) before serialization, so the JSON string is
    byte-stable and the DuckDB twin (ordered json_group_array)
    hash-matches."""
    ev = load_table(spark, sf_dir, "events")
    counts = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).alias("cnt")))
    prof = (counts.groupBy("user_id")
            .agg(F.to_json(F.array_sort(F.collect_list(
                F.struct(F.col("event_type"), F.col("cnt")))))
                .alias("profile_json"),
                F.sum("cnt").alias("n_events")))
    return prof.orderBy("user_id")


_SQL_USER_PROFILE_JSON = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       '[' || string_agg('{"event_type":"' || event_type
                         || '","cnt":' || cnt || '}',
                         ',' ORDER BY event_type) || ']'
         AS profile_json,
       CAST(SUM(cnt) AS BIGINT) AS n_events
FROM c GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Scale-engineering audits (operators/audit.py)
# ---------------------------------------------------------------------------

#: (relation, key) targets for the skew census — the engine's own join
#: and aggregation keys.
_SKEW_TARGETS = [("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
                 ("orders", "o_custkey"), ("events", "user_id"),
                 ("events", "event_type"), ("documents", "source")]

#: (name, left, lkey, right, rkey) targets for the statistics join.
_JOINCARD_TARGETS = [
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
]

#: relation -> stable (int/string) column list for the content hash —
#: deliberately excludes doubles and event-time columns, whose textual
#: rendering is not dialect-portable.
_FP_TARGETS = [
    ("customer", ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]),
    ("nation", ["n_nationkey", "n_name", "n_regionkey"]),
    ("orders", ["o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority"]),
    ("part", ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]),
    ("region", ["r_regionkey", "r_name"]),
]


def q_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census (operators/audit.py key_skew_census) over
    the engine's own shuffle keys — the top_share vs 1/n_distinct gap
    is the broadcast/salt/AQE-skew-join decision input."""
    from .operators.audit import key_skew_census
    # r13: spread examined and REJECTED (A/B 1.4-2.0 base vs 2.4-2.9 s:
    # the partial count agg already map-reduces in the scan stage)
    return key_skew_census([(t, load_table(spark, sf_dir, t), k)
                            for t, k in _SKEW_TARGETS])


_SQL_SKEW_CENSUS = "\nUNION ALL\n".join(f"""
SELECT * FROM (
  WITH c AS (SELECT CAST({k} AS VARCHAR) AS k, COUNT(*) AS cnt
             FROM {t} GROUP BY 1),
  top AS (SELECT k AS top_key, cnt AS top_cnt FROM c
          ORDER BY cnt DESC, k LIMIT 1)
  SELECT '{t}' AS relation, '{k}' AS key_col,
         (SELECT CAST(SUM(cnt) AS BIGINT) FROM c) AS n_rows,
         (SELECT COUNT(*) FROM c) AS n_distinct,
         top_key, CAST(top_cnt AS BIGINT) AS top_cnt,
         top_cnt::DOUBLE / (SELECT CAST(SUM(cnt) AS BIGINT) FROM c)
           AS top_share
  FROM top
)""" for t, k in _SKEW_TARGETS) + "\nORDER BY relation, key_col"


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-size prediction from per-key count tables
    (operators/audit.py join_cardinality) — the statistics join a
    planner runs instead of the data join it sizes."""
    from .operators.audit import join_cardinality
    # r13: spread examined and REJECTED (A/B 1.2-1.9 base vs 2.4-3.3 s:
    # same reason as q_skew_census)
    return join_cardinality(
        [(n, load_table(spark, sf_dir, lt), lk,
          load_table(spark, sf_dir, rt), rk)
         for n, lt, lk, rt, rk in _JOINCARD_TARGETS])


_SQL_JOIN_CARDINALITY = "\nUNION ALL\n".join(f"""
SELECT * FROM (
  WITH a AS (SELECT {lk} AS k, COUNT(*) AS ca FROM {lt} GROUP BY 1),
  b AS (SELECT {rk} AS k, COUNT(*) AS cb FROM {rt} GROUP BY 1)
  SELECT '{n}' AS join_name,
         (SELECT COUNT(*) FROM a) AS distinct_left,
         (SELECT COUNT(*) FROM b) AS distinct_right,
         CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS matched_keys,
         CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS out_rows
  FROM a JOIN b USING (k)
)""" for n, lt, lk, rt, rk in _JOINCARD_TARGETS) + "\nORDER BY join_name"


def q_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable multiset content hash per relation (operators/audit.py
    dataset_fingerprint) — the replication/migration equality check."""
    from .operators.audit import dataset_fingerprint
    return dataset_fingerprint([(t, load_table(spark, sf_dir, t), cols)
                                for t, cols in _FP_TARGETS])


_SQL_DATASET_FINGERPRINT = "\nUNION ALL\n".join(f"""
SELECT '{t}' AS relation, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST('0x' || substr(md5('fp:{t}' || '|' ||
                {" || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)}),
                1, 12) AS BIGINT)) % 281474976710656 AS BIGINT)
         AS content_hash
FROM {t}""" for t, cols in _FP_TARGETS) + "\nORDER BY relation"


BATCH_QUERIES = {
    "sales_by_country": (q_sales_by_country, _SQL_SALES_BY_COUNTRY),
    "sales_by_country_decimal": (q_sales_by_country_decimal,
                                 _SQL_SALES_BY_COUNTRY_DECIMAL),
    "sales_by_region": (q_sales_by_region, _SQL_SALES_BY_REGION),
    "windowed_sales": (q_windowed_sales, _SQL_WINDOWED_SALES),
    "sessionized": (q_sessionized, _SQL_SESSIONIZED),
    "latest_event_per_user": (q_latest_event_per_user,
                              _SQL_LATEST_EVENT_PER_USER),
    "latest_per_window": (q_latest_per_window, _SQL_LATEST_PER_WINDOW),
    "top25_formatted": (q_top25_formatted, _SQL_TOP25_FORMATTED),
    "revenue_by_region": (q_revenue_by_region, _SQL_REVENUE_BY_REGION),
    "revenue_by_region_bucketed": (q_revenue_by_region_bucketed,
                                   _SQL_REVENUE_BY_REGION),
    "enrich_nullfill": (q_enrich_nullfill, _SQL_ENRICH_NULLFILL),
    "case_interval": (q_case_interval, _SQL_CASE_INTERVAL),
    "group_concat": (q_group_concat, _SQL_GROUP_CONCAT),
    "in_subquery": (q_in_subquery, _SQL_IN_SUBQUERY),
    "anti_join": (q_anti_join, _SQL_ANTI_JOIN),
    "distinct_users": (q_distinct_users, _SQL_DISTINCT_USERS),
    "distinct_users_salted": (q_distinct_users_salted,
                              _SQL_DISTINCT_USERS),
    "price_quantiles": (q_price_quantiles, _SQL_PRICE_QUANTILES),
    "correlated_subquery": (q_correlated_subquery, _SQL_CORRELATED_SUBQUERY),
    "limit_offset": (q_limit_offset, _SQL_LIMIT_OFFSET),
    "summary_stats": (q_summary_stats, _SQL_SUMMARY_STATS),
    "cdc_upsert": (q_cdc_upsert, _SQL_CDC_UPSERT),
    "cdc_upsert_mor": (q_cdc_upsert_mor, _SQL_CDC_UPSERT),
    "cdc_upsert_mor_stream": (q_cdc_upsert_mor_stream, _SQL_CDC_UPSERT),
    "surrogate_key": (q_surrogate_key, _SQL_SURROGATE_KEY),
    "serde_json_roundtrip": (q_serde_json_roundtrip,
                             _SQL_SERDE_JSON_ROUNDTRIP),
    "time_formatted": (q_time_formatted, _SQL_TIME_FORMATTED),
    "window_agg_shape": (q_window_agg_shape, _SQL_WINDOW_AGG_SHAPE),
    "smt_chain": (q_smt_chain, _SQL_SMT_CHAIN),
    "smt_router_chain": (q_smt_router_chain, _SQL_SMT_ROUTER_CHAIN),
    "ols_trend": (q_ols_trend, _SQL_OLS_TREND),
    "cusum_shift": (q_cusum_shift, _SQL_CUSUM_SHIFT),
    "multi_touch_attribution": (q_multi_touch_attribution,
                                _SQL_MULTI_TOUCH),
    "running_balance_resets": (q_running_balance_resets,
                               _SQL_RUNNING_BALANCE),
    "windowed_distinct_users": (q_windowed_distinct_users,
                                _SQL_WINDOWED_DISTINCT),
    "unpivot_metrics": (q_unpivot_metrics, _SQL_UNPIVOT_METRICS),
    "grouping_sets_report": (q_grouping_sets_report,
                             _SQL_GROUPING_SETS),
    "null_safe_join": (q_null_safe_join, _SQL_NULL_SAFE_JOIN),
    "user_profile_json": (q_user_profile_json, _SQL_USER_PROFILE_JSON),
    "scd2_temporal_join": (q_scd2_temporal_join,
                           _SQL_SCD2_TEMPORAL_JOIN),
    "csv_dim_sales": (q_csv_dim_sales, _SQL_CSV_DIM_SALES),
    "avro_roundtrip": (q_avro_roundtrip, _SQL_AVRO_ROUNDTRIP),
    "avro_wire_roundtrip": (q_avro_wire_roundtrip, _SQL_AVRO_ROUNDTRIP),
    "asof_attribution": (q_asof_attribution, _SQL_ASOF_ATTRIBUTION),
    "range_join_promo": (q_range_join_promo, _SQL_RANGE_JOIN_PROMO),
    "revenue_rollup": (q_revenue_rollup, _SQL_REVENUE_ROLLUP),
    "revenue_cube": (q_revenue_cube, _SQL_REVENUE_CUBE),
    "calendar_fill": (q_calendar_fill, _SQL_CALENDAR_FILL),
    "price_histogram": (q_price_histogram, _SQL_PRICE_HISTOGRAM),
    "set_ops": (q_set_ops, _SQL_SET_OPS),
    "schema_evolution_union": (q_schema_evolution_union,
                               _SQL_SCHEMA_EVOLUTION_UNION),
    "dq_expectations": (q_dq_expectations, _SQL_DQ_EXPECTATIONS),
    "cdc_snapshot_at": (q_cdc_snapshot_at, _SQL_CDC_SNAPSHOT_AT),
    "cdc_snapshot_diff": (q_cdc_snapshot_diff, _SQL_CDC_SNAPSHOT_DIFF),
    "event_pivot": (q_event_pivot, _SQL_EVENT_PIVOT),
    "window_battery": (q_window_battery, _SQL_WINDOW_BATTERY),
    "integrity_audit": (q_integrity_audit, _SQL_INTEGRITY_AUDIT),
    "trailing_revenue": (q_trailing_revenue, _SQL_TRAILING_REVENUE),
    "json_path_stats": (q_json_path_stats, _SQL_JSON_PATH_STATS),
    "full_outer_reconcile": (q_full_outer_reconcile,
                             _SQL_FULL_OUTER_RECONCILE),
    "dead_letter_route": (q_dead_letter_route, _SQL_DEAD_LETTER_ROUTE),
    "cdc_scd2": (q_cdc_scd2, _SQL_CDC_SCD2),
    "incremental_agg": (q_incremental_agg, _SQL_INCREMENTAL_AGG),
    "funnel_steps": (q_funnel_steps, _SQL_FUNNEL_STEPS),
    "retention_cohorts": (q_retention_cohorts, _SQL_RETENTION_COHORTS),
    "trimmed_mean": (q_trimmed_mean, _SQL_TRIMMED_MEAN),
    "interpolated_series": (q_interpolated_series,
                            _SQL_INTERPOLATED_SERIES),
    "zorder_layout": (q_zorder_layout, _SQL_ZORDER_LAYOUT),
    "rolling_anomaly": (q_rolling_anomaly, _SQL_ROLLING_ANOMALY),
    "activity_islands": (q_activity_islands, _SQL_ACTIVITY_ISLANDS),
    "weighted_median": (q_weighted_median, _SQL_WEIGHTED_MEDIAN),
    "equidepth_bins": (q_equidepth_bins, _SQL_EQUIDEPTH_BINS),
    "skyline_customers": (q_skyline_customers, _SQL_SKYLINE_CUSTOMERS),
    "benford_audit": (q_benford_audit, _SQL_BENFORD_AUDIT),
    "bloom_semi_join": (q_bloom_semi_join, _SQL_BLOOM_SEMI_JOIN),
    "event_trigrams": (q_event_trigrams, _SQL_EVENT_TRIGRAMS),
    "mad_outliers": (q_mad_outliers, _SQL_MAD_OUTLIERS),
    "copurchase_pairs": (q_copurchase_pairs, _SQL_COPURCHASE_PAIRS),
    "ewma_smooth": (q_ewma_smooth, _SQL_EWMA_SMOOTH),
    "winsorized_mean": (q_winsorized_mean, _SQL_WINSORIZED_MEAN),
    "ks_drift": (q_ks_drift, _SQL_KS_DRIFT),
    "session_overlap": (q_session_overlap, _SQL_SESSION_OVERLAP),
    "xcorr_lags": (q_xcorr_lags, _SQL_XCORR_LAGS),
    "rfm_segments": (q_rfm_segments, _SQL_RFM_SEGMENTS),
    "seasonality_profile": (q_seasonality_profile,
                            _SQL_SEASONALITY_PROFILE),
    "markov_transitions": (q_markov_transitions,
                           _SQL_MARKOV_TRANSITIONS),
    "gini_concentration": (q_gini_concentration,
                           _SQL_GINI_CONCENTRATION),
    "wow_change": (q_wow_change, _SQL_WOW_CHANGE),
    "hdr_quantiles": (q_hdr_quantiles, _SQL_HDR_QUANTILES),
    "tpch_q1": (q_tpch_q1, _SQL_TPCH_Q1),
    "tpch_q3": (q_tpch_q3, _SQL_TPCH_Q3),
    "tpch_q4": (q_tpch_q4, _SQL_TPCH_Q4),
    "tpch_q5": (q_tpch_q5, _SQL_TPCH_Q5),
    "tpch_q6": (q_tpch_q6, _SQL_TPCH_Q6),
    "tpch_q7": (q_tpch_q7, _SQL_TPCH_Q7),
    "tpch_q8": (q_tpch_q8, _SQL_TPCH_Q8),
    "tpch_q9": (q_tpch_q9, _SQL_TPCH_Q9),
    "tpch_q10": (q_tpch_q10, _SQL_TPCH_Q10),
    "tpch_q12": (q_tpch_q12, _SQL_TPCH_Q12),
    "tpch_q13": (q_tpch_q13, _SQL_TPCH_Q13),
    "tpch_q14": (q_tpch_q14, _SQL_TPCH_Q14),
    "tpch_q15": (q_tpch_q15, _SQL_TPCH_Q15),
    "tpch_q17": (q_tpch_q17, _SQL_TPCH_Q17),
    "tpch_q18": (q_tpch_q18, _SQL_TPCH_Q18),
    "tpch_q19": (q_tpch_q19, _SQL_TPCH_Q19),
    "tpch_q22": (q_tpch_q22, _SQL_TPCH_Q22),
    "tpch_q11": (q_tpch_q11, _SQL_TPCH_Q11),
    "tpch_q16": (q_tpch_q16, _SQL_TPCH_Q16),
    "tpch_q2": (q_tpch_q2, _SQL_TPCH_Q2),
    "tpch_q20": (q_tpch_q20, _SQL_TPCH_Q20),
    "tpch_q21": (q_tpch_q21, _SQL_TPCH_Q21),
    "chi2_independence": (q_chi2_independence, _SQL_CHI2_INDEPENDENCE),
    "rollup_cascade": (q_rollup_cascade, _SQL_ROLLUP_CASCADE),
    "lag_features": (q_lag_features, _SQL_LAG_FEATURES),
    "target_encode_loo": (q_target_encode_loo, _SQL_TARGET_ENCODE_LOO),
    "corr_matrix": (q_corr_matrix, _SQL_CORR_MATRIX),
    "golden_profile": (q_golden_profile, _SQL_GOLDEN_PROFILE),
    "asof_forward": (q_asof_forward, _SQL_ASOF_FORWARD),
    "decile_lift": (q_decile_lift, _SQL_DECILE_LIFT),
    "rolling_corr": (q_rolling_corr, _SQL_ROLLING_CORR),
    "ab_test": (q_ab_test, _SQL_AB_TEST),
    "bfs_hops": (q_bfs_hops, _SQL_BFS_HOPS),
    "seq_pattern_detect": (q_seq_pattern_detect,
                           _SQL_SEQ_PATTERN_DETECT),
    "asof_nearest": (q_asof_nearest, _SQL_ASOF_NEAREST),
    "share_of_parent": (q_share_of_parent, _SQL_SHARE_OF_PARENT),
    "degree_histogram": (q_degree_histogram, _SQL_DEGREE_HISTOGRAM),
    "skew_census": (q_skew_census, _SQL_SKEW_CENSUS),
    "join_cardinality": (q_join_cardinality, _SQL_JOIN_CARDINALITY),
    "dataset_fingerprint": (q_dataset_fingerprint,
                            _SQL_DATASET_FINGERPRINT),
    "compaction_plan": (q_compaction_plan, _SQL_COMPACTION_PLAN),
    "zone_map_audit": (q_zone_map_audit, _SQL_ZONE_MAP_AUDIT),
}

# ---------------------------------------------------------------------------
# Registry order IS the driver-verification order: the correctness driver
# checks a DRIVER_WINDOW-query prefix of ALL_QUERIES. The order is
# static and puts the paper's planes first: the streaming queries, then
# the batch queries, whose literal above opens with the bench.py
# HEADLINE set and the three CDC upserts, then the pipeline queries.
# tests/test_plan_quality.py pins that prefix.
# ---------------------------------------------------------------------------

#: the driver's effective window: it checks the first 50 registry
#: entries per round.
DRIVER_WINDOW = 50

ALL_QUERIES: dict = {**STREAMING_QUERIES, **BATCH_QUERIES,
                     **PIPELINE_QUERIES}


def queries() -> dict:
    return {name: fn for name, (fn, _) in ALL_QUERIES.items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in ALL_QUERIES.items() if sql}
