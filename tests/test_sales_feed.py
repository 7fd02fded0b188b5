"""The J2 sales feed (``operators/joins.star_join``) and the
F1/O3/O4 display (``operators/formatting.top_k_formatted``), the two
operators the SQL plane's sales queries are built from."""

import re

from pyspark.sql import functions as F

from kafka_connect_msk_demo_spark.catalog import load_tables
from kafka_connect_msk_demo_spark.operators.formatting import top_k_formatted
from kafka_connect_msk_demo_spark.operators.joins import star_join
from kafka_connect_msk_demo_spark.oracle import run_oracle

_FEED_SQL = """
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
"""


def _broadcast_tables(df):
    """Tables scanned under a BroadcastExchange in the final executed
    plan of ``df`` (run it first)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    tables, under = set(), False
    for line in plan.split("== Initial Plan ==")[0].splitlines():
        if "BroadcastExchange" in line:
            under = True
        elif under and "FileScan" in line:
            tables.add(re.search(r"/(\w+)\.parquet\]", line).group(1))
            under = False
    return tables


def test_star_join_region_feed(spark, sf_small):
    t = load_tables(spark, sf_small,
                    ("orders", "customer", "nation", "region"))
    feed = star_join(t, region=True).select("o_orderkey", "r_name")
    got = sorted(tuple(r) for r in feed.collect())
    want = run_oracle("SELECT o_orderkey, r_name" + _FEED_SQL
                      + "JOIN region ON n_regionkey = r_regionkey",
                      sf_small)
    assert len(got) == len(want) > 0
    assert got == sorted(want.itertuples(index=False, name=None))
    assert {"nation", "region"} <= _broadcast_tables(feed)


def test_star_join_takes_a_preaggregated_fact(spark, sf_small):
    t = load_tables(spark, sf_small, ("orders", "customer", "nation"))
    per_cust = (t.pop("orders").groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n")))
    got = {(r.n_name, r.n) for r in star_join(t, fact=per_cust)
           .groupBy("n_name").agg(F.sum("n").alias("n")).collect()}
    want = run_oracle("SELECT n_name, COUNT(*) AS n" + _FEED_SQL
                      + "GROUP BY n_name", sf_small)
    assert got == set(want.itertuples(index=False, name=None))


def test_top_k_formatted_breaks_ties(spark):
    df = spark.createDataFrame(
        [("b", 100.0, 1), ("a", 100.0, 2), ("c", 2000.5, 3),
         ("d", 5.0, 4)], "country string, sales double, orders long")
    top = top_k_formatted(df, 3, F.col("country")).collect()
    assert [tuple(r) for r in top] == [("c", "2,000.50", "3"),
                                       ("a", "100.00", "2"),
                                       ("b", "100.00", "1")]
    desc = top_k_formatted(df, 3, F.col("country").desc()).collect()
    assert [r.country for r in desc] == ["c", "b", "a"]
