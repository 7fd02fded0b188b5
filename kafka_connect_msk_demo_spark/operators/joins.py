"""Joins — enrichment, multi-way chains, subquery shapes.

Reference semantics (SURVEY.md §2.5):

* J1 — stream-static left-outer enrichment join on ``country`` against a
  cached 245-row dimension, null-filled to "Unassigned"
  (``08_streaming_read_kafka_join_window.py:94-95``, ``09:94-95``,
  ``12:98-99``).
* J2 — static 5-way inner equi-join chain producing the sales feed
  (``pyspark/data/sales.sql:12-16``).
* J3 — multi-way join + correlated scalar subquery views
  (``sql-scripts/pagila-schema.sql:483-498``).
* J4 — IN-subquery point lookups
  (``moma_debezium_hudi_demo.ipynb`` cells 17-20).

Scale notes
-----------
Dimension joins broadcast explicitly (``F.broadcast``): at 100 TB the
fact side never shuffles for a dim join — the 1000-executor plan is a
``BroadcastHashJoin`` inside the scan stage. Fact-fact joins
(orders ⋈ lineitem) shuffle on the join key; both sides hash-partition
once and AQE handles skew. Correlated scalar subqueries are left to
Catalyst's ``RewriteCorrelatedScalarSubquery`` (decorrelates to an
aggregate + join) — no hand rewrite needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich(fact: DataFrame, dim: DataFrame, on: list[str],
           fill: dict[str, str] | None = None) -> DataFrame:
    """J1: left-outer enrichment join to a dimension + na.fill.

    ``fill`` maps dim-column → default for unmatched keys (the
    reference fills "Unassigned", 08:95).

    No forced broadcast: the planner picks, because forcing one for a
    dimension that scales with the data (customer) turns into an
    executor OOM at 100 TB instead of a plan choice. In a batch query AQE
    broadcasts a small side at runtime. AQE is off for streaming, so a
    stream-static join broadcasts only by the planner's static choice
    from the dimension's estimated size (a cached dimension reports its
    real size), and the broadcast re-runs as one job per micro-batch.
    """
    out = fact.join(dim, on, "left_outer")
    if fill:
        out = out.na.fill(fill)
    return out


def star_join(t: dict[str, DataFrame], fact: DataFrame | None = None,
              region: bool = False) -> DataFrame:
    """J2: the sales feed — ``fact ⋈ customer ⋈ nation [⋈ region]``.

    Mirrors ``sales.sql:12-16`` (payment⋈customer⋈address⋈city⋈country)
    on the driver's TPC-H-ish tables (FIXTURES.md §6). ``fact`` defaults
    to ``t["orders"]`` and may be any frame carrying ``o_custkey`` (a
    pre-aggregated lineitem leg joined to orders, a per-customer
    rollup). The dimension legs (nation, and region when ``region`` is
    set) broadcast; customer scales with the data and is left to the
    planner.
    """
    out = ((t["orders"] if fact is None else fact)
           .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(t["nation"]),
                 F.col("c_nationkey") == F.col("n_nationkey")))
    if region:
        out = out.join(F.broadcast(t["region"]),
                       F.col("n_regionkey") == F.col("r_regionkey"))
    return out


def semi_join_in(df: DataFrame, keys: DataFrame, left_key: str,
                 right_key: str) -> DataFrame:
    """J4: ``WHERE k IN (SELECT ...)`` as a left-semi join (Catalyst's
    own rewrite of IN-subqueries)."""
    return df.join(keys, df[left_key] == keys[right_key], "left_semi")


def anti_join_not_exists(df: DataFrame, keys: DataFrame, left_key: str,
                         right_key: str) -> DataFrame:
    """``WHERE NOT EXISTS (SELECT ...)`` as a left-anti join — the
    complement of :func:`semi_join_in` (SURVEY.md §2.5 notes semi/anti
    as the cheap capability extension beyond reference parity). Same
    scale shape as any equi-join: shuffle (or broadcast) on the key,
    emit only probe misses — no null-aware fallback needed because the
    anti condition is a plain equality, not ``NOT IN``."""
    return df.join(keys, df[left_key] == keys[right_key], "left_anti")


def bloom_semi_join(fact: DataFrame, dim_keys: DataFrame, key: str,
                    bits: int = 1 << 16, hashes: int = 3,
                    salt: str = "bloom") -> DataFrame:
    """Semi join with an explicit Bloom pre-filter — the declarative
    form of the runtime row-group filter a warehouse pushes to its
    scans: the fact side is first reduced by a ``bits``-wide Bloom
    membership test built from the dim keys, then verified with the
    exact semi join, so the OUTPUT equals a plain left-semi join
    (false positives are removed; the oracle is the plain semi join)
    while the expensive exact-join shuffle sees only the pre-filtered
    fraction.

    All Bloom positions are deterministic xxhash64 buckets — build and
    probe run inside this one Spark plan, and the oracle is the plain
    semi join, so the position family needs no cross-engine replay;
    xxhash64 is a codegen intrinsic where the previous md5 probe paid
    string digest + base-16 conv PER PROBE (r12, guide §1.2 per-task
    work). The filter is built WITHOUT driver state: the dim positions
    fold into a
    ``bits``-wide bitmap (≤ bits/64 map entries — 8 KB of longs at
    2^16) that cross-joins onto the fact scan as ONE broadcast row, so
    the membership test is a per-row expression INSIDE the scan stage.
    At 100 TB, bits scales to keep the false-positive rate
    ~ (1-e^{-kn/m})^k manageable, and the broadcast stays <= bits bits
    regardless of dim cardinality.

    r12 (guide §3.2 — "drop rows before the big side is shuffled"):
    the previous shape exchanged the DISTINCT FACT KEYS (a
    corpus-scale shuffle at 100 TB) before the Bloom test; the bitmap
    form needs zero exchanges before the exact verification semi join,
    which then sees only the pre-filtered fraction — the entire point
    of the Bloom pass.
    """
    def positions(col):
        return F.array(*[
            F.pmod(F.xxhash64(F.lit(f"{salt}{i}"), F.col(col)),
                   F.lit(bits))
            for i in range(hashes)])

    dim_pos = (dim_keys.select(F.explode(positions(key)).alias("_p"))
               .distinct())
    # flat ARRAY of bits/64 words, not a map: Spark MapType lookups
    # are linear scans, so a map probe would pay O(bits/64) per hash
    # per row; array element_at is O(1) (index always in bounds:
    # p = pmod(·, bits) < bits)
    nwords = bits // 64
    bitmap = (dim_pos
              .groupBy(F.expr("_p div 64").alias("_w"))
              .agg(F.expr("bit_or(shiftleft(1L, CAST(_p % 64 AS INT)))")
                   .alias("_m"))
              .agg(F.map_from_entries(
                  F.collect_list(F.struct("_w", "_m"))).alias("_mm"))
              .select(F.expr(
                  f"transform(sequence(0, {nwords - 1}), w -> "
                  f"coalesce(try_element_at(_mm, CAST(w AS BIGINT)), 0L))"
              ).alias("_bm")))
    hit_all = F.expr(
        "forall(_ps, p -> (element_at(_bm, CAST(p div 64 AS INT) + 1)"
        " & shiftleft(1L, CAST(p % 64 AS INT))) != 0)")
    kept = (fact.withColumn("_ps", positions(key))
            .crossJoin(F.broadcast(bitmap))
            .filter(hit_all)
            .drop("_ps", "_bm"))
    return kept.join(dim_keys.select(key).distinct(), key, "left_semi")
