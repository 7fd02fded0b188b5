"""Distinct-count sketching — K-minimum-values (KMV), deterministic.

``approx_count_distinct`` (HLL) is the built-in answer, but its
estimate depends on an engine-private hash and register layout, so it
can never be replayed by another engine — useless under an exact
cross-engine oracle, and awkward for reproducible corpus reporting.
KMV (Bar-Yossef et al. 2002) estimates distinct cardinality from the
k-th smallest *deterministic* hash value:

    est = (k - 1) * H / h_k        (H = hash-space size)

Membership of a hash in the sketch is a pure function of the value, so
the same estimate comes back on any engine, any partitioning, any
cluster size — the same reproducibility contract as
`operators/sampling.py`.

Scale shape (the reason this is not just a window over DISTINCT): the
Arrow kernel below is a *partial k-min aggregate* — each input
partition emits at most ``k`` hashes per group, so the post-kernel
shuffle carries ≤ ``k × groups × partitions`` rows no matter how many
billions of distinct keys the scan saw. k-min sets are closed under
merge (min-k of a union == min-k of the concatenated min-k's), so the
final window top-k over the union is exact, and the whole computation
never materializes the distinct key set. The hash is the first 48 bits
of md5 — Spark `conv(substr(md5..),16,10)`, DuckDB
`CAST('0x'||substr(md5..) AS BIGINT)`, and Python
`int(hexdigest[:12], 16)` all agree bit-for-bit (asserted in tests).

Estimate arithmetic stays exact cross-engine: ``(k-1) * 2**48`` has six
significant bits (exactly representable double) and the estimate is a
single correctly-rounded division by the integer ``h_k``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.aggregates import hll_estimate, hll_register_rows

#: 48-bit hash space: 12 hex chars of md5.
HASH_SPACE = float(2 ** 48)


def _kmv_partial_kernel(key_col: str, group_col: str, k: int,
                        salt: str):
    """mapInPandas kernel: per input partition, per group, the ``k``
    smallest distinct 48-bit hashes of the key. Bounded state
    (``k`` ints per group) and bounded output (``k`` rows per group per
    partition) — the partial-aggregate half of the KMV merge."""
    import pandas as pd

    def kernel(batches):
        mins: dict[str, list] = {}   # group -> sorted list, ≤ k
        # key -> hash memo (keys repeat a lot); BOUNDED like dedup's
        # shingle cache — an unbounded memo over billions of distinct
        # streamed keys would OOM the worker, the exact regime KMV
        # exists for (clearing only costs re-hashing later repeats)
        memo: dict[object, int] = {}
        memo_max = 1 << 20
        import bisect
        for pdf in batches:
            for g, key in zip(pdf[group_col], pdf[key_col]):
                if key is None or pd.isna(key):
                    continue
                if isinstance(key, float) and key == 0.0:
                    # -0.0 == 0.0 as doubles (one logical key) but
                    # f-string-renders "-0.0" vs "0.0" — whichever a
                    # partition saw first would pick that partition's
                    # hash, making the merged sketch partition-order
                    # dependent. Canonicalize before hashing.
                    key = 0.0
                h = memo.get(key)
                if h is None:
                    if len(memo) >= memo_max:
                        memo.clear()
                    digest = hashlib.md5(
                        f"{salt}:{key}".encode()).hexdigest()
                    h = int(digest[:12], 16)
                    memo[key] = h
                lst = mins.setdefault(g, [])
                if len(lst) < k or h < lst[-1]:
                    i = bisect.bisect_left(lst, h)
                    if i >= len(lst) or lst[i] != h:
                        lst.insert(i, h)
                        if len(lst) > k:
                            lst.pop()
        if mins:
            yield pd.DataFrame(
                {group_col: [g for g, lst in mins.items() for _ in lst],
                 "h": [h for lst in mins.values() for h in lst]})

    return kernel


def _kmv_sketch(df: DataFrame, key_col: str, group_col: str,
                k: int, salt: str) -> DataFrame:
    """Merged per-group k-min sketch: (group_col, h, rk <= k). The
    single source of truth for the sketch build — the partial kernel,
    the distinct merge and the top-k window — shared by
    :func:`kmv_distinct` and :func:`kmv_set_ops` so the hash family
    and merge rule can never diverge between the two estimators."""
    # INTEGRAL keys cross to Python as their SPARK-CANONICAL string: a
    # long key batch that carries a null would otherwise arrive
    # float64 (Arrow→pandas nullable-BIGINT hazard), so the same key
    # would hash as "3" in one batch and "3.0" in another — splitting
    # one logical key across two sketch slots — and keys ≥ 2^53 would
    # round before hashing. long→string is exact at any magnitude and
    # matches the oracles' CAST(key AS VARCHAR) rendering. The cast is
    # deliberately NOT applied to other types (ADVICE r8): doubles
    # render Spark-canonically (scientific notation at large
    # magnitudes) which would silently change the hash family vs prior
    # rounds, and -0.0/0.0 — equal as doubles — would become distinct
    # strings and count as two keys. Non-integral keys have no
    # null-batch rounding hazard (floats are already float64;
    # strings/decimals cross losslessly), so they keep their native
    # rendering.
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)
    key_type = df.schema[key_col].dataType
    if isinstance(key_type, (ByteType, ShortType, IntegerType,
                             LongType)):
        key_expr = F.col(key_col).cast("string").alias(key_col)
    else:
        key_expr = F.col(key_col)
    src = df.select(F.col(group_col), key_expr)
    # the kernel passes group values through untouched, so the output
    # schema must carry the group column's ACTUAL type — hard-coding
    # `string` crashed (or mis-joined) any non-string group column
    group_ddl = df.schema[group_col].dataType.simpleString()
    partials = src.mapInPandas(
        _kmv_partial_kernel(key_col, group_col, k, salt),
        f"{group_col} {group_ddl}, h long")
    w = Window.partitionBy(group_col).orderBy("h")
    return (partials.distinct()
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def _non_null_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Rows whose key the SKETCH kernel would count: non-null, and for
    float keys non-NaN too (pandas ``isna`` treats NaN as null, but
    Spark's ``count_distinct`` counts NaN as a value — without this the
    exact audit side and the sketch disagree on NaN-bearing keys, and
    an all-NaN group gets a truth row but no sketch row)."""
    from pyspark.sql.types import DoubleType, FloatType
    out = df.filter(F.col(key_col).isNotNull())
    if isinstance(df.schema[key_col].dataType, (FloatType, DoubleType)):
        out = out.filter(~F.isnan(F.col(key_col)))
    return out


def kmv_distinct(df: DataFrame, key_col: str, group_col: str,
                 k: int = 64, salt: str = "kmv") -> DataFrame:
    """Per-group distinct-count estimate via a k-minimum-values sketch,
    with the exact count alongside for error accounting.

    Returns (group, n_true, est_distinct, rel_err) — ``est_distinct``
    is exact when fewer than ``k`` distinct hashes exist (the sketch
    degenerates to the true distinct set), else ``(k-1)*2^48 / h_k``.
    """
    merged = _kmv_sketch(df, key_col, group_col, k, salt)
    sketch = (merged.groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("n_h"),
                   F.max(F.when(F.col("rk") == k,
                                F.col("h"))).alias("kth")))
    true = (_non_null_keys(df, key_col)
            .groupBy(group_col)
            .agg(F.count_distinct(F.col(key_col)).alias("n_true")))
    est = F.when(F.col("n_h") < k, F.col("n_h").cast("double")) \
        .otherwise(F.lit(float(k - 1) * HASH_SPACE) / F.col("kth"))
    return (sketch.join(true, group_col)
            .withColumn("est_distinct", est)
            .withColumn("rel_err",
                        (F.col("est_distinct")
                         - F.col("n_true").cast("double"))
                        / F.col("n_true").cast("double"))
            .select(group_col, "n_true", "est_distinct", "rel_err")
            .orderBy(group_col))


# ---------------------------------------------------------------------------
# HyperLogLog — deterministic register sketch
# ---------------------------------------------------------------------------

def hll_distinct(df: DataFrame, key_col: str, group_col: str,
                 salt: str = "hll") -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate from the same
    deterministic 48-bit md5 hash as :func:`kmv_distinct` — the
    fixed-memory counterpart (m = 256 registers regardless of
    cardinality, vs KMV's k minima): register = top ``HLL_B`` hash
    bits, rho = leading-zero count of the remainder + 1.

    Everything is engine-replayable integer/dyadic arithmetic:

    * rho via the BINARY-STRING length of the remainder
      (``48 - B - length(bin(rem)) + 1``) — no float log2, whose libm
      rounding differs across engines near powers of two;
    * the harmonic-mean denominator sums ``2^-max_rho`` terms, each an
      exact dyadic rational in [2^-41, 1]; every partial sum fits a
      49-bit significand, so double addition is EXACT in any order —
      the same order-independence argument as the int64-quantized
      k-means partials;
    * the raw estimate ``alpha * m^2 / denom`` is one multiply and one
      correctly-rounded division off a shared literal. The small-range
      linear-counting correction is deliberately OMITTED (it needs
      ``ln``, another libm dependency); ``est_raw`` is the pure HLL
      estimator and ``n_true`` rides along for error accounting.

    Scale shape: Spark's partial/final hash-agg combines (group,
    register) maxima map-side, so the shuffle carries at most
    ``m × groups`` rows per partition — fixed-size sketch state, the
    100 TB answer when even KMV's per-group k×partitions rows are too
    many. The exact ``n_true`` join is the validation path; drop it in
    production.
    """
    regs = (hll_register_rows(df, key_col, group_col, salt)
            .groupBy(group_col, "reg")
            .agg(F.max("rho").alias("max_rho")))
    true = (_non_null_keys(df, key_col)
            .groupBy(group_col)
            .agg(F.count_distinct(F.col(key_col)).alias("n_true")))
    return hll_estimate(regs, true, group_col)


# ---------------------------------------------------------------------------
# Count-min sketch — deterministic frequency estimation
# ---------------------------------------------------------------------------

CMS_DEPTH = 3
CMS_WIDTH = 512


def _cms_bucket(key: "F.Column", d: int, width: int, salt: str):
    """Row-``d`` bucket of a key: 48-bit md5 prefix mod width — the
    same conv/cast contract as KMV/HLL, so any engine replays it."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(f"{salt}{d}"), key)), 1, 12),
        16, 10).cast("long")
    return F.pmod(h, F.lit(width))


def cms_estimate(items: DataFrame, probes: DataFrame, key_col: str,
                 depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                 salt: str = "cms") -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005): estimate the
    frequency of each ``probes`` key from ``depth × width`` counters
    built in ONE pass over ``items`` — never materializing the
    distinct-key set. Estimate = min over rows of the key's counter;
    guarantees est >= true always, and est <= true + εN (ε = e/width)
    with probability 1 - e^-depth.

    The hash rows are the deterministic 48-bit md5 prefix mod width,
    so the counter array — and therefore every estimate — is
    bit-identical on any engine, any partitioning: the whole sketch
    replays in SQL.

    Scale shape: one explode of each item into its ``depth`` (row,
    bucket) cells feeding a partial/final hash-agg onto a FIXED
    ``depth × width`` key space (map-side combine makes the shuffle
    ≤ depth·width rows per partition); the probe lookup is a broadcast
    join of probes-×-depth rows against the tiny counter table.
    Memory is O(depth·width) no matter how many billions of items
    stream by — the point of a sketch.
    """
    # NULL keys are not items: concat_ws silently DROPS a null arg, so
    # every null would hash as the bare salt into one phantom cell per
    # row (inflating any probe that collides with it), and a null
    # probe would return a row keyed NULL reading that phantom counter.
    # The sibling sketches (KMV/HLL) skip nulls the same way.
    items = items.filter(F.col(key_col).isNotNull())
    probes = probes.filter(F.col(key_col).isNotNull())
    key = F.col(key_col).cast("string")
    cells = items.select(F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket(key, d, width, salt).alias("b"))
        for d in range(depth)])).alias("c"))
    counters = (cells.select("c.d", "c.b")
                .groupBy("d", "b")
                .agg(F.count(F.lit(1)).alias("cnt")))
    pkey = F.col(key_col).cast("string")
    pcells = probes.select(F.col(key_col), F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket(pkey, d, width, salt).alias("b"))
        for d in range(depth)])).alias("c"))
    return (pcells.select(key_col, "c.d", "c.b")
            .join(F.broadcast(counters), ["d", "b"], "left")
            .na.fill({"cnt": 0})
            .groupBy(key_col)
            .agg(F.min("cnt").alias("cnt_cms"))
            .orderBy(key_col))


def kmv_set_ops(df: DataFrame, key_col: str, group_col: str,
                k: int = 64, salt: str = "kmv") -> DataFrame:
    """Pairwise UNION / INTERSECTION / Jaccard estimates between every
    two groups' key sets from their KMV sketches — audience-overlap /
    dataset-contamination accounting WITHOUT an exact distinct join
    (Beyer et al., "On synopses for distinct-value estimation under
    multiset operations", SIGMOD 2007: k-min sketches are closed under
    union, and the union sketch's members double as a Bernoulli sample
    for the intersection ratio):

        est_union = (k−1)·H / h_k(A ∪ B)
        ĵ          = |union-k ∩ sketch(A) ∩ sketch(B)| / k
        est_inter  = ĵ · est_union

    When the union has fewer than ``k`` distinct hashes the sketch IS
    the distinct hash set and both estimates collapse to exact counts
    (mirrored branch). ĵ's division by the power-of-two ``k`` is
    exact; every other step is the one-division / one-multiply
    correctly-rounded sequence, so results hash-match cross-engine.
    Exact pair counts ride along for error accounting.

    Scale shape: the ONLY pass over the fact table is the bounded KMV
    partial kernel (≤ k rows per group per partition) plus one exact
    distinct pair-count for the audit columns; everything pairwise
    operates on the |groups|·k sketch table — tiny by construction —
    so the pair stage is a census-scale self-join, never a fact-table
    blowup. Drop the audit columns to skip the exact pass entirely at
    true scale.
    """
    # r12 (§5 caching, §2.4 fewer passes): the sketch table feeds four
    # consumers (type census, both union legs, both membership semi
    # joins) and the distinct (group, key) frame three (census, both
    # exact-intersection legs) — unpersisted, EVERY consumer re-ran the
    # full fact-table pass (the KMV partial kernel / the distinct
    # exchange), ~7 corpus scans per call. Both are persisted, the
    # (|groups|²/2)-row result is materialized inside the call, and the
    # pins are dropped before returning — no cross-run state.
    sk = (_kmv_sketch(df, key_col, group_col, k, salt)
          .select(F.col(group_col).alias("g"), "h").persist())
    types = sk.select("g").distinct()
    pairs = (types.select(F.col("g").alias("ta"))
             .join(types.select(F.col("g").alias("tb")),
                   F.col("ta") < F.col("tb")))
    ua = pairs.join(sk.withColumnRenamed("g", "ta"), "ta")
    ub = pairs.join(sk.withColumnRenamed("g", "tb"), "tb")
    u = (ua.select("ta", "tb", "h")
         .unionByName(ub.select("ta", "tb", "h"))
         .distinct())
    wu = Window.partitionBy("ta", "tb").orderBy("h")
    uk = (u.withColumn("rk", F.row_number().over(wu))
          .filter(F.col("rk") <= k))
    # membership via semi joins on (type, hash)
    both = (uk
            .join(sk.select(F.col("g").alias("ta"),
                            F.col("h").alias("h")),
                  ["ta", "h"], "semi")
            .join(sk.select(F.col("g").alias("tb"),
                            F.col("h").alias("h")),
                  ["tb", "h"], "semi"))
    stats = (uk.groupBy("ta", "tb")
             .agg(F.count(F.lit(1)).alias("n_h"),
                  F.max(F.when(F.col("rk") == k, F.col("h")))
                  .alias("kth")))
    nboth = (both.groupBy("ta", "tb")
             .agg(F.count(F.lit(1)).alias("n_both")))
    # exact audit counts
    e = (_non_null_keys(df, key_col)
         .select(F.col(group_col).alias("g"), F.col(key_col).alias("u"))
         .distinct().persist())
    per_type = e.groupBy("g").agg(F.count(F.lit(1)).alias("n_t"))
    inter = (e.select(F.col("g").alias("ta"), "u")
             .join(e.select(F.col("g").alias("tb"), "u"), "u")
             .filter(F.col("ta") < F.col("tb"))
             .groupBy("ta", "tb")
             .agg(F.count(F.lit(1)).alias("n_true_inter")))
    est_union = F.when(
        F.col("n_h") < k, F.col("n_h").cast("double")).otherwise(
        F.lit(float(k - 1) * HASH_SPACE) / F.col("kth"))
    jac = F.col("n_both").cast("double") / F.lit(float(k))
    est_inter = F.when(
        F.col("n_h") < k, F.col("n_both").cast("double")).otherwise(
        jac * F.col("est_union"))
    out = (stats
           .join(nboth, ["ta", "tb"], "left")
           .na.fill({"n_both": 0})
           .join(F.broadcast(per_type.select(
               F.col("g").alias("ta"), F.col("n_t").alias("na"))), "ta")
           .join(F.broadcast(per_type.select(
               F.col("g").alias("tb"), F.col("n_t").alias("nb"))), "tb")
           .join(inter, ["ta", "tb"], "left")
           .na.fill({"n_true_inter": 0})
           .withColumn("n_true_union",
                       F.col("na") + F.col("nb") - F.col("n_true_inter"))
           .withColumn("est_union", est_union)
           .withColumn("est_inter", est_inter)
           .select(F.col("ta").alias("type_a"),
                   F.col("tb").alias("type_b"),
                   "n_true_union", "n_true_inter",
                   "est_union", "est_inter")
           .orderBy("type_a", "type_b")
           # group-pair census: |groups|²/2 rows, bounded by the group
           # domain — safe to pin on the driver-side block manager
           .localCheckpoint(eager=True))
    sk.unpersist()
    e.unpersist()
    return out
