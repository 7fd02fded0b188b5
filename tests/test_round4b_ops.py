"""Semantic tests for the round-4 additions: semantic dedup
(SemDeDup), exact heavy hitters (Misra-Gries + recount), RAG
chunking, bigram-novelty scoring, and trimmed statistics. (Oracle
parity for the registered queries runs via
tests/test_oracle_parity.py.)"""

import pytest
from pyspark.sql import functions as F

from kafka_connect_msk_demo_spark.catalog import load_table
from kafka_connect_msk_demo_spark.operators.aggregates import trimmed_stats
from kafka_connect_msk_demo_spark.pipeline import freq, similarity
from kafka_connect_msk_demo_spark.pipeline.text_analysis import (
    bigram_novelty,
    doc_chunks,
)


# ---------------------------------------------------------------------------
# heavy hitters
# ---------------------------------------------------------------------------


def test_heavy_hitters_exact_under_any_partitioning(spark, sf_small):
    """The MG candidate pass must never lose a true heavy hitter —
    result identical to the exact groupBy regardless of partition
    layout (1, 7, 32 partitions)."""
    docs = load_table(spark, sf_small, "documents")
    tok = docs.select(F.explode(
        F.split(F.lower(F.trim("text")), " ")).alias("w"))
    n = tok.count()
    expect = {(r.w, r.cnt) for r in
              tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
              .filter(F.col("cnt") * 50 >= n).collect()}
    for parts in (1, 7, 32):
        got = {(r.word, r.cnt) for r in
               freq.heavy_hitters(docs.repartition(parts),
                                  phi=50, k=64).collect()}
        assert got == expect, parts


def test_heavy_hitters_share_and_order(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    rows = freq.heavy_hitters(docs, phi=50, k=64).collect()
    assert rows, "synthetic corpus has a small vocab — expected hitters"
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    total = sum(r.cnt / r.share for r in rows[:1])
    assert rows[0].share == pytest.approx(rows[0].cnt / total)


def test_heavy_hitters_rejects_unsound_config(spark, sf_small):
    """k + 1 <= phi voids the superset guarantee — must be refused,
    not silently approximate."""
    docs = load_table(spark, sf_small, "documents")
    with pytest.raises(ValueError):
        freq.heavy_hitters(docs, phi=100, k=64)


def test_mg_merge_bounded_and_superset():
    """Pure-python MG summary: state never exceeds k and any item with
    count > n/(k+1) survives."""
    import pandas as pd
    state: dict = {}
    data = (["hot"] * 400 + ["warm"] * 120
            + [f"cold{i}" for i in range(500)])
    k = 8
    for i in range(0, len(data), 97):
        freq._mg_merge(state, pd.Series(data[i:i + 97]), k)
        assert len(state) <= k
    # hot: 400 > 1020/9 — must survive; warm: 120 > 113 — must survive
    assert "hot" in state and "warm" in state


# ---------------------------------------------------------------------------
# semantic dedup
# ---------------------------------------------------------------------------


def test_semdedup_counts_planted_duplicates(spark, sf_small):
    """Planting exact copies of existing vectors (new ids) must raise
    n_dropped by at least the number of plants — a copy lands in the
    same cell as its original and has cosine 1.0 with it."""
    vecs = load_table(spark, sf_small, "embeddings")
    base = similarity.semantic_dedup_stats(vecs, threshold=0.4)
    base_dropped = sum(r.n_dropped for r in base.collect())
    max_id = vecs.agg(F.max("vec_id")).collect()[0][0]
    plants = (vecs.filter(F.col("vec_id") % 97 == 0)
              .withColumn("vec_id", F.col("vec_id") + max_id + 1))
    n_plants = plants.count()
    assert n_plants > 0
    aug = vecs.unionByName(plants)
    got = similarity.semantic_dedup_stats(aug, threshold=0.4)
    rows = got.collect()
    assert sum(r.n_members for r in rows) == vecs.count() + n_plants
    assert sum(r.n_dropped for r in rows) >= base_dropped + n_plants


def test_semdedup_members_partition_the_corpus(spark, sf_small):
    vecs = load_table(spark, sf_small, "embeddings")
    rows = similarity.semantic_dedup_stats(vecs).collect()
    assert sum(r.n_members for r in rows) == vecs.count()
    for r in rows:
        assert 0 <= r.n_dropped <= r.n_members
        assert r.n_dropped <= r.n_dup_pairs


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def test_doc_chunks_cover_and_overlap(spark):
    """Chunk starts advance by the stride, every token is covered, and
    consecutive chunks overlap by size - stride tokens."""
    words = [f"w{i}" for i in range(75)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = doc_chunks(df, size=32, stride=24).collect()
    assert [r.start_tok for r in rows] == [0, 24, 48, 72]
    assert [r.n_tok for r in rows] == [32, 32, 27, 3]
    assert rows[-1].start_tok + rows[-1].n_tok == 75


def test_doc_chunks_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = doc_chunks(df, size=32, stride=24).collect()
    assert len(rows) == 1 and rows[0].n_tok == 3 and rows[0].chunk_idx == 0


# ---------------------------------------------------------------------------
# bigram novelty
# ---------------------------------------------------------------------------


def test_bigram_novelty_flags_the_odd_document(spark):
    """A document whose transitions appear nowhere else scores the
    minimum possible mean frequency (1.0) and ranks first."""
    common = [(i, "the cat sat on the mat") for i in range(10)]
    df = spark.createDataFrame(common + [(99, "zyx qwv jkl pqr")],
                               "doc_id long, text string")
    rows = bigram_novelty(df, k=3).collect()
    assert rows[0].doc_id == 99
    assert rows[0].avg_bigram_freq == 1.0
    assert rows[1].avg_bigram_freq > 1.0


def test_bigram_novelty_excludes_single_token_docs(spark):
    df = spark.createDataFrame([(1, "solo"), (2, "a b")],
                               "doc_id long, text string")
    rows = bigram_novelty(df, k=10).collect()
    assert [r.doc_id for r in rows] == [2]


def test_interpolation_matches_numpy_on_random_series(spark):
    """Seeded random series: every grid value equals numpy.interp's
    linear blend (reference implementation replay)."""
    import numpy as np
    from kafka_connect_msk_demo_spark.operators.temporal import (
        linear_interpolate_grid)
    rng = np.random.default_rng(7)
    rows = []
    series = {}
    for k in range(5):
        ts = np.sort(rng.choice(np.arange(0, 5000), size=40,
                                replace=False)).astype(int)
        vs = np.round(rng.normal(0, 100, size=40), 3)
        series[k] = (ts, vs)
        rows += [(k, int(t), float(v)) for t, v in zip(ts, vs)]
    df = spark.createDataFrame(rows, "k int, t long, v double")
    got = linear_interpolate_grid(df, "k", "t", "v", step=37).collect()
    assert got, "grid produced no rows"
    import pytest as _pt
    for r in got:
        ts, vs = series[r.k]
        assert ts[0] <= r.t <= ts[-1]
        expect = float(np.interp(r.t, ts, vs))
        assert r.v_interp == _pt.approx(expect, rel=1e-9, abs=1e-9), \
            (r.k, r.t, r.v_interp, expect)


def test_trimmed_stats_matches_pandas_replay(spark):
    """Seeded random groups: trimmed mean/min/max equal a pandas
    replay of the exact-rank trimming rule."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "g": rng.integers(0, 6, size=500),
        "v": np.round(rng.normal(50, 20, size=500), 2),
        "id": np.arange(500)})
    df = spark.createDataFrame(pdf.astype(
        {"g": "int64", "v": "float64", "id": "int64"}))
    got = {r.g: r for r in trimmed_stats(
        df, ["g"], "v", "id", trim_pct=5).collect()}
    for g, grp in pdf.groupby("g"):
        s = grp.sort_values(["v", "id"]).reset_index(drop=True)
        k = len(s) * 5 // 100
        kept = s.iloc[k:len(s) - k]
        r = got[g]
        assert r.n_kept == len(kept) and r.n_total == len(s)
        assert r.trimmed_min == kept["v"].min()
        assert r.trimmed_max == kept["v"].max()
        assert r.trimmed_mean == pytest.approx(kept["v"].mean(),
                                               rel=1e-9)


def test_heavy_hitters_random_zipf(spark):
    """Seeded Zipf-distributed tokens: the two-pass operator equals
    the exact answer (heavy tail + many singletons stresses the MG
    prune path)."""
    import numpy as np
    rng = np.random.default_rng(13)
    words = [f"w{z}" for z in rng.zipf(1.5, size=4000) if z < 10**6]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 40:(i + 1) * 40]))
         for i in range(len(words) // 40)],
        "doc_id long, text string")
    n = sum(len(t.split()) for _, t in docs.collect())
    tok = docs.select(F.explode(
        F.split(F.lower(F.trim("text")), " ")).alias("w"))
    expect = {(r.w, r.cnt) for r in
              tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
              .filter(F.col("cnt") * 50 >= n).collect()}
    got = {(r.word, r.cnt) for r in
           freq.heavy_hitters(docs.repartition(13), phi=50, k=64)
           .collect()}
    assert got == expect and got


# ---------------------------------------------------------------------------
# compaction (table services)
# ---------------------------------------------------------------------------


def _mk_table(spark, path, partitioned):
    """A table whose first merge wrote its 2000 rows with 10 tasks: 10
    small files in each partition (the small-file debt)."""
    from kafka_connect_msk_demo_spark.streaming.upsert import UpsertTable
    t = UpsertTable(path, ["k"], "ts", "k",
                    partition_by="p" if partitioned else None)
    conf = {"spark.sql.shuffle.partitions": "10",
            "spark.sql.adaptive.enabled": "false"}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        t.merge_batch(spark.range(2000).repartition(10).select(
            F.col("id").alias("k"), F.lit(1).alias("v"),
            (F.col("id") % 2).cast("string").alias("p"),
            F.lit(0).alias("ts"), F.lit("false").alias("__deleted")))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return t


def test_compact_reduces_files_preserves_data_partitioned(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t1"), partitioned=True)
    before = sorted(r.k for r in t.read(spark).collect())
    stats0 = t.file_stats(spark)
    assert all(n == 10 for _, n, _ in stats0)
    rewritten = t.compact(spark, target_bytes=1 << 30, min_files=2)
    assert sorted(rewritten) == ["p=0", "p=1"]
    stats1 = t.file_stats(spark)
    assert all(n == 1 for _, n, _ in stats1), stats1
    assert sorted(r.k for r in t.read(spark).collect()) == before


def test_compact_unpartitioned_and_noop_below_threshold(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t2"), partitioned=False)
    before = sorted(r.k for r in t.read(spark).collect())
    assert t.compact(spark, target_bytes=1 << 30, min_files=2) == [""]
    assert t.file_stats(spark)[0][1] == 1
    assert sorted(r.k for r in t.read(spark).collect()) == before
    # already compact — second run is a no-op
    assert t.compact(spark, target_bytes=1 << 30, min_files=2) == []


# ---------------------------------------------------------------------------
# trimmed stats
# ---------------------------------------------------------------------------


def test_trimmed_stats_drops_exactly_the_tails(spark):
    """100 rows, 5% trim → ranks 6..95 survive: mean of 6..95, min 6,
    max 95."""
    df = spark.createDataFrame([(1, float(i), i) for i in range(1, 101)],
                               "g int, v double, id int")
    r = trimmed_stats(df, ["g"], "v", "id", trim_pct=5).collect()[0]
    assert r.n_kept == 90 and r.n_total == 100
    assert r.trimmed_min == 6.0 and r.trimmed_max == 95.0
    assert r.trimmed_mean == pytest.approx(sum(range(6, 96)) / 90)


def test_linear_interpolation_exact_values(spark):
    """Grid points between observations carry the exact linear blend;
    grid points that coincide with an observation return it
    verbatim."""
    from kafka_connect_msk_demo_spark.operators.temporal import (
        linear_interpolate_grid)
    obs = spark.createDataFrame(
        [(1, 0, 10.0), (1, 100, 30.0), (1, 250, 20.0)],
        "k int, t long, v double")
    rows = linear_interpolate_grid(obs, "k", "t", "v", step=50).collect()
    got = {r.t: r.v_interp for r in rows}
    # expected values via the operator's own formula v0 + (v1-v0)*frac
    assert got == {0: 10.0, 50: 10.0 + 20.0 * (50 / 100), 100: 30.0,
                   150: 30.0 + -10.0 * (50 / 150),
                   200: 30.0 + -10.0 * (100 / 150), 250: 20.0}
    by_t = {r.t: r for r in rows}
    assert by_t[50].prev_ts == 0 and by_t[50].next_ts == 100
    assert by_t[100].prev_ts == 100 and by_t[100].next_ts == 100


def test_linear_interpolation_dedupes_tied_observations(spark):
    """Duplicate (key, ts) observations collapse via max before the
    windows — results stay deterministic under any partition order."""
    from kafka_connect_msk_demo_spark.operators.temporal import (
        linear_interpolate_grid)
    obs = spark.createDataFrame(
        [(1, 0, 1.0), (1, 0, 5.0), (1, 100, 9.0)],
        "k int, t long, v double")
    rows = linear_interpolate_grid(obs, "k", "t", "v", step=50).collect()
    got = {r.t: r.v_interp for r in rows}
    assert got == {0: 5.0, 50: 7.0, 100: 9.0}


def test_zorder_files_cover_square_tiles(spark):
    """On the full 16x16 bucket grid, every one of 16 z-slices covers
    exactly a 4x4 tile — both per-file spans stay at 4, where a linear
    layout would span the whole minor dimension (16)."""
    from kafka_connect_msk_demo_spark.operators.layout import (
        zorder_file_stats)
    grid = spark.range(256).select(
        (F.col("id") / 16).cast("long").alias("x"),
        (F.col("id") % 16).alias("y"))
    rows = zorder_file_stats(grid, F.col("x"), F.col("y"),
                             bits=4, files=16).collect()
    assert len(rows) == 16
    for r in rows:
        assert r.n_rows == 16
        assert r.b1_span == 4 and r.b2_span == 4


def test_zorder_interleave_bijective(spark):
    """The Morton key is a bijection on the bucket grid."""
    from kafka_connect_msk_demo_spark.operators.layout import (
        z_interleave_expr)
    grid = spark.range(256).select(
        (F.col("id") / 16).cast("long").alias("x"),
        (F.col("id") % 16).alias("y"))
    zs = [r.z for r in grid.select(
        z_interleave_expr(F.col("x"), F.col("y"), 4).alias("z")).collect()]
    assert sorted(zs) == list(range(256))


def test_mix_allocation_budget_arithmetic(spark, sf_small):
    """Tier targets realize the half-corpus budget with 1:2:3:4
    weights: rate == target/tier_tokens for uncapped tiers, 1.0 for
    capped ones, and total target never exceeds the budget."""
    from kafka_connect_msk_demo_spark.catalog import load_table
    from kafka_connect_msk_demo_spark.pipeline.selection import (
        mix_allocation)
    docs = load_table(spark, sf_small, "documents")
    rows = mix_allocation(docs).collect()
    corpus = sum(r.tier_tokens for r in rows)
    assert sum(r.target_tokens for r in rows) <= corpus // 2 + len(rows)
    for r in rows:
        assert r.target_tokens <= r.tier_tokens
        if r.budget_capped:
            assert r.sample_rate == 1.0
        else:
            assert 0.0 < r.sample_rate < 1.0
            # rate is the exact rational target_num/(tier_tokens*den);
            # target_tokens is its floor — compare the rational
            assert r.sample_rate == pytest.approx(
                corpus * (r.tier + 1) / (r.tier_tokens * 20), rel=1e-12)


def test_trimmed_stats_small_group_untrimmed(spark):
    """n·pct/100 rounds to zero for tiny groups — nothing is dropped."""
    df = spark.createDataFrame([(1, float(i), i) for i in range(5)],
                               "g int, v double, id int")
    r = trimmed_stats(df, ["g"], "v", "id", trim_pct=5).collect()[0]
    assert r.n_kept == 5 and r.trimmed_min == 0.0 and r.trimmed_max == 4.0
