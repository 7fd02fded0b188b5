"""Round-10 hardening pinned by tests — NULL-text punct_ratio and
quality_score parity with the DuckDB oracle guard, the upsert merge's
rewrite set at high partition cardinality, and corpus-scaled
clustering cells. (The stream-staging lock these tests once covered is
gone: each process stages its own streams in its scratch root, see
``catalog._stream_dir`` and ``tests/test_multibatch.py``.)"""

import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from kafka_connect_msk_demo_spark.pipeline.text_analysis import (
    PUNCT_RE, quality_score, token_stats)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_punct_ratio_null_text_matches_oracle(spark):
    """ADVICE r9: the previous WHEN length(low) == 0 branch is NULL for
    NULL input and fell through to NULL/NULL = NULL, while the oracles'
    coalesce(x / nullif(len, 0), 0.0) yields 0.0. Both sides must pin
    NULL text to 0.0."""
    out = {r.doc_id: r for r in token_stats(_docs(spark, [
        (1, None), (2, ""), (3, "a b!")])).collect()}
    assert out[1].punct_ratio == 0.0
    assert out[2].punct_ratio == 0.0
    assert out[3].punct_ratio == pytest.approx(1.0 / 4.0)
    # DuckDB twin of the guard on a NULL document: same 0.0
    oracle = duckdb.sql(f"""
        SELECT coalesce(
            len(regexp_extract_all(lower(trim(t)), '{PUNCT_RE}'))::DOUBLE
            / nullif(length(lower(trim(t))), 0), 0.0)
        FROM (VALUES (NULL::VARCHAR), (''), ('a b!')) AS v(t)
    """).fetchall()
    assert [row[0] for row in oracle] == [
        0.0, 0.0, pytest.approx(1.0 / 4.0)]


def test_upsert_merge_high_cardinality_partitions_no_literal_list(
        spark, tmp_path, monkeypatch):
    """VERDICT r9 #3: the merge must never turn its rewrite set into a
    literal partition list — with ~10k partition values the old shape
    bloated the driver and put a 10k-literal IN into the plan. Merge
    into a 10k-partition table and verify update / cross-partition
    move / vacating delete semantics, that the commit swaps only the
    touched partitions' files, and the plan shape of the written frame
    (no literal partition list, no partition VALUES, and one latest-wins
    aggregate over the stored rows and the raw batch together)."""
    import pandas as pd

    from kafka_connect_msk_demo_spark import tablelog
    from kafka_connect_msk_demo_spark.streaming.upsert import UpsertTable

    n = 10_000
    path = str(tmp_path / "tenk")
    ut = UpsertTable(path, ["k"], "ts", "tb", partition_by="part")
    # bootstrap through the table's own first commit
    ut.merge_batch(spark.createDataFrame(pd.DataFrame(
        {"k": range(n), "part": [f"p{i:05d}" for i in range(n)],
         "v": [1.0] * n, "ts": [0] * n, "tb": [0] * n,
         "__deleted": ["false"] * n})), 0)
    before = tablelog.snapshot(spark, path)
    assert len({f["partition"] for f in before.files}) == n

    incoming = spark.createDataFrame(
        [(5, "p00005", 99.0, 1, 1, "false"),
         (7, "p00003", 77.0, 1, 1, "false"),
         (9, "p00009", 0.0, 1, 1, "true")],
        "k long, part string, v double, ts long, tb long, "
        "__deleted string")
    plans = []
    write = tablelog.write

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(df, *args, **kwargs)

    monkeypatch.setattr(tablelog, "write", spy)
    ut.merge_batch(incoming, 1)
    # plan shape: the rewrite set reached the plan as a file list, not
    # as a filter over partition values
    [plan] = plans
    assert " IN (" not in plan, "literal partition list leaked back"
    assert "p00005" not in plan, "partition VALUES embedded in plan"
    # one latest-wins pass: the batch is not reduced on its own first
    aggs = re.findall(r"^[\s:|+-]*Aggregate \[", plan, re.M)
    assert len(aggs) == 1, f"{len(aggs)} aggregates in the merge:\n{plan}"

    # the commit swapped only the touched partitions' files: where rows
    # land, the moved key's old partition and the deleted key's
    after = tablelog.snapshot(spark, path)
    old = {f["path"]: f["partition"] for f in before.files}
    new = {f["path"]: f["partition"] for f in after.files}
    assert sorted(old[p] for p in old.keys() - new.keys()) == [
        "part=p00003", "part=p00005", "part=p00007", "part=p00009"]
    assert sorted(new[p] for p in new.keys() - old.keys()) == [
        "part=p00003", "part=p00005"]
    # semantics: update in place, cross-partition move, vacating delete
    assert not os.path.exists(f"{path}/part=p00007"), "move not vacated"
    assert not os.path.exists(f"{path}/part=p00009"), "delete not vacated"
    got = ut.read(spark)
    moved = got.filter("part = 'p00003'").collect()
    assert sorted((r.k, r.v) for r in moved) == [(3, 1.0), (7, 77.0)]
    upd = got.filter("part = 'p00005'").collect()
    assert [(r.k, r.v) for r in upd] == [(5, 99.0)]
    # an untouched partition keeps its original single row
    cold = got.filter("part = 'p00042'").collect()
    assert [(r.k, r.v) for r in cold] == [(42, 1.0)]
    assert got.count() == n - 1


def test_cells_for_corpus_scales_with_n():
    """The SemDeDup/IVF cell-count knob: k ∝ N keeps |cell| near
    target_cell so the within-cell pair scan stays linear (the r10
    scaling audit measured fixed-k=16 at slope ~70x on 10x data)."""
    from kafka_connect_msk_demo_spark.pipeline.similarity import (
        cells_for_corpus)
    assert cells_for_corpus(2_000, target_cell=125) == 16
    assert cells_for_corpus(20_000, target_cell=125) == 160
    assert cells_for_corpus(10, target_cell=125) == 16  # floor
    assert cells_for_corpus(0) == 16
    # ceil division: one over a boundary adds a cell
    assert cells_for_corpus(125 * 100 + 1, target_cell=125) == 101


def test_semdedup_scaled_cells_partitions_all_members(spark, sf_small):
    """semantic_dedup_stats under a corpus-proportional cell count
    still partitions every vector into exactly one cell (Σ n_members
    == N) — the knob changes cost shape, not coverage."""
    from kafka_connect_msk_demo_spark.catalog import load_table
    from kafka_connect_msk_demo_spark.pipeline import similarity

    vecs = load_table(spark, sf_small, "embeddings")
    n = vecs.count()
    k = similarity.cells_for_corpus(n, target_cell=25)
    assert k > 16
    cents = similarity.kmeans_centroids(vecs, k=k, iters=1)
    out = similarity.semantic_dedup_stats(vecs, threshold=0.4,
                                          centroids=cents)
    rows = out.collect()
    assert sum(r.n_members for r in rows) == n
    assert len(rows) <= k


def test_quality_score_null_text_no_null_leak(spark):
    """quality_score on a NULL-text doc must not leak NULL through the
    punct term; the other terms may be NULL-driven but punct_ratio
    itself is pinned."""
    rows = {r.doc_id: r for r in quality_score(_docs(spark, [
        (1, None), (2, "the cat sat")])).collect()}
    assert rows[1].punct_ratio == 0.0
    assert rows[2].quality is not None
