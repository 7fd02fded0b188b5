"""Round-10 hardening: ADVICE r9 fixes pinned by tests — NULL-text
punct_ratio parity with the DuckDB oracle guard, and the staging-lock
recovery fallback's errno/ownership discipline."""

import os

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


def test_lock_recovery_clears_planted_symlink(tmp_path):
    """A planted symlink (ELOOP under O_NOFOLLOW) is unlinked and the
    lock recreated as a regular file we hold flocked."""
    from kafka_connect_msk_demo_spark.catalog import _open_staging_lock
    lock = str(tmp_path / "t.lock")
    os.symlink("/nonexistent-target", lock)
    fd = _open_staging_lock(lock)
    try:
        assert not os.path.islink(lock)
        assert os.fstat(fd).st_ino == os.stat(lock).st_ino
    finally:
        os.close(fd)


def test_lock_recovery_never_unlinks_same_uid_regular_file(tmp_path):
    """ADVICE r9: an unreadable same-uid regular file at the lock path
    (EACCES) is another worker's lock, not a plant — recovery must
    retry the open and eventually fail diagnosably WITHOUT unlinking
    it (unlinking would put two workers on different lock inodes)."""
    if os.getuid() == 0:
        pytest.skip("root bypasses file permission checks")
    from kafka_connect_msk_demo_spark.catalog import _open_staging_lock
    lock = str(tmp_path / "t.lock")
    with open(lock, "w"):
        pass
    os.chmod(lock, 0o000)
    ino = os.stat(lock).st_ino
    with pytest.raises(RuntimeError, match="unusable"):
        _open_staging_lock(lock, attempts=3)
    assert os.stat(lock).st_ino == ino, "healthy same-uid lock unlinked"


def test_lock_eacces_on_same_uid_file_retries_not_unlinks(tmp_path,
                                                          monkeypatch):
    """uid-independent twin of the test above (this sandbox runs as
    root, which bypasses permission bits): EACCES is injected at the
    open while a same-uid regular file sits at the path — recovery
    must retry and fail diagnosably without ever unlinking it."""
    import errno as _errno

    from kafka_connect_msk_demo_spark.catalog import _open_staging_lock
    lock = str(tmp_path / "t.lock")
    with open(lock, "w"):
        pass
    ino = os.stat(lock).st_ino
    real_open = os.open
    calls = {"n": 0}

    def denying_open(path, flags, mode=0o777, **kw):
        if path == lock:
            calls["n"] += 1
            raise OSError(_errno.EACCES, "permission denied", path)
        return real_open(path, flags, mode, **kw)

    monkeypatch.setattr(os, "open", denying_open)
    with pytest.raises(RuntimeError, match="unusable"):
        _open_staging_lock(lock, attempts=4)
    monkeypatch.undo()
    assert calls["n"] == 4, "open not retried per attempt"
    assert os.stat(lock).st_ino == ino, "same-uid lock was unlinked"


def test_lock_transient_errno_propagates_without_unlink(tmp_path,
                                                        monkeypatch):
    """A transient EMFILE on open must propagate as OSError — never
    enter the unlink-recovery path against a healthy lock file."""
    import errno as _errno

    from kafka_connect_msk_demo_spark.catalog import _open_staging_lock
    lock = str(tmp_path / "t.lock")
    with open(lock, "w"):
        pass
    ino = os.stat(lock).st_ino
    real_open = os.open

    def fake_open(path, flags, mode=0o777, **kw):
        if path == lock:
            raise OSError(_errno.EMFILE, "too many open files", path)
        return real_open(path, flags, mode, **kw)

    monkeypatch.setattr(os, "open", fake_open)
    with pytest.raises(OSError) as ei:
        _open_staging_lock(lock)
    assert ei.value.errno == _errno.EMFILE
    monkeypatch.undo()
    assert os.stat(lock).st_ino == ino, "lock unlinked on EMFILE"


def test_lock_inode_verified_after_flock(tmp_path, monkeypatch):
    """If the directory entry is replaced between our open and flock,
    the flocked fd is a dead inode — the helper must detect the
    mismatch and retry until fd and path agree."""
    import fcntl as _fcntl

    from kafka_connect_msk_demo_spark.catalog import _open_staging_lock
    lock = str(tmp_path / "t.lock")
    real_flock = _fcntl.flock
    swapped = {"done": False}

    def racing_flock(fd, op):
        if not swapped["done"]:
            swapped["done"] = True
            os.unlink(lock)
            with open(lock, "w"):
                pass  # another worker recreates the entry
        return real_flock(fd, op)

    monkeypatch.setattr(_fcntl, "flock", racing_flock)
    fd = _open_staging_lock(lock)
    try:
        assert swapped["done"]
        assert os.fstat(fd).st_ino == os.stat(lock).st_ino
    finally:
        os.close(fd)


def test_upsert_merge_high_cardinality_partitions_no_literal_list(
        spark, tmp_path, monkeypatch):
    """VERDICT r9 #3: the merge must never turn its rewrite set into a
    literal partition list — with ~10k partition values the old shape
    bloated the driver and put a 10k-literal IN into the plan. Merge
    into a 10k-partition table and verify update / cross-partition
    move / vacating delete semantics, that the commit swaps only the
    touched partitions' files, and the plan shape of the written frame
    (no literal partition list, no partition VALUES)."""
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
