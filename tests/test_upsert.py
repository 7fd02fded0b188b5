"""Unit tests for the UpsertTable MERGE writer — the edge cases the
end-to-end cdc_upsert oracle check cannot reach:

* non-partitioned multi-batch merge (a naive overwrite of the path a
  lazy plan still reads destroys the table — FAILED_READ_FILE);
* a partition fully vacated by deletes / cross-partition key moves must
  leave the table log and lose its directory;
* NULL ``__deleted`` flags must be treated as live, not dropped.

Stored state (retained tombstones included) and the merge sequence are
read from the table log, the same place the table reads them.
"""

import pytest

from kafka_connect_msk_demo_spark import tablelog
from kafka_connect_msk_demo_spark.streaming.upsert import UpsertTable


def _stored(spark, t):
    """Every stored row of the newest version, tombstones included."""
    snap = tablelog.snapshot(spark, t.path)
    return tablelog.read(spark, t.path, snap, snap.files)


def _partitions(spark, t):
    return {f["partition"] for f in tablelog.snapshot(spark, t.path).files}


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, part string, val string, ts bigint, seq int, "
              "__deleted string")


def _table(path, partition_by=None):
    return UpsertTable(path=str(path), key_cols=["id"], ordering_col="ts",
                       tiebreak_col="seq", partition_by=partition_by)


def test_nonpartitioned_multibatch(spark, tmp_path):
    t = _table(tmp_path / "t")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "a", "v1", 10, 0, "false")]), 0)
    # second batch: update key 1, insert key 3, delete key 2
    t.merge_batch(_batch(spark, [(1, "a", "v2", 20, 0, "false"),
                                 (3, "b", "v1", 20, 0, "false"),
                                 (2, "a", "v1", 20, 0, "true")]), 1)
    # third batch proves the table survived the second overwrite
    t.merge_batch(_batch(spark, [(4, "b", "v1", 30, 0, "false")]), 2)
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "v2"), (3, "v1"), (4, "v1")}


def test_partition_vacated_by_delete(spark, tmp_path):
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false")]), 0)
    # delete the only row of partition b → directory must disappear
    t.merge_batch(_batch(spark, [(2, "b", "v1", 20, 0, "true")]), 1)
    rows = t.read(spark).collect()
    assert {(r.id, r.part) for r in rows} == {(1, "a")}
    assert _partitions(spark, t) == {"part=a"}
    assert not (tmp_path / "t" / "part=b").exists()


def test_cross_partition_key_move(spark, tmp_path):
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 0)
    # key 1 moves a → b; old partition is fully vacated
    t.merge_batch(_batch(spark, [(1, "b", "v2", 20, 0, "false")]), 1)
    rows = t.read(spark).collect()
    assert {(r.id, r.part, r.val) for r in rows} == {(1, "b", "v2")}
    assert _partitions(spark, t) == {"part=b"}
    assert not (tmp_path / "t" / "part=a").exists()


def test_null_deleted_flag_is_live(spark, tmp_path):
    t = _table(tmp_path / "t")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, None),
                                 (2, "a", "v1", 10, 0, "true")]), 0)
    t.merge_batch(_batch(spark, [(3, "a", "v1", 20, 0, None)]), 1)
    got = {r.id for r in t.read(spark).collect()}
    assert got == {1, 3}


def test_latest_wins_tiebreak(spark, tmp_path):
    t = _table(tmp_path / "t")
    t.merge_batch(_batch(spark, [(1, "a", "lo", 10, 1, "false"),
                                 (1, "a", "hi", 10, 2, "false")]), 0)
    assert [r.val for r in t.read(spark).collect()] == ["hi"]


# -- retain_tombstones (Hudi soft-delete pattern) ---------------------------

def _retaining(path, n, partition_by=None):
    return UpsertTable(path=str(path), key_cols=["id"], ordering_col="ts",
                       tiebreak_col="seq", partition_by=partition_by,
                       retain_tombstones=n)


@pytest.mark.parametrize("part", [None, "part"])
def test_isolated_replay_resurrects_without_retention(spark, tmp_path,
                                                      part):
    """The documented hard-delete parity default: an isolated replay
    of a pre-tombstone version after the delete was applied
    resurrects the key (out-of-contract feed, Hudi-equivalent)."""
    t = _table(tmp_path / "t", partition_by=part)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 0)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]), 1)
    assert t.read(spark).count() == 0
    # isolated replay: the old version WITHOUT its later tombstone
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 2)
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(1, "v1")}


@pytest.mark.parametrize("part", [None, "part"])
def test_retain_tombstones_blocks_resurrection(spark, tmp_path, part):
    t = _retaining(tmp_path / "t", 10, partition_by=part)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "w1", 10, 0, "false")]), 0)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]), 1)
    got = t.read(spark)
    # the tombstone and the stamp column never surface on read()
    assert {(r.id, r.val) for r in got.collect()} == {(2, "w1")}
    assert UpsertTable.TOMB_COL not in got.columns
    # isolated replay within the retention window: latest-wins meets
    # the RETAINED tombstone -> the delete holds
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 2)
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(2, "w1")}
    # and a genuinely NEWER insert of the key still lands
    t.merge_batch(_batch(spark, [(1, "a", "v9", 30, 0, "false")]), 3)
    assert {(r.id, r.val) for r in t.read(spark).collect()} \
        == {(1, "v9"), (2, "w1")}


def test_retention_window_purges_after_n_batches(spark, tmp_path):
    """retain_tombstones=1: the tombstone row is physically purged one
    merge after it was applied — and past the window the table is
    back to hard-delete behavior for isolated replays (the bound is
    the contract, not forever-retention)."""
    t = _retaining(tmp_path / "t", 1)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "a", "w1", 10, 0, "false")]), 0)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]), 1)
    stored = {r.id for r in _stored(spark, t).collect()}
    assert stored == {1, 2}  # tombstone row 1 still stored
    # next merge (unrelated key) purges the aged tombstone
    t.merge_batch(_batch(spark, [(2, "a", "w2", 30, 0, "false")]), 2)
    stored = {r.id for r in _stored(spark, t).collect()}
    assert stored == {2}
    # past the window an isolated replay resurrects again (documented)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 3)
    assert {(r.id, r.val) for r in t.read(spark).collect()} \
        == {(1, "v1"), (2, "w2")}


def test_retention_all_deletes_first_batch(spark, tmp_path):
    """First-ever batch resolving entirely to tombstones: retention
    mode stores the tombstone rows (unlike hard-delete mode's empty
    write) and read() still shows an empty table."""
    t = _retaining(tmp_path / "t", 5, partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "true")]), 0)
    assert t.read(spark).count() == 0
    # the replayed pre-tombstone version does not resurrect
    t.merge_batch(_batch(spark, [(1, "a", "v1", 5, 0, "false")]), 1)
    assert t.read(spark).count() == 0


@pytest.mark.parametrize("part", [None, "part"])
def test_retention_ages_by_merge_count_not_batch_id(spark, tmp_path,
                                                    part):
    """ADVICE r8: tombstone age advances on the persisted per-table
    merge counter. (a) A caller passing the default batch_id=0 on
    EVERY merge must still purge after N merges (previously:
    forever-retention → unbounded table growth); (b) a
    checkpoint-restart batch-id JUMP must not purge the window early."""
    # (a) constant batch_id=0 throughout, window N=1
    t = _retaining(tmp_path / "a", 1, partition_by=part)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "a", "w1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]))
    stored = {r.id for r in _stored(spark, t).collect()}
    assert stored == {1, 2}  # tombstone still within its window
    t.merge_batch(_batch(spark, [(2, "a", "w2", 30, 0, "false")]))
    stored = {r.id for r in _stored(spark, t).collect()}
    assert stored == {2}, "default batch_id=0 retained forever"

    # (b) batch-id jump 1 -> 1000 (checkpoint restart): window N=3
    # has seen only ONE further merge, so the tombstone must survive
    # and an isolated pre-tombstone replay must still lose
    t = _retaining(tmp_path / "b", 3, partition_by=part)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 0)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]), 1)
    t.merge_batch(_batch(spark, [(9, "a", "z1", 30, 0, "false")]), 1000)
    stored = {r.id for r in _stored(spark, t).collect()}
    assert 1 in stored, "batch-id jump purged the window early"
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]), 1001)
    assert {(r.id, r.val) for r in t.read(spark).collect()} \
        == {(9, "z1")}


@pytest.mark.parametrize("part", [None, "part"])
def test_compact_preserves_inwindow_tombstones(spark, tmp_path, part):
    """compact() is a LAYOUT service: it must rewrite the STORED state,
    tombstones included. Rewriting from read() (live rows only) would
    silently purge every in-window tombstone and its stamp column, so
    an isolated pre-tombstone replay after a compact would resurrect
    the deleted key inside the retention window."""
    t = _retaining(tmp_path / "t", 5, partition_by=part)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "a", "w1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]))
    before = {tuple(r) for r in _stored(spark, t).collect()}
    assert any(r[UpsertTable.TOMB_COL] is not None
               for r in _stored(spark, t).collect())
    t.compact(spark, target_bytes=1 << 30, min_files=0)
    stored = _stored(spark, t)
    assert UpsertTable.TOMB_COL in stored.columns
    assert {tuple(r) for r in stored.collect()} == before
    # resurrection stays blocked across the compact
    t.merge_batch(_batch(spark, [(1, "a", "v1", 5, 0, "false")]))
    assert {(r.id, r.val) for r in t.read(spark).collect()} \
        == {(2, "w1")}


def test_cold_partition_tombstone_purged_at_age(spark, tmp_path):
    """A tombstone in a partition NO later merge touches must still be
    purged once its window closes: the merge's rewrite set includes
    aged-tombstone partitions, so cold partitions cannot accumulate
    tombstones forever (the purge contract is 'N further merges', not
    'N further merges that happen to hit the same partition')."""
    t = _retaining(tmp_path / "t", 1, partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "w1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]))
    tombs = [r for r in _stored(spark, t).collect()
             if r[UpsertTable.TOMB_COL] is not None]
    assert [(r.id, r.part) for r in tombs] == [(1, "a")]
    # two further merges touch ONLY partition b; window N=1 expires
    # the part-a tombstone on the first of them
    t.merge_batch(_batch(spark, [(2, "b", "w2", 30, 0, "false")]))
    stored = _stored(spark, t)
    assert stored.filter(
        stored[UpsertTable.TOMB_COL].isNotNull()).count() == 0
    # ... and the vacated partition left the log and the disk
    assert _partitions(spark, t) == {"part=b"}
    assert not (tmp_path / "t" / "part=a").exists()
    t.merge_batch(_batch(spark, [(2, "b", "w3", 40, 0, "false")]))
    assert {(r.id, r.val) for r in t.read(spark).collect()} \
        == {(2, "w3")}


def test_merge_seq_crash_replay_does_not_advance(spark, tmp_path,
                                                 monkeypatch):
    """The merge sequence lives in the log entry: a merge that crashes
    after writing its files but before publishing its entry leaves the
    sequence where it was, so the replay stamps/ages as the SAME merge
    — tombstone windows never advance past data the table didn't
    durably see."""
    t = _retaining(tmp_path / "t", 2)
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false")]))
    assert tablelog.snapshot(spark, t.path).merge_seq == 0

    # crash injection: the files land, the log publish dies
    def boom(*_):
        raise OSError("injected crash before the log entry is published")

    with monkeypatch.context() as m:
        m.setattr(tablelog, "_publish", boom)
        with pytest.raises(OSError):
            t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 1, "true")]))
    assert tablelog.snapshot(spark, t.path).merge_seq == 0  # unmoved
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(1, "v1")}
    # replay of the same batch: stamps as merge 1 (old sequence + 1),
    # identical to what the crashed attempt would have produced
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 1, "true")]))
    assert tablelog.snapshot(spark, t.path).merge_seq == 1
    tombs = {(r.id, r[UpsertTable.TOMB_COL]) for r in
             _stored(spark, t).collect()
             if r[UpsertTable.TOMB_COL] is not None}
    assert tombs == {(1, 1)}
