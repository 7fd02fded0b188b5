"""Unit tests for the UpsertTable MERGE writer — the edge cases the
end-to-end cdc_upsert oracle check cannot reach:

* non-partitioned multi-batch merge (a naive overwrite of the path a
  lazy plan still reads destroys the table — FAILED_READ_FILE);
* a partition fully vacated by deletes / cross-partition key moves must
  leave the table log and lose its directory;
* NULL ``__deleted`` flags must be treated as live, not dropped;
* the key-fingerprint lookup never misses a partition a merge must
  rewrite (``cdc_upsert`` cannot tell: every partition holding a
  version of an incoming key there also receives a row of the batch),
  and opens no base file whose log record has a fingerprint;
* a bulk insert writes one file per partition directory, and only a
  bulk insert plans the rebalance that clusters it.

Stored state (retained tombstones included) and the merge sequence are
read from the table log, the same place the table reads them.
"""

import json
import os
from collections import Counter
from decimal import Decimal

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


# -- the key-fingerprint lookup ---------------------------------------------
# The first merge after the bootstrap scans the bootstrap files and
# fingerprints the ones it keeps; a third merge then finds their keys
# in the log alone.

def _base(spark, t):
    """Partition -> base file records of the newest version."""
    out = {}
    for f in tablelog.snapshot(spark, t.path).of("base"):
        out.setdefault(f["partition"], []).append(f)
    return out


def _rows(spark, t):
    return {(r.id, r.part, r.val) for r in t.read(spark).collect()}


def _sidecars(t):
    """Relative path -> size of every sidecar in the table directory."""
    return {os.path.relpath(os.path.join(d, n), t.path):
            os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(t.path) for n in names
            if n.endswith(".keys")}


def _recorded(spark, t):
    """The sidecars the newest entry records, relative path -> size."""
    out = {}
    for f in tablelog.snapshot(spark, t.path).of("base"):
        if "keys" in f:
            d, _, name = f["path"].rpartition("/")
            out[f"{d}/.{name}.keys"] = 4 * f["keys"]
    return out


def test_lookup_reads_no_fingerprinted_file(spark, tmp_path):
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false"),
                                 (3, "c", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(3, "c", "v2", 20, 0, "false")]))
    [cold] = _base(spark, t)["part=b"]
    assert cold["keys"]
    # a truncated file fails any read of it
    path = os.path.join(t.path, cold["path"])
    os.truncate(path, os.path.getsize(path) // 2)
    # lands in c, updates key 1 in a: partition b is not needed
    t.merge_batch(_batch(spark, [(1, "a", "v2", 30, 0, "false"),
                                 (4, "c", "v1", 30, 0, "false")]))
    assert _base(spark, t)["part=b"] == [cold]


def test_entry_without_fingerprints_merges_and_gains_them(spark,
                                                          tmp_path):
    """A table whose newest entry has no fingerprint (as tables were
    written before them) is scanned once, and that merge's entry
    fingerprints every base file it keeps."""
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false"),
                                 (3, "c", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(3, "c", "v2", 20, 0, "false")]))
    log = tmp_path / "t" / tablelog.LOG_DIR
    newest = max(log.glob("*.json"))
    entry = json.loads(newest.read_text())
    assert any("keys" in f for f in entry["files"])
    for f in entry["files"]:
        f.pop("keys", None)
    newest.write_text(json.dumps(entry))
    stripped = {f["path"] for f in entry["files"]}
    # key 2 moves out of b, where no row of the batch lands
    t.merge_batch(_batch(spark, [(2, "d", "v2", 30, 0, "false"),
                                 (5, "c", "v1", 30, 0, "false")]))
    assert _rows(spark, t) == {(1, "a", "v1"), (2, "d", "v2"),
                               (3, "c", "v2"), (5, "c", "v1")}
    assert set(_base(spark, t)) == {"part=a", "part=c", "part=d"}
    kept = [f for fs in _base(spark, t).values() for f in fs
            if f["path"] in stripped]
    assert kept and all(f["keys"] for f in kept)
    assert _sidecars(t) == _recorded(spark, t)


def test_lost_sidecar_is_scanned_again(spark, tmp_path):
    """A recorded sidecar that is gone or short counts as no
    fingerprint: the file is scanned and the sidecar written again.
    A dropped file takes its sidecar with it."""
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false"),
                                 (3, "c", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(3, "c", "v2", 20, 0, "false")]))
    want = _recorded(spark, t)
    assert _sidecars(t) == want and len(want) == 2  # c is new
    [a] = [p for p in want if p.startswith("part=a/")]
    [b] = [p for p in want if p.startswith("part=b/")]
    os.remove(os.path.join(t.path, a))
    with open(os.path.join(t.path, b), "r+b") as fh:
        fh.truncate(2)
    # keys 1 and 2 move out of a and b, where no row of the batch lands
    t.merge_batch(_batch(spark, [(1, "d", "v2", 30, 0, "false"),
                                 (2, "d", "v2", 30, 0, "false")]))
    assert _rows(spark, t) == {(1, "d", "v2"), (2, "d", "v2"),
                               (3, "c", "v2")}
    assert set(_base(spark, t)) == {"part=c", "part=d"}
    assert _sidecars(t) == _recorded(spark, t)


def test_bigint_batch_finds_int_stored_keys(spark, tmp_path):
    """Spark hashes ``int 5`` and ``bigint 5`` apart; the lookup hashes
    batch keys under the stored type, also after the merge widened the
    stored column to ``bigint``. A value the stored ``int`` cannot hold
    may only add partitions."""
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(5, "a", "v1", 10, 0, "false"),
                                 (6, "d", "v1", 10, 0, "false"),
                                 (7, "c", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(7, "c", "v2", 20, 0, "false")]))
    assert all(f["keys"] for p in ("part=a", "part=d")
               for f in _base(spark, t)[p])

    def wide(rows):
        return spark.createDataFrame(
            rows, "id bigint, part string, val string, ts bigint, "
                  "seq int, __deleted string")

    t.merge_batch(wide([(5, "b", "v2", 30, 0, "false"),
                        (2 ** 40, "b", "v1", 30, 0, "false")]))
    assert (tablelog.snapshot(spark, t.path).schema["id"].dataType
            .typeName() == "long")
    # d's fingerprint was taken while the column was int
    t.merge_batch(wide([(6, "e", "v2", 40, 0, "false")]))
    assert _rows(spark, t) == {(5, "b", "v2"), (2 ** 40, "b", "v1"),
                               (6, "e", "v2"), (7, "c", "v2")}
    assert set(_base(spark, t)) == {"part=b", "part=c", "part=e"}


def test_composite_key_with_null_component_moves(spark, tmp_path):
    t = UpsertTable(str(tmp_path / "t"), ["k", "n"], "ts", "seq",
                    partition_by="part")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k string, n int, part string, val string, ts bigint, "
                  "seq int, __deleted string")

    t.merge_batch(batch([("x", None, "a", "v1", 10, 0, "false"),
                         (None, 1, "b", "v1", 10, 0, "false"),
                         ("x", 1, "c", "v1", 10, 0, "false")]))
    t.merge_batch(batch([("x", 1, "c", "v2", 20, 0, "false")]))
    # both NULL-bearing keys move out of partitions no row lands in
    t.merge_batch(batch([("x", None, "d", "v2", 30, 0, "false"),
                         (None, 1, "e", "v2", 30, 0, "false")]))
    assert {(r.k, r.n, r.part, r.val) for r in t.read(spark).collect()} \
        == {("x", None, "d", "v2"), (None, 1, "e", "v2"),
            ("x", 1, "c", "v2")}
    assert set(_base(spark, t)) == {"part=c", "part=d", "part=e"}


def test_key_moves_out_of_fingerprinted_partition(spark, tmp_path):
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(2, "b", "v2", 20, 0, "false")]))
    assert _base(spark, t)["part=a"][0]["keys"]
    t.merge_batch(_batch(spark, [(1, "c", "v2", 30, 0, "false")]))
    assert _rows(spark, t) == {(1, "c", "v2"), (2, "b", "v2")}
    assert set(_base(spark, t)) == {"part=b", "part=c"}
    assert not (tmp_path / "t" / "part=a").exists()


def test_fingerprinted_tombstone_purged_at_age(spark, tmp_path):
    """The oldest tombstone stamp in a file's record ages the file out
    with no read of it, in a partition no later batch touches."""
    t = _retaining(tmp_path / "t", 2, partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "w1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(1, "a", "v1", 20, 0, "true")]))  # seq 1
    t.merge_batch(_batch(spark, [(2, "b", "w2", 30, 0, "false")]))
    [rec] = _base(spark, t)["part=a"]
    assert rec["keys"] and rec["tomb"] == 1
    assert "tomb" not in _base(spark, t)["part=b"][0]
    # merge 3 ages out tombstones stamped at 3 - 2 = 1 or before
    t.merge_batch(_batch(spark, [(2, "b", "w3", 40, 0, "false")]))
    stored = _stored(spark, t)
    assert stored.filter(
        stored[UpsertTable.TOMB_COL].isNotNull()).count() == 0
    assert set(_base(spark, t)) == {"part=b"}
    assert _rows(spark, t) == {(2, "b", "w3")}


def test_escaped_partition_values_keep_one_file(spark, tmp_path):
    """Batch rows are matched to the log's hive-escaped directory
    names, so a partition a row lands in is rewritten whole, not
    given a second file."""
    values = ["a b", "x/y", "50%", None]
    t = _table(tmp_path / "t", partition_by="part")
    want = set()
    for n in range(3):
        rows = [(10 * n + i, v, "v1", 10 * n, 0, "false")
                for i, v in enumerate(values)]
        t.merge_batch(_batch(spark, rows))
        want |= {r[:3] for r in rows}
        assert Counter(f["partition"] for f in
                       tablelog.snapshot(spark, t.path).of("base")) \
            == {p: 1 for p in ("part=a b", "part=x%2Fy", "part=50%25",
                               "part=__HIVE_DEFAULT_PARTITION__")}
    assert _rows(spark, t) == want


@pytest.mark.parametrize("stored, sent, value, sent_value", [
    ("double", "int", 5.0, 5),
    ("decimal(10,4)", "decimal(3,2)", Decimal("1.5"), Decimal("1.50"))])
def test_numeric_partition_values_keep_one_file(spark, tmp_path, stored,
                                                sent, value, sent_value):
    """A batch's partition value is matched under the stored type: an
    ``int 5`` lands in the directory a ``double`` column named
    ``5.0``, a ``decimal(3,2)`` 1.50 in ``1.5000``."""
    def batch(rows, typ):
        return spark.createDataFrame(
            rows, f"id int, part {typ}, val string, ts bigint, seq int, "
                  "__deleted string")

    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(batch([(1, value, "v1", 10, 0, "false")], stored))
    t.merge_batch(batch([(2, sent_value, "v1", 20, 0, "false")], sent))
    t.merge_batch(batch([(3, sent_value, "v1", 30, 0, "false")], sent))
    assert [n for n in Counter(
        f["partition"] for f in
        tablelog.snapshot(spark, t.path).of("base")).values()] == [1]
    assert {r.id for r in t.read(spark).collect()} == {1, 2, 3}


def test_lookup_through_the_hadoop_api(spark, tmp_path, monkeypatch):
    """With the Hadoop handle chosen for a local table, the table log
    and the sidecars go through the Hadoop FileSystem API, as on HDFS:
    the same rows, partitions and sidecars."""
    monkeypatch.setattr(tablelog, "_fs", tablelog._HadoopFS)
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false"),
                                 (3, "c", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(3, "c", "v2", 20, 0, "false")]))
    assert len(_recorded(spark, t)) == 2
    # b is not needed: only its sidecar may be read
    [cold] = _base(spark, t)["part=b"]
    path = os.path.join(t.path, cold["path"])
    with open(path, "rb") as fh:
        whole = fh.read()
    os.truncate(path, len(whole) // 2)
    # key 1 moves out of a, where no row of the batch lands
    t.merge_batch(_batch(spark, [(1, "d", "v2", 30, 0, "false")]))
    assert set(_base(spark, t)) == {"part=b", "part=c", "part=d"}
    assert _base(spark, t)["part=b"] == [cold]
    with open(path, "wb") as fh:
        fh.write(whole)
    assert _rows(spark, t) == {(1, "d", "v2"), (2, "b", "v1"),
                               (3, "c", "v2")}
    assert _sidecars(t) == _recorded(spark, t)
    assert not any(n.endswith(".tmp") for _, _, names in os.walk(t.path)
                   for n in names)


# -- file layout ------------------------------------------------------------

def _files_per_directory(t):
    """Partition directory -> number of data files on disk."""
    return Counter(os.path.relpath(d, t.path)
                   for d, _, names in os.walk(t.path) for n in names
                   if n.endswith(".parquet"))


def test_bulk_insert_writes_one_file_per_directory(spark, tmp_path):
    """A merge into an empty table is a bulk insert: its rows are
    clustered by partition value before the write, so every directory
    holds one file, not one per shuffle task of the latest-wins pass.
    AQE's partition coalescing, which merges small shuffle tasks, is
    off so that the tasks stay as many as the shuffle partitions."""
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        t = _table(tmp_path / "t", partition_by="part")
        rows = [(i, f"p{i % 40}", f"v{i}", 10, 0, "false")
                for i in range(800)]
        t.merge_batch(_batch(spark, rows))
    finally:
        spark.conf.set(conf, before)
    files = Counter(f["partition"] for f in
                    tablelog.snapshot(spark, t.path).of("base"))
    assert files == {f"part=p{i}": 1 for i in range(40)}
    assert _files_per_directory(t) == files
    assert _rows(spark, t) == {r[:3] for r in rows}


def test_only_a_bulk_insert_plans_a_rebalance(spark, tmp_path, monkeypatch):
    """The frame a merge hands to ``tablelog.write``: a bulk insert's,
    and one landing only in new partitions, cluster by the partition
    column; one that rewrites stored partitions plans the latest-wins
    exchange alone."""
    plans = []
    real = tablelog.write

    def write(df, *args):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args)

    monkeypatch.setattr(tablelog, "write", write)
    t = _table(tmp_path / "t", partition_by="part")
    t.merge_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                 (2, "b", "v1", 10, 0, "false")]))
    t.merge_batch(_batch(spark, [(3, "c", "v1", 20, 0, "false")]))
    t.merge_batch(_batch(spark, [(1, "a", "v2", 30, 0, "false"),
                                 (4, "c", "v1", 30, 0, "false")]))
    assert _rows(spark, t) == {(1, "a", "v2"), (2, "b", "v1"),
                               (3, "c", "v1"), (4, "c", "v1")}
    bulk, new, stored = plans
    for plan in (bulk, new):
        assert "REBALANCE_PARTITIONS_BY_COL" in plan
        assert plan.count("Exchange ") == 2
    assert "REBALANCE" not in stored
    assert stored.count("Exchange ") == 1
