"""The versioned table log (``tablelog.py``) under crash injection.

Every table kind commits in three steps: write the new files, publish
the log entry, delete the files the new version dropped. Each test
kills one commit in between two steps and checks what a reader and the
next commit see:

* the reader sees the old version or the new one, whole;
* no key is in two partitions (no key is stored twice);
* no key deleted by an earlier commit comes back;
* the version and the retention merge sequence advance only when an
  entry is published;
* re-running the killed commit reaches the new version.

The rest check how concurrent writers' commits meet, and that the log
and the table's file count stay bounded.
"""

import dataclasses
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import types as T

from kafka_connect_msk_demo_spark import tablelog
from kafka_connect_msk_demo_spark.sources.files import (manifest_commit,
                                                        read_manifested)
from kafka_connect_msk_demo_spark.streaming.upsert import (MergeOnReadTable,
                                                           UpsertTable)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id int, part string, val string, ts bigint, seq int, "
              "__deleted string")


#: committed before the crash: key 2 deleted; the crashed commit moves
#: key 1 from partition a to b and inserts key 4
_OLD = {(1, "a", "v1"), (3, "b", "v1")}
_NEW = {(1, "b", "v2"), (3, "b", "v1"), (4, "c", "v1")}
_MOVE = [(1, "b", "v2", 30, 0, "false"), (4, "c", "v1", 30, 0, "false")]


def _seed(spark, t, merge):
    merge(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                         (2, "a", "v1", 10, 0, "false"),
                         (3, "b", "v1", 10, 0, "false")]), 0)
    merge(_batch(spark, [(2, "a", "v1", 20, 0, "true")]), 1)


def _rows(df):
    return [(r.id, r.part, r.val) for r in df.collect()]


class _Cow:
    """Copy-on-Write MERGE, partitioned or not."""
    deleted = {2}

    def __init__(self, spark, root, part):
        self.t = UpsertTable(root, ["id"], "ts", "seq", partition_by=part)
        _seed(spark, self.t, self.t.merge_batch)
        self.old, self.new = _OLD, _NEW

    def commit(self, spark):
        self.t.merge_batch(_batch(spark, _MOVE), 2)

    def rows(self, spark):
        return _rows(self.t.read(spark))


class _MorCompaction:
    """Merge-on-Read compaction folding a key move into the base."""
    deleted = {2}

    def __init__(self, spark, root):
        self.t = MergeOnReadTable(root, ["id"], "ts", "seq",
                                  partition_by="part")
        _seed(spark, self.t, self.t.append_batch)
        self.t.compact(spark)
        self.t.append_batch(_batch(spark, _MOVE), 2)
        self.old, self.new = _OLD, _NEW

    def commit(self, spark):
        self.t.compact(spark)

    def rows(self, spark):
        # the real-time view is current before and after the fold
        assert set(_rows(self.t.read_realtime(spark))) == _NEW
        return _rows(self.t.read_optimized(spark))


class _Manifest:
    """manifest_commit retrying a commit id with fewer rows."""
    deleted = set(range(5, 10))

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self._put(range(10), "c-1")
        self._put(range(5), "c-1")        # the retry drops keys 5..9
        self._put(range(100, 105), "c-2")
        self.old = {(k, "", "") for k in [*range(5), *range(100, 105)]}
        self.new = {(k, "", "") for k in [*range(3), *range(100, 105)]}

    def _put(self, keys, commit_id):
        manifest_commit(self.spark.createDataFrame(
            [(k,) for k in keys], "id int"), self.root, commit_id)

    def commit(self, spark):
        self._put(range(3), "c-1")

    def rows(self, spark):
        return [(r.id, "", "") for r in
                read_manifested(spark, self.root).collect()]


_CASES = {
    "cow_partitioned": lambda s, root: _Cow(s, root, "part"),
    "cow_unpartitioned": lambda s, root: _Cow(s, root, None),
    "mor_compaction": _MorCompaction,
    "manifest": _Manifest,
}


def _on_disk(root):
    return {os.path.relpath(os.path.join(d, n), root)
            for d, _, names in os.walk(root) for n in names
            if not n.startswith((".", "_")) and "_log" not in d}


@pytest.mark.parametrize("case", sorted(_CASES))
@pytest.mark.parametrize("step", ["_publish", "_delete"])
def test_crash_between_commit_steps(spark, tmp_path, monkeypatch, case,
                                    step):
    root = str(tmp_path / "t")
    table = _CASES[case](spark, root)
    before = tablelog.snapshot(spark, root)
    assert set(table.rows(spark)) == table.old

    def boom(*_):
        raise OSError(f"injected crash at {step}")

    with monkeypatch.context() as m:
        m.setattr(tablelog, step, boom)
        with pytest.raises(OSError, match="injected crash"):
            table.commit(spark)
    snap = tablelog.snapshot(spark, root)
    logged = {f["path"] for f in snap.files}
    if step == "_publish":
        # the new files are on disk, but no entry names them
        assert _on_disk(root) - logged, "crash came before the write"
        assert (snap.version, snap.merge_seq) == (before.version,
                                                  before.merge_seq)
        want = table.old
    else:
        # the entry is out; the files it dropped are still on disk
        assert {f["path"] for f in before.files} - logged <= _on_disk(root)
        assert snap.version == before.version + 1
        assert snap.merge_seq == before.merge_seq + (case != "manifest")
        want = table.new
    rows = table.rows(spark)
    assert set(rows) == want
    assert len(rows) == len({r[0] for r in rows}), "a key is stored twice"
    assert not table.deleted & {r[0] for r in rows}, "a deleted key is back"

    # re-running the killed commit reaches the new version
    table.commit(spark)
    rows = table.rows(spark)
    assert set(rows) == table.new
    assert len(rows) == len({r[0] for r in rows})
    assert not table.deleted & {r[0] for r in rows}


def test_read_of_partitioned_table_starts_no_job(spark, tmp_path):
    """The reader opens the newest log entry and hands Spark the schema
    and the file list: no listing job and no schema inference, even
    past Spark's 32-path parallel-discovery threshold."""
    t = UpsertTable(str(tmp_path / "t"), ["id"], "ts", "seq",
                    partition_by="part")
    t.merge_batch(_batch(spark, [(i, f"p{i % 40}", "v", 1, 0, "false")
                                 for i in range(400)]), 0)
    assert len(tablelog.snapshot(spark, t.path).files) > 32
    sc = spark.sparkContext
    sc.setJobGroup("tablelog-read", "read of a logged table")
    try:
        df = t.read(spark)
        jobs = list(sc.statusTracker().getJobIdsForGroup("tablelog-read"))
    finally:
        sc.setJobGroup("tablelog-other", "")
    assert jobs == []
    assert df.count() == 400


def _on_other_writer(spark, root, n):
    """``n`` commits by another writer of the manifested table."""
    for i in range(n):
        manifest_commit(spark.range(i, i + 1), root, f"other-{i}")


def test_racing_publishes_of_one_version_one_wins(spark, tmp_path,
                                                  monkeypatch):
    """Writers that all pass the check for a newer entry at once race to
    put the same version in place: exactly one wins, and its entry is
    never replaced."""
    root = str(tmp_path / "t")
    manifest_commit(spark.range(3), root, "c-1")
    snap = tablelog.snapshot(spark, root)
    real = tablelog._versions
    monkeypatch.setattr(tablelog, "_versions", lambda fs: [
        v for v in real(fs) if v <= snap.version])
    racers = [dataclasses.replace(snap, version=snap.version + 1, files=(
        {"path": f"w{i}", "partition": "", "kind": "base",
         "commit": f"w{i}", "size": 0},)) for i in range(8)]
    start = threading.Barrier(len(racers), timeout=60)

    def publish(entry):
        start.wait()
        return tablelog._publish(tablelog._fs(spark, root), entry)

    with ThreadPoolExecutor(len(racers)) as pool:
        won = list(pool.map(publish, racers))
    monkeypatch.undo()
    assert won.count(True) == 1
    assert tablelog.snapshot(spark, root) == racers[won.index(True)]


def test_overtaken_publish_is_a_conflict(spark, tmp_path, monkeypatch):
    """A writer whose version was published and pruned while it worked
    can put its entry under that free name; it must not take that for a
    win (nor delete the files its stale snapshot dropped)."""
    root = str(tmp_path / "t")
    manifest_commit(spark.range(3), root, "c-1")
    stale = tablelog.snapshot(spark, root)
    _on_other_writer(spark, root, 3)
    newest = tablelog.snapshot(spark, root)
    assert sorted(os.listdir(tmp_path / "t" / "_log")) == [
        f"{v:010d}.json" for v in (newest.version - 1, newest.version)]
    real = tablelog._versions
    seen = []

    def miss_the_first_listing(fs):
        seen.append(1)
        return [] if len(seen) == 1 else real(fs)

    monkeypatch.setattr(tablelog, "_versions", miss_the_first_listing)
    with pytest.raises(tablelog.Conflict, match="overtaken"):
        tablelog.commit(spark, root, stale, drop=stale.files)
    monkeypatch.undo()
    assert tablelog.snapshot(spark, root) == newest
    assert read_manifested(spark, root).count() == 6


def test_delta_appends_pass_other_commits(spark, tmp_path):
    """A Merge-on-Read append built on an old snapshot goes onto the
    newest version — past another writer's appends and compaction and
    past pruned log entries — because it reads nothing of the table."""
    root = str(tmp_path / "t")
    t = MergeOnReadTable(root, ["id"], "ts", "seq", partition_by="part")
    t.append_batch(_batch(spark, [(1, "a", "v1", 10, 0, "false"),
                                  (2, "b", "v1", 10, 0, "false")]), 0)
    t.append_batch(_batch(spark, [(1, "a", "v2", 20, 0, "false")]), 1)
    stale = tablelog.snapshot(spark, root)
    # the other writer
    t.append_batch(_batch(spark, [(2, "c", "v2", 20, 0, "false")]), 2)
    t.compact(spark)
    t.append_batch(_batch(spark, [(3, "a", "v1", 20, 0, "false")]), 3)
    newest = tablelog.snapshot(spark, root)
    add = tablelog.write(_batch(spark, [(1, "b", "v3", 30, 0, "false")]),
                         root, "part", "delta", f"{4:09d}")
    snap = tablelog.commit(spark, root, stale, add)
    assert snap.version == newest.version + 1
    assert snap.files == newest.files + tuple(add)
    assert set(_rows(t.read_realtime(spark))) == {
        (1, "b", "v3"), (2, "c", "v2"), (3, "a", "v1")}


def test_conflicting_merge_raises_and_discards_its_files(spark, tmp_path):
    """A base rewrite built on a snapshot whose base another writer has
    changed cannot go on top: its files are deleted and it raises
    Conflict, which the table operations retry from a fresh snapshot."""
    root = str(tmp_path / "t")
    t = UpsertTable(root, ["id"], "ts", "seq", partition_by="part")
    _seed(spark, t, t.merge_batch)
    stale = tablelog.snapshot(spark, root)
    t.merge_batch(_batch(spark, [(3, "b", "v2", 30, 0, "false")]), 2)
    newest = tablelog.snapshot(spark, root)
    add = tablelog.write(t.read(spark), root, "part", "base", "stale")
    with pytest.raises(tablelog.Conflict):
        tablelog.commit(spark, root, stale, add, stale.of("base"),
                        stale.schema, stale.merge_seq + 1)
    assert tablelog.snapshot(spark, root) == newest
    assert not {f["path"] for f in add} & _on_disk(root)
    assert set(_rows(t.read(spark))) == {(1, "a", "v1"), (3, "b", "v2")}


def test_concurrent_appends_and_compaction_converge(spark, tmp_path):
    """Two writers on one Merge-on-Read table at once, appending batches
    with distinct ids while one of them also compacts: appends go on top
    of whatever went in first, and the table ends as the latest-wins
    fold of every batch. Deletes are retained: one writer's batch can
    land after the other's later delete was compacted (see
    ``UpsertTable``'s delivery contract)."""
    root = str(tmp_path / "t")
    t = MergeOnReadTable(root, ["id"], "ts", "seq", partition_by="part",
                         retain_tombstones=64)
    feed = [[(k, f"p{(k + b) % 3}", f"b{b}", b, 0,
              "true" if (k + b) % 5 == 0 else "false")
             for k in range(b % 2, 12, 1 + b % 2)] for b in range(7)]
    t.append_batch(_batch(spark, feed[0]), 0)

    def writer(w):
        for b in range(1 + w, len(feed), 2):
            t.append_batch(_batch(spark, feed[b]), b)
            if w == 0:
                t.compact(spark)

    with ThreadPoolExecutor(2) as pool:
        list(pool.map(writer, (0, 1)))
    latest = {r[0]: r for rows in feed for r in rows}
    want = {r[:3] for r in latest.values() if r[5] == "false"}
    assert set(_rows(t.read_realtime(spark))) == want
    t.compact(spark)
    assert sorted(_rows(t.read_optimized(spark))) == sorted(want)


def test_log_and_files_stay_bounded(spark, tmp_path):
    """However many merges go in, the log holds two entries and no
    partition gathers files: a merge rewrites whole partitions."""
    root = str(tmp_path / "t")
    t = UpsertTable(root, ["id"], "ts", "seq", partition_by="part")
    counts = []
    for b in range(12):
        t.merge_batch(_batch(spark, [(k, f"p{k % 3}", f"v{b}", b, 0,
                                      "false") for k in range(b, b + 20)]))
        counts.append(len(tablelog.snapshot(spark, root).files))
    assert len(os.listdir(tmp_path / "t" / "_log")) == 2
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert max(counts) <= 3 * shuffle, counts
    assert t.read(spark).count() == 31


def test_local_table_makes_no_hadoop_file_system_call(spark, tmp_path,
                                                      monkeypatch):
    """Once the handle of a local table is chosen, a merge's snapshot,
    sidecar reads and writes, file moves, publish and delete all go
    through os: no call reaches the Hadoop FileSystem handle."""
    root = str(tmp_path / "t")
    t = UpsertTable(root, ["id"], "ts", "seq", partition_by="part")
    _seed(spark, t, t.merge_batch)
    assert any("keys" in f for f in tablelog.snapshot(spark, root).files)

    def hadoop(*_):
        raise AssertionError("a Hadoop FileSystem call on the local disk")

    with monkeypatch.context() as m:
        for name in vars(tablelog._HadoopFS):
            if not name.startswith("__"):
                m.setattr(tablelog._HadoopFS, name, hadoop)
        t.merge_batch(_batch(spark, _MOVE), 2)
        snap = tablelog.snapshot(spark, root)
    assert snap.version == 2
    assert set(_rows(t.read(spark))) == _NEW
    assert not (tmp_path / "t" / "part=a").exists()


def test_concurrent_reads_restore_the_discovery_threshold(spark, tmp_path):
    """A read raises Spark's parallel-discovery threshold for one load;
    reads from several threads at once leave the session's value as it
    was before them."""
    root = str(tmp_path / "t")
    manifest_commit(spark.range(0, 8, numPartitions=4), root, "c-1")
    snap = tablelog.snapshot(spark, root)
    assert len(snap.files) > 1
    before = spark.conf.get(tablelog._DISCOVERY)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            reads = [pool.submit(tablelog.read, spark, root, snap,
                                 snap.files[:1 + i % len(snap.files)])
                     for i in range(64)]
            for r in reads:
                r.result(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert spark.conf.get(tablelog._DISCOVERY) == before


def test_log_listing_survives_concurrent_publishes(tmp_path):
    """Publishing writes and removes a temp entry and prunes old ones.
    A reader listing the log meanwhile always finds an entry: a name
    that goes between the listing and its use drops out alone."""
    fs = tablelog._LocalFS(str(tmp_path))
    snap = tablelog.Snapshot(0, T.StructType([]), -1, ())
    assert tablelog._publish(fs, snap)
    done, empty, won = threading.Event(), [], []

    def publish():
        try:
            for v in range(1, 400):
                won.append(tablelog._publish(
                    fs, dataclasses.replace(snap, version=v)))
        finally:
            done.set()

    writer = threading.Thread(target=publish)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        writer.start()
        while not done.is_set():
            if not tablelog._versions(fs):
                empty.append(1)
        writer.join()
    finally:
        sys.setswitchinterval(switch)
    assert not empty, f"{len(empty)} listings of the log came back empty"
    assert won == [True] * 399
    assert tablelog._versions(fs) == [398, 399]


@pytest.mark.parametrize("hadoop", [False, True])
def test_sidecar_of_a_removed_directory_is_skipped(spark, tmp_path,
                                                   monkeypatch, hadoop):
    """A concurrent commit that dropped a data file may have removed its
    partition directory: its sidecar is then not written, and the
    directory does not come back. On either handle."""
    if hadoop:
        monkeypatch.setattr(tablelog, "_fs", tablelog._HadoopFS)
    root = tmp_path / "t"
    (root / "part=a").mkdir(parents=True)
    tablelog.write_sidecars(spark, str(root), {"part=a/f.parquet": b"1234",
                                               "part=b/g.parquet": b"5678"})
    assert (root / "part=a" / ".f.parquet.keys").read_bytes() == b"1234"
    assert not any(n.endswith(".tmp") for n in os.listdir(root / "part=a"))
    assert not (root / "part=b").exists()


class _HdfsRename:
    """A Hadoop FileSystem whose rename never replaces, as on HDFS,
    whatever the wrapped one's rename does; every other call goes to
    the wrapped one."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst):
        return not self._fs.exists(dst) and self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _hdfs(spark, root):
    fs = tablelog._HadoopFS(spark, root)
    fs._fs = _HdfsRename(fs._fs)
    return fs


def test_hadoop_handle_under_hdfs_rename_rules(spark, tmp_path,
                                               monkeypatch):
    """Where a rename never replaces, a publish of a version another
    writer took loses and leaves that entry as it was, and a damaged
    sidecar is deleted and put in place again."""
    monkeypatch.setattr(tablelog, "_fs", _hdfs)
    root = str(tmp_path / "t")
    manifest_commit(spark.range(3), root, "c-1")
    taken = tablelog.snapshot(spark, root)
    entry = (tmp_path / "t" / tablelog._entry(taken.version)).read_bytes()
    real = tablelog._versions
    with monkeypatch.context() as m:  # as if the listing came first
        m.setattr(tablelog, "_versions", lambda fs: [
            v for v in real(fs) if v < taken.version])
        assert not tablelog._publish(tablelog._fs(spark, root),
                                     dataclasses.replace(taken, files=()))
    assert (tmp_path / "t" / tablelog._entry(taken.version)).read_bytes() \
        == entry
    assert tablelog.snapshot(spark, root) == taken
    assert read_manifested(spark, root).count() == 3

    [f] = taken.files[:1]
    sidecar = tmp_path / "t" / tablelog._sidecar(f["path"])
    tablelog.write_sidecars(spark, root, {f["path"]: b"12345678"})
    with open(sidecar, "r+b") as fh:
        fh.truncate(2)
    tablelog.write_sidecars(spark, root, {f["path"]: b"12345678"})
    assert sidecar.read_bytes() == b"12345678"
    assert not any(n.endswith(".tmp") for _, _, names in os.walk(root)
                   for n in names)
