"""Versioned table log — the one commit protocol behind every table
kind: the Copy-on-Write and Merge-on-Read upsert tables
(``streaming/upsert.py``) and the exactly-once manifest sink
(``sources/files.py``). It plays the part of Hudi's commit timeline.

Data files live in the table directory, in hive ``col=value``
subdirectories when the table is partitioned. ``_log/<version>.json``
is a full snapshot of one version: the live files, the schema and the
retention merge sequence. A reader opens the newest entry only. A
commit deletes the entries before the previous one. Each file record
holds:

* ``path`` (relative, hive-escaped as on disk), ``partition`` (its
  directory), ``kind`` (``base`` or ``delta``), ``commit`` (the id of
  the write) and ``size``;
* on an upsert table's base file, once a merge has scanned it,
  ``keys``: the number of key hashes in the file's sidecar (below),
  and in retention mode ``tomb``, the file's oldest tombstone stamp
  (absent when it holds none) (``streaming/upsert.py``).

A sidecar is a small write-once file beside its data file, named
``.<data file name>.keys`` (hidden, so Spark's directory listing skips
it), written before the commit that records it and deleted with its
data file. An upsert base file's sidecar holds the sorted unique low 32
bits of ``xxhash64`` over its key columns, as little-endian uint32.
Data files are write-once, so a sidecar never goes stale; the log
entry stays proportional to the number of files, and only a merge's
lookup reads sidecars.

Commit order:

1. :func:`write` has Spark write the new files into a staging directory
   of their own, then moves them into the table directory (again when
   a concurrent commit removes an emptied directory meanwhile).
2. :func:`commit` puts the next entry in place under the next version's
   name, never over an existing entry. That is the commit point.
3. Then the files the new version dropped are deleted, with their
   sidecars, and each partition directory they leave empty.

A crash before step 2 or 3 leaves files no entry names, never read.
Writers may run side by side: a commit that finds its version taken
moves onto the newest one if the two cannot conflict (:func:`_rebases`)
— so delta appends pass each other and a compaction — or else raises
:class:`Conflict`, and the operation starts again (:func:`retried`).
The publish step is atomic on the local file system and HDFS; an
object store such as s3a lacks a no-replace rename, so there a table
takes one writer at a time.

All file I/O goes through one handle per table root, which :func:`_fs`
alone picks from the root's qualified URI: :class:`_LocalFS` (``os``)
on the local disk, where a py4j round trip per file costs more than
the I/O, and :class:`_HadoopFS` elsewhere. The rules are written once
against it: the move again in :func:`write`, the temp file put in place
by :func:`_put` (an entry never over a file, a sidecar over a damaged
one) and the empty-only directory removal in :func:`_delete`. Only the
moves in :func:`write` and the first publish make directories, so a
sidecar whose directory a concurrent commit removed is not written.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LOG_DIR = "_log"
_ENTRY = re.compile(r"(\d+)\.json")
#: Spark lists more than this many paths with a distributed job; a log
#: read names its files, so it raises the threshold above their count
_DISCOVERY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
#: held from the raise to the restore, so that concurrent reads in one
#: session cannot restore each other's raised value
_DISCOVERY_LOCK = threading.Lock()


class Conflict(RuntimeError):
    """A concurrent commit changed what this commit read or drops."""


def retried(op):
    """Run ``op`` (which takes its own snapshot) again while it raises
    :class:`Conflict` — each one means another writer made progress."""
    @functools.wraps(op)
    def run(*args, **kwargs):
        while True:
            try:
                return op(*args, **kwargs)
            except Conflict:
                pass
    return run


@dataclass(frozen=True)
class Snapshot:
    """One committed version. ``version == -1`` is a table with no
    commit yet; ``merge_seq == -1`` one that has never merged."""
    version: int = -1
    schema: T.StructType | None = None
    merge_seq: int = -1
    files: tuple = ()

    def of(self, kind: str) -> list[dict]:
        return [f for f in self.files if f["kind"] == kind]


class _LocalFS:
    """A table root on the local disk, through ``os``; paths are
    relative to it. What is gone reads and deletes as nothing, and so
    does a directory not empty unless ``recursive``. ``write`` needs
    the directory; ``place`` makes it and says whether the file went
    in, over a file only with ``replace``."""

    def __init__(self, root: str):
        self.root = root

    def _p(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def listdir(self, rel: str) -> list[str]:
        try:
            return os.listdir(self._p(rel))
        except FileNotFoundError:
            return []

    def size(self, rel: str) -> int:
        return os.path.getsize(self._p(rel))

    def read(self, rel: str) -> bytes | None:
        try:
            with open(self._p(rel), "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    def write(self, rel: str, data: bytes) -> None:
        with open(self._p(rel), "wb") as fh:
            fh.write(data)

    def mkdirs(self, rel: str) -> None:
        os.makedirs(self._p(rel), exist_ok=True)

    def place(self, src: str, dst: str, replace: bool) -> bool:
        self.mkdirs(os.path.dirname(dst))
        try:  # rename(2) replaces a file, a link never does
            (os.replace if replace else os.link)(self._p(src), self._p(dst))
        except (FileExistsError, FileNotFoundError):
            return False
        return True

    def delete(self, rel: str, recursive: bool = False) -> None:
        p = self._p(rel)
        if recursive:
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.isdir(p):
            with contextlib.suppress(OSError):  # fails when not empty
                os.rmdir(p)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)


def _missing(exc: Py4JJavaError) -> bool:
    return "FileNotFoundException" in str(exc.java_exception)


class _HadoopFS:
    """A table root through the Hadoop FileSystem API, as on HDFS: the
    primitives of :class:`_LocalFS`."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm, self.root = spark._jvm, root
        jpath = self._jvm.org.apache.hadoop.fs.Path(root)
        self._fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        self._root = self._fs.makeQualified(jpath)

    def _p(self, rel: str):
        return self._jvm.org.apache.hadoop.fs.Path(self._root, rel)

    def listdir(self, rel: str) -> list[str]:
        if not self._fs.exists(self._p(rel)):  # the log and the stage
            return []  # are never removed while they are listed
        return [st.getPath().getName()
                for st in self._fs.listStatus(self._p(rel))]

    def size(self, rel: str) -> int:
        return self._fs.getFileStatus(self._p(rel)).getLen()

    def read(self, rel: str) -> bytes | None:
        try:
            stream = self._fs.open(self._p(rel))
        except Py4JJavaError as exc:
            if _missing(exc):
                return None
            raise
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils
                         .toByteArray(stream))
        finally:
            stream.close()

    def write(self, rel: str, data: bytes) -> None:
        try:  # a builder's create makes no directory
            out = self._fs.createFile(self._p(rel)).overwrite(True).build()
        except Py4JJavaError as exc:
            raise FileNotFoundError(rel) if _missing(exc) else exc
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def mkdirs(self, rel: str) -> None:
        self._fs.mkdirs(self._p(rel))

    def place(self, src: str, dst: str, replace: bool) -> bool:
        jsrc, jdst = self._p(src), self._p(dst)
        self._fs.mkdirs(jdst.getParent())
        # an HDFS rename onto an existing file fails, atomically
        won = self._fs.rename(jsrc, jdst)
        if not won and replace:
            self._fs.delete(jdst, False)
            won = self._fs.rename(jsrc, jdst)
        return won

    def delete(self, rel: str, recursive: bool = False) -> None:
        with contextlib.suppress(Py4JJavaError):  # fails when not empty
            self._fs.delete(self._p(rel), recursive)


def _fs(spark: SparkSession, root: str) -> _LocalFS | _HadoopFS:
    """The file handle of the table at ``root``: :class:`_LocalFS` when
    the root's qualified URI is a ``file`` one, else :class:`_HadoopFS`.
    The only place that tells the two apart."""
    fs = _HadoopFS(spark, root)
    uri = fs._root.toUri()
    return _LocalFS(uri.getPath()) if uri.getScheme() == "file" else fs


def _entry(version: int) -> str:
    return f"{LOG_DIR}/{version:010d}.json"


def _versions(fs) -> list[int]:
    return sorted(int(m.group(1)) for name in fs.listdir(LOG_DIR)
                  if (m := _ENTRY.fullmatch(name)))


def snapshot(spark: SparkSession, root: str) -> Snapshot:
    """The newest committed version of the table at ``root``."""
    fs = _fs(spark, root)
    while versions := _versions(fs):
        data = fs.read(_entry(versions[-1]))
        if data is None:  # pruned since the listing
            continue
        entry = json.loads(data)
        return Snapshot(entry["version"],
                        T.StructType.fromJson(entry["schema"]),
                        entry["merge_seq"], tuple(entry["files"]))
    return Snapshot()


def _put(fs, rel: str, data: bytes, replace: bool = False) -> bool:
    """Write ``data`` to a temp file beside ``rel`` and put it in place
    as ``rel``, so that no reader sees it half written; whether it went
    in. Over an existing file only with ``replace``: a log entry never
    replaces one, a sidecar replaces a damaged one."""
    tmp = f"{rel}.{uuid.uuid4().hex}.tmp"
    fs.write(tmp, data)
    try:
        return fs.place(tmp, rel, replace)
    finally:
        fs.delete(tmp)


def write(df: DataFrame, root: str, partition_by: str | None, kind: str,
          commit: str) -> list[dict]:
    """Append ``df`` as new files under ``root`` and return their log
    records. Spark writes into ``_staging/<name>`` — two Spark jobs
    writing into one directory would share its ``_temporary`` — and the
    files move into the table directory. ``<name>``,
    ``<commit>-<attempt>``, starts every file name."""
    name = f"{commit}-{uuid.uuid4().hex[:8]}"
    stage = f"_staging/{name}"
    w = df.write.option("mapreduce.output.basename", name)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(f"{root}/{stage}")
    fs, out = _fs(df.sparkSession, root), []
    for part in ([d for d in fs.listdir(stage) if "=" in d]  # col=value
                 if partition_by else [""]):
        for n in fs.listdir(f"{stage}/{part}"):
            if not n.startswith(name):
                continue
            rel = f"{part}/{n}".lstrip("/")
            size = fs.size(f"{stage}/{rel}")
            # again if a concurrent commit removes the emptied
            # directory meanwhile (_delete)
            while not fs.place(f"{stage}/{rel}", rel, True):
                if n not in fs.listdir(f"{stage}/{part}"):
                    raise FileNotFoundError(f"{root}: {stage}/{rel} is gone")
            out.append({"path": rel, "partition": part, "kind": kind,
                        "commit": commit, "size": size})
    fs.delete(stage, recursive=True)
    return sorted(out, key=lambda f: f["path"])


def commit(spark: SparkSession, root: str, prev: Snapshot, add=(),
           drop=(), schema: T.StructType | None = None,
           merge_seq: int | None = None,
           notes: dict[str, dict] | None = None) -> Snapshot:
    """Publish the version after ``prev``: its files minus ``drop``
    plus ``add``. ``schema`` and ``merge_seq`` default to ``prev``'s.
    ``notes`` maps a file path to fields added to that file's record
    (the ``keys`` and ``tomb`` of a merge's lookup); a note on a file
    the new version does not hold is dropped. If another writer
    published first, move onto the newest version when
    :func:`_rebases` allows it; otherwise delete ``add`` and raise
    :class:`Conflict`."""
    fs, gone = _fs(spark, root), {f["path"] for f in drop}
    notes = notes or {}
    while True:
        new = Snapshot(prev.version + 1, schema or prev.schema,
                       prev.merge_seq if merge_seq is None else merge_seq,
                       tuple({**f, **notes.get(f["path"], {})}
                             for f in prev.files if f["path"] not in gone)
                       + tuple(add))
        if _publish(fs, new):
            _delete(fs, prev, new)
            return new
        cur = snapshot(spark, root)
        if not _rebases(prev, cur, add, drop):
            _delete(fs, Snapshot(files=tuple(add)), Snapshot())
            raise Conflict(f"{root}: a concurrent commit changed what "
                           f"version {new.version} read or drops")
        prev = cur


def _rebases(prev: Snapshot, cur: Snapshot, add, drop) -> bool:
    """Whether a commit built on ``prev`` can go onto ``cur`` instead:
    every file it drops is still live, and unless it only appends
    delta files (which reads nothing of the table), the base files and
    merge sequence it read are unchanged."""
    live = {f["path"] for f in cur.files}
    if any(f["path"] not in live for f in drop):
        return False
    if add and all(f["kind"] == "delta" for f in (*add, *drop)):
        return True
    return ((cur.merge_seq, {f["path"] for f in cur.of("base")})
            == (prev.merge_seq, {f["path"] for f in prev.of("base")}))


def _publish(fs, snap: Snapshot) -> bool:
    """Put ``snap``'s entry in place, never over an existing entry,
    then prune the entries before the previous one; False when its
    version is taken."""
    if not (versions := _versions(fs)):
        fs.mkdirs(LOG_DIR)
    elif versions[-1] >= snap.version:
        return False
    if not _put(fs, _entry(snap.version), json.dumps({
            "version": snap.version, "schema": snap.schema.jsonValue(),
            "merge_seq": snap.merge_seq, "files": list(snap.files)})
            .encode("utf-8")):
        return False
    versions = _versions(fs)
    if versions[-1] > snap.version + 1:
        # two more versions already: this version may have been taken
        # and pruned before the put, and successors built on another
        # entry. Keep every file and start again (operations are
        # idempotent).
        raise Conflict(f"{fs.root}: version {snap.version} was overtaken")
    for v in versions:
        if v < snap.version - 1:
            fs.delete(_entry(v))
    return True


def _delete(fs, old: Snapshot, new: Snapshot) -> None:
    """Delete the files ``old`` had and ``new`` dropped, then each
    partition directory that left empty — only if empty, because
    another writer may be moving files into it."""
    live = {f["path"] for f in new.files}
    gone = [f for f in old.files if f["path"] not in live]
    for f in gone:
        fs.delete(f["path"])
        if f["kind"] == "base":  # recorded or not: a writer whose
            # commit lost may have written one
            fs.delete(_sidecar(f["path"]))
    for part in ({f["partition"] for f in gone} - {""}
                 - {f["partition"] for f in new.files}):
        fs.delete(part)  # only if empty


def _sidecar(path: str) -> str:
    d, _, name = path.rpartition("/")
    return f"{d}/.{name}.keys" if d else f".{name}.keys"


def write_sidecars(spark: SparkSession, root: str,
                   sidecars: dict[str, bytes]) -> None:
    """Give each data file (relative path, as its record names it) its
    sidecar, replacing a damaged one. The content must follow from the
    data file alone: two writers may race to write one, and the one
    that puts it in place last leaves the same bytes."""
    fs = _fs(spark, root)
    for path, data in sidecars.items():
        try:
            _put(fs, _sidecar(path), data, replace=True)
        except FileNotFoundError:  # a concurrent commit dropped the
            pass  # file and its directory: this commit will conflict


def read_sidecars(spark: SparkSession, root: str,
                  paths) -> dict[str, bytes | None]:
    """Each data file's sidecar, None for one it has not."""
    fs = _fs(spark, root)
    return {path: fs.read(_sidecar(path)) for path in paths}


def read(spark: SparkSession, root: str, snap: Snapshot, files,
         schema: T.StructType | None = None) -> DataFrame:
    """``files`` of ``snap`` as one frame, typed by ``schema`` (default:
    the snapshot's), partition values from the directory names. Starts
    no Spark job: the schema is given, the file list driver-side."""
    schema = schema or snap.schema
    if not files:
        return spark.createDataFrame([], schema)
    with _DISCOVERY_LOCK:
        prev = spark.conf.get(_DISCOVERY)
        spark.conf.set(_DISCOVERY, str(len(files) + 1))
        try:
            return (spark.read.schema(schema)
                    .option("basePath", root)
                    .parquet(*[f"{root}/{f['path']}" for f in files]))
        finally:
            spark.conf.set(_DISCOVERY, prev)
