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
   of their own, then moves them into the table directory.
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
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LOG_DIR = "_log"
_ENTRY = re.compile(r"(\d+)\.json")
#: Spark lists more than this many paths with a distributed job; a log
#: read names its files, so it raises the threshold above their count
_DISCOVERY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


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


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _path(uri: str) -> str:
    """The decoded path of a file URI (``file:/x`` or ``file:///x``)."""
    return unquote(urlparse(uri).path)


def _local(fs, jpath) -> str | None:
    """``jpath`` on the local disk, or None on another file system."""
    uri = fs.makeQualified(jpath).toUri()
    return uri.getPath() if uri.getScheme() == "file" else None


def _versions(fs, log) -> list[int]:
    return sorted(int(m.group(1)) for st in fs.listStatus(log)
                  if (m := _ENTRY.fullmatch(st.getPath().getName()))) \
        if fs.exists(log) else []


def _read(spark: SparkSession, fs, jpath) -> bytes | None:
    """The bytes of the file at ``jpath``, or None when it is gone."""
    try:
        stream = fs.open(jpath)
    except Py4JJavaError as exc:
        if "FileNotFoundException" not in str(exc.java_exception):
            raise
        return None
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils
                     .toByteArray(stream))
    finally:
        stream.close()


def _create(fs, jpath, data: bytes) -> None:
    """Write ``data`` as the file at ``jpath``, replacing one there."""
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def snapshot(spark: SparkSession, root: str) -> Snapshot:
    """The newest committed version of the table at ``root``."""
    fs, log = _fs(spark, f"{root}/{LOG_DIR}")
    while versions := _versions(fs, log):
        data = _read(spark, fs, spark._jvm.org.apache.hadoop.fs.Path(
            log, f"{versions[-1]:010d}.json"))
        if data is None:  # pruned since the listing
            continue
        entry = json.loads(data)
        return Snapshot(entry["version"],
                        T.StructType.fromJson(entry["schema"]),
                        entry["merge_seq"], tuple(entry["files"]))
    return Snapshot()


def write(df: DataFrame, root: str, partition_by: str | None, kind: str,
          commit: str, fmt: str = "parquet") -> list[dict]:
    """Append ``df`` as new files under ``root`` and return their log
    records. Spark writes into ``_staging/<name>`` — two Spark jobs
    writing into one directory would share its ``_temporary`` — and the
    files move into the table directory. ``<name>``,
    ``<commit>-<attempt>``, starts every file name."""
    spark = df.sparkSession
    name = f"{commit}-{uuid.uuid4().hex[:8]}"
    stage = f"{root}/_staging/{name}"
    w = df.write.option("mapreduce.output.basename", name)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.format(fmt).save(stage)
    fs, jstage = _fs(spark, stage)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    out, local = [], _local(fs, jstage)
    if local is not None:  # py4j round trips per file cost more than os
        dst = _local(fs, Path(root))
        for d, _, names in os.walk(local):
            for rel in (os.path.relpath(os.path.join(d, n), local)
                        for n in names if n.startswith(name)):
                out.append((rel, os.path.getsize(os.path.join(local, rel))))
                _rename(os.path.join(local, rel), os.path.join(dst, rel))
    else:
        prefix = _path(fs.makeQualified(jstage).toUri().toString()) + "/"
        for st in fs.globStatus(Path(f"{stage}/*/{name}-*" if partition_by
                                     else f"{stage}/{name}-*")) or []:
            rel = _path(st.getPath().toUri().toString())[len(prefix):]
            fs.mkdirs(Path(f"{root}/{rel}").getParent())
            if not fs.rename(st.getPath(), Path(f"{root}/{rel}")):
                raise OSError(f"{root}: cannot move {rel} into the table")
            out.append((rel, st.getLen()))
    fs.delete(jstage, True)
    return sorted(({"path": rel, "partition": rel.rpartition("/")[0],
                    "kind": kind, "commit": commit, "size": size}
                   for rel, size in out), key=lambda f: f["path"])


def _rename(src: str, dst: str) -> None:
    """Move local file ``src`` to ``dst``, again if a concurrent commit
    removes the emptied directory meanwhile (:func:`_delete`)."""
    while True:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            return os.rename(src, dst)
        except FileNotFoundError:
            if not os.path.exists(src):
                raise


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
    gone, notes = {f["path"] for f in drop}, notes or {}
    while True:
        new = Snapshot(prev.version + 1, schema or prev.schema,
                       prev.merge_seq if merge_seq is None else merge_seq,
                       tuple({**f, **notes.get(f["path"], {})}
                             for f in prev.files if f["path"] not in gone)
                       + tuple(add))
        if _publish(spark, root, new):
            _delete(spark, root, prev, new)
            return new
        cur = snapshot(spark, root)
        if not _rebases(prev, cur, add, drop):
            _delete(spark, root, Snapshot(files=tuple(add)), Snapshot())
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


def _publish(spark: SparkSession, root: str, snap: Snapshot) -> bool:
    """Put ``snap``'s entry in place, then prune the entries before the
    previous one; False when its version is taken. Never over an
    existing entry: a local entry is linked (rename(2) would replace),
    and an HDFS rename onto an existing file fails, atomically."""
    fs, log = _fs(spark, f"{root}/{LOG_DIR}")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dst = Path(log, f"{snap.version:010d}.json")
    tmp = Path(log, f".{snap.version:010d}.{uuid.uuid4().hex}.tmp")
    _create(fs, tmp, json.dumps({
        "version": snap.version, "schema": snap.schema.jsonValue(),
        "merge_seq": snap.merge_seq, "files": list(snap.files)})
        .encode("utf-8"))
    try:
        if _versions(fs, log)[-1:] >= [snap.version]:
            return False
        if (local := _local(fs, dst)) is None:
            if not fs.rename(tmp, dst):
                return False
        else:
            try:
                os.link(_local(fs, tmp), local)
            except FileExistsError:
                return False
    finally:
        fs.delete(tmp, False)
    versions = _versions(fs, log)
    if versions[-1] > snap.version + 1:
        # two more versions already: this version may have been taken
        # and pruned before the link, and successors built on another
        # entry. Keep every file and start again (operations are
        # idempotent).
        raise Conflict(f"{root}: version {snap.version} was overtaken")
    for v in versions:
        if v < snap.version - 1:
            fs.delete(Path(log, f"{v:010d}.json"), False)
    return True


def _delete(spark: SparkSession, root: str, old: Snapshot,
            new: Snapshot) -> None:
    """Delete the files ``old`` had and ``new`` dropped, then each
    partition directory that left empty — only if empty, because
    another writer may be moving files into it."""
    fs, _ = _fs(spark, root)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    live = {f["path"] for f in new.files}
    gone = [f for f in old.files if f["path"] not in live]
    for f in gone:
        fs.delete(Path(f"{root}/{f['path']}"), False)
        if f["kind"] == "base":  # recorded or not: a writer whose
            # commit lost may have written one
            fs.delete(Path(f"{root}/{_sidecar(f['path'])}"), False)
    for part in ({f["partition"] for f in gone} - {""}
                 - {f["partition"] for f in new.files}):
        jpart = Path(f"{root}/{part}")
        try:  # both fail, atomically, on a directory that is not empty
            if (local := _local(fs, jpart)) is None:
                fs.delete(jpart, False)
            else:
                os.rmdir(local)
        except (OSError, Py4JJavaError):
            pass


def _sidecar(path: str) -> str:
    d, _, name = path.rpartition("/")
    return f"{d}/.{name}.keys" if d else f".{name}.keys"


def write_sidecars(spark: SparkSession, root: str,
                   sidecars: dict[str, bytes]) -> None:
    """Give each data file (relative path, as its record names it) its
    sidecar. The content must follow from the data file alone: two
    writers may race to write one, and the one that loses the rename
    leaves the same bytes in place. On the local disk, sidecars are
    read and written with os: a merge handles hundreds, and per-file
    py4j round trips cost more."""
    fs, jroot = _fs(spark, root)
    local = _local(fs, jroot)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for path, data in sidecars.items():
        tmp = f"{_sidecar(path)}.{uuid.uuid4().hex}.tmp"
        if local is not None:
            try:
                with open(os.path.join(local, tmp), "wb") as fh:
                    fh.write(data)
                os.replace(os.path.join(local, tmp),
                           os.path.join(local, _sidecar(path)))
            except FileNotFoundError:  # a concurrent commit dropped the
                pass  # file and its directory: this commit will conflict
            continue
        _create(fs, Path(jroot, tmp), data)
        try:
            fs.rename(Path(jroot, tmp), Path(jroot, _sidecar(path)))
        finally:
            fs.delete(Path(jroot, tmp), False)


def read_sidecars(spark: SparkSession, root: str,
                  paths) -> dict[str, bytes | None]:
    """Each data file's sidecar, None for one it has not."""
    fs, jroot = _fs(spark, root)
    local = _local(fs, jroot)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    out = {}
    for path in paths:
        if local is None:
            out[path] = _read(spark, fs, Path(jroot, _sidecar(path)))
            continue
        try:
            with open(os.path.join(local, _sidecar(path)), "rb") as fh:
                out[path] = fh.read()
        except FileNotFoundError:
            out[path] = None
    return out


def read(spark: SparkSession, root: str, snap: Snapshot, files,
         fmt: str = "parquet",
         schema: T.StructType | None = None) -> DataFrame:
    """``files`` of ``snap`` as one frame, typed by ``schema`` (default:
    the snapshot's), partition values from the directory names. Starts
    no Spark job: the schema is given, the file list driver-side."""
    schema = schema or snap.schema
    if not files:
        return spark.createDataFrame([], schema)
    prev = spark.conf.get(_DISCOVERY)
    spark.conf.set(_DISCOVERY, str(len(files) + 1))
    try:
        return (spark.read.format(fmt).schema(schema)
                .option("basePath", root)
                .load([f"{root}/{f['path']}" for f in files]))
    finally:
        spark.conf.set(_DISCOVERY, prev)
