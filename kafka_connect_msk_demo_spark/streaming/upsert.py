"""Upsertable table — the engine's native replacement for the
reference's Hudi DeltaStreamer plane (SURVEY.md §3.3, §2.1 S15).

Semantics reproduced:

* record key + ordering field, latest-wins
  (``deltastreamer_jobs_bulk.sh:13`` ``--source-ordering-field
  __source_ts_ms``; recordkey ``artist_id``
  ``deltastreamer_artists_apicurio_cow.properties:17``),
* hive-style partitioned layout (``:15-16``),
* delete rewrite: rows whose latest version has ``__deleted='true'``
  leave the table (``demonstration_notes.md:218-224``),
* cross-partition key moves — the reason the reference needs
  ``hoodie.index.type=GLOBAL_BLOOM`` (``…cow.properties:28``) — are
  handled by keying the MERGE on the record key alone and recomputing
  the partition path every batch.

Delivery contract (same as Hudi hard delete): redelivery of a key's OLD
version is harmless while a newer version is stored (max_by re-picks
the stored winner), but an APPLIED tombstone leaves no trace, so an
isolated replay of a pre-tombstone version would resurrect the key.
The reference's transport cannot produce one: Debezium keys the topic
by primary key, Kafka keeps per-key order, and replays are contiguous
SUFFIX replays that carry the tombstone again. Other feeds are outside
the contract (tests/test_mor.py::
test_post_delete_isolated_replay_is_out_of_contract) unless they opt
into Hudi's soft delete, ``retain_tombstones=N``: applied deletes stay
stored as tombstone rows for N further merges — aged by the logged
merge sequence, not caller batch ids — and never surface on ``read()``
(tests/test_upsert.py::test_retain_tombstones_blocks_resurrection).

Physical strategy
-----------------
Every table commits through one versioned log (``tablelog``): first
the new parquet files, then the ``_log/<version>.json`` entry naming the
table's live files, schema and merge sequence, then the deletion of the
files that version dropped. A reader sees one version whole, and after
a crash no key is in two live files.

Each Copy-on-Write MERGE:

1. finds the partitions it must rewrite: where incoming rows land and
   where a version of an incoming key lives now. Each base file has a
   sidecar fingerprint of its keys (the low 32 bits of their
   ``xxhash64``), the membership summary behind Hudi's
   ``GLOBAL_BLOOM`` index, so a key is found wherever it lives without
   reading the base. One scan-only collect gets the batch's hashes and
   partition values, plus the (file, hash) pairs of the files no merge
   has fingerprinted yet (the ones the previous merge wrote), whose
   sidecars this merge writes and its entry records. The driver holds
   4 bytes per key of every base file while it picks, and the first
   merge after a bulk write collects a pair per row it wrote. A hash
   collision only rewrites a partition that did not need it;
2. unions the stored rows of those partitions with the raw batch and
   keeps one winner per key in a single pass
   (``operators.dedup_rank.latest_by_key``: one shuffle on the key, then
   a sort-based ``max_by`` aggregate with map-side partials), and writes
   the result as new files, each row under its new partition value.
   A merge that rewrites no stored rows is a bulk insert (the
   bootstrap, or rows landing only in new partitions): its result is
   rebalanced on the partition column first, so each directory gets
   one file instead of one per shuffle task, and AQE still splits a
   skewed partition at the advisory size. A merge over stored
   partitions keeps its single exchange: AQE already coalesces its
   small result into few tasks, and a second exchange would cost more
   than the files it saves;
3. commits the new files in and the rewritten ones out, in one entry,
   merging again on a newer snapshot if a concurrent commit conflicts.

So the per-batch cost scales with the partitions a batch touches, not
the table, and no partition gathers files merge after merge.
Merge-on-Read adds its per-batch delta files to the same log;
compaction folds them into base files in one commit.
"""

from __future__ import annotations

from urllib.parse import unquote

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import tablelog
from ..operators.dedup_rank import latest_by_key

_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class UpsertTable:
    """Primary-keyed, partitioned, time-ordered parquet table with
    latest-wins MERGE (W5)."""

    #: internal column stamping the MERGE SEQUENCE at which a retained
    #: tombstone was applied (retain_tombstones mode only)
    TOMB_COL = "__tomb_since"

    def __init__(self, path: str, key_cols: list[str], ordering_col: str,
                 tiebreak_col: str, partition_by: str | None = None,
                 deleted_col: str = "__deleted",
                 retain_tombstones: int | None = None) -> None:
        """``retain_tombstones=N`` keeps an applied delete as a stored
        tombstone row for N further merges (Hudi's soft delete), so an
        ISOLATED replay of a pre-tombstone version within the window
        loses to it. The default (``None``) is Hudi's hard delete: the
        table stores live rows only. Choose retention at table creation.

        Tombstone age is the merge sequence each log entry carries, not
        the caller's ``batch_id`` (ADVICE r8): ``batch_id=0`` on every
        merge still purges, and a batch-id jump cannot purge early. The
        sequence advances only when a merge's entry is published, so a
        merge that crashed before publishing replays as the same one."""
        self.path = path.rstrip("/")
        self.key_cols = key_cols
        self.ordering_col = ordering_col
        self.tiebreak_col = tiebreak_col
        self.partition_by = partition_by
        self.deleted_col = deleted_col
        self.retain_tombstones = retain_tombstones

    # -- helpers ----------------------------------------------------------

    def _stored(self, spark: SparkSession,
                snap: tablelog.Snapshot) -> DataFrame:
        """The base rows of ``snap`` verbatim, retained tombstones
        included; no base file reads as 0 rows of the logged schema."""
        return tablelog.read(spark, self.path, snap, snap.of("base"))

    def _live(self, df: DataFrame) -> DataFrame:
        """Drop deleted rows, null-safely: a NULL deleted flag means the
        row was never deleted (external CDC feeds may leave it NULL)."""
        return df.filter(
            ~F.coalesce(F.col(self.deleted_col) == "true", F.lit(False)))

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the merged table (live rows; retained tombstones and
        the internal stamp column never surface)."""
        stored = self._stored(spark, tablelog.snapshot(spark, self.path))
        if self.retain_tombstones is None:
            return stored
        return self._live(stored).drop(self.TOMB_COL)

    def _merged_state(self, merged: DataFrame,
                      merge_seq: int) -> DataFrame:
        """Rows to STORE after a merge: live rows, plus, with
        ``retain_tombstones=N``, applied tombstones stamped with the
        merge sequence that applied them, purged N merges later."""
        if self.retain_tombstones is None:
            return self._live(merged)
        dead = F.coalesce(F.col(self.deleted_col) == "true", F.lit(False))
        stamped = merged.withColumn(
            self.TOMB_COL,
            F.when(~dead, F.lit(None).cast("long"))
            .otherwise(F.coalesce(F.col(self.TOMB_COL),
                                  F.lit(merge_seq).cast("long"))))
        return stamped.filter(
            (~dead) | (F.lit(merge_seq) - F.col(self.TOMB_COL)
                       < F.lit(self.retain_tombstones)))

    def _with_tomb(self, df: DataFrame) -> DataFrame:
        """Ensure the internal stamp column exists (retention mode)."""
        if self.TOMB_COL in df.columns:
            return df
        return df.withColumn(self.TOMB_COL, F.lit(None).cast("long"))

    def _key_hash(self, schema: T.StructType) -> Column:
        """The low 32 bits of ``xxhash64`` over the key columns, each
        taken under its stored type in ``schema``: Spark hashes ``int
        5`` and ``bigint 5`` apart, while the merge matches them. A
        numeric key then hashes as a double, so a fingerprint outlives
        the widening of its column (an ``int`` key turns ``bigint`` when
        a ``bigint`` batch merges in). A batch value the stored type
        cannot hold hashes as NULL, which at worst picks a partition
        too many: no stored key equals it."""
        cols = []
        for k in self.key_cols:
            t = schema[k].dataType
            c = F.col(k).try_cast(t)
            cols.append(c.cast("double") if isinstance(t, T.NumericType)
                        else c)
        return F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)).alias("_h")

    def _touched(self, snap: tablelog.Snapshot, batch: DataFrame,
                 merge_seq: int) -> tuple[list[dict], dict[str, dict]]:
        """Base files this merge rewrites: every file of each partition
        that receives a row of the batch, holds a version of an incoming
        key (a moved key leaves its old one) or, with retention, holds a
        tombstone this merge ages out (so it is purged even if no later
        batch touches it). Whole partitions, as the reference rewrites
        whole file groups, keep a partition to the files of one write.
        An unpartitioned table is one partition.

        Keys are matched by fingerprint: a base file's sidecar and its
        record's ``tomb`` (``tablelog``). One scan-only collect reads
        the batch's hashes and partition values, and the key hashes and
        tombstone stamps of the base files with no readable sidecar (in
        steady state the ones the previous merge wrote), a (path, hash)
        row per stored row. Their sidecars are written here; the second
        value returned holds their record fields, for the commit to add
        to the ones it keeps."""
        files, p = snap.of("base"), self.partition_by
        if not files or not p:
            return files, {}
        spark, h = batch.sparkSession, self._key_hash(snap.schema)
        stored = tablelog.read_sidecars(
            spark, self.path, [f["path"] for f in files if "keys" in f])
        keys = {f["path"]: np.frombuffer(data, "<u4") for f in files
                if (data := stored.get(f["path"])) is not None
                and len(data) == 4 * f["keys"]}
        fresh = [f["path"] for f in files if f["path"] not in keys]
        # under the stored type, as the partition directories were
        # named; Spark writes NULL and '' to the default one
        land = F.coalesce(F.nullif(F.col(p).try_cast(
            snap.schema[p].dataType).cast("string"), F.lit("")),
            F.lit(_DEFAULT_PARTITION))
        none = F.lit(None)
        rows = batch.select(none.cast("string").alias("_f"),
                            land.alias("_p"), h,
                            none.cast("long").alias("_t"))
        if fresh:
            tomb = (none if self.retain_tombstones is None
                    else F.col(self.TOMB_COL))
            rows = rows.unionByName(tablelog.read(
                spark, self.path, snap,
                [f for f in files if f["path"] not in keys]).select(
                # the file's path as the log records it, URI-encoded
                F.regexp_extract("_metadata.file_path", r"[^/]+/[^/]+$",
                                 0).alias("_f"),
                none.cast("string").alias("_p"), h,
                tomb.cast("long").alias("_t")))
        # one scan stage, no shuffle: the rows are grouped here, in Python
        got = rows.toArrow()
        ours = pc.is_null(got["_f"])
        mine = got.filter(ours)
        incoming = np.unique(mine["_h"].to_numpy().astype(np.uint32))
        landed = set(mine["_p"].to_pylist())
        scanned = {unquote(r["_f"]): r for r in got.filter(pc.invert(ours))
                   .group_by("_f").aggregate([("_h", "distinct"),
                                              ("_t", "min")]).to_pylist()}
        if unknown := set(scanned) - set(fresh):
            raise RuntimeError(f"{self.path}: read files its log does not "
                               f"name: {sorted(unknown)[:3]}")
        notes = {}
        for path in fresh:  # a file with no row has no key
            r = scanned.get(path, {})
            keys[path] = np.unique(np.array(r.get("_h_distinct", []),
                                            "<u4"))
            notes[path] = {"keys": len(keys[path]), **(
                {} if r.get("_t_min") is None else {"tomb": r["_t_min"]})}
        tablelog.write_sidecars(spark, self.path, {
            path: keys[path].tobytes() for path in fresh})
        parts = set()
        for f in files:
            oldest = notes.get(f["path"], f).get("tomb")
            if (np.isin(incoming, keys[f["path"]], assume_unique=True).any()
                    or unquote(f["partition"].partition("=")[2]) in landed
                    or (self.retain_tombstones is not None
                        and oldest is not None
                        and oldest <= merge_seq - self.retain_tombstones)):
                parts.add(f["partition"])
        return [f for f in files if f["partition"] in parts], notes

    # -- the MERGE --------------------------------------------------------

    @tablelog.retried
    def merge_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch body: MERGE a micro-batch of unwrapped CDC rows
        (must carry key, ordering, tiebreak and deleted columns) in one
        log commit, merged again on a newer snapshot if a concurrent
        commit conflicts. ``batch_id`` is not needed: a replayed batch
        merges again to the same state (latest-wins)."""
        self._merge(batch, tablelog.snapshot(batch.sparkSession, self.path))

    def _merge(self, batch: DataFrame, snap: tablelog.Snapshot,
               consumed: list[dict] = ()) -> None:
        """MERGE ``batch`` into the base files of ``snap`` and commit;
        the same commit drops ``consumed`` (the Merge-on-Read deltas a
        compaction folds in)."""
        seq = snap.merge_seq + 1
        touched, fingerprints = self._touched(snap, batch, seq)
        if self.retain_tombstones is not None:
            batch = self._with_tomb(batch)
        rows = batch
        if touched:  # one latest-wins pass over stored and incoming rows
            rows = tablelog.read(batch.sparkSession, self.path, snap,
                                 touched).select(*batch.columns) \
                .unionByName(batch)
        live = self._merged_state(latest_by_key(
            rows, self.key_cols, self.ordering_col, self.tiebreak_col), seq)
        schema, p = live.schema, self.partition_by
        if p:  # the partition column reads back from the directory, last
            schema = T.StructType([f for f in schema if f.name != p]
                                  + [schema[p]])
        if p and not touched:  # a bulk insert: one file per directory
            live = live.hint("rebalance", p)
        add = tablelog.write(live, self.path, p, "base",
                             f"v{snap.version + 1}")
        tablelog.commit(batch.sparkSession, self.path, snap, add,
                        touched + list(consumed), schema, seq,
                        fingerprints)

    # -- read views (S15: Hudi _ro/_rt analog) -----------------------------

    def register_view(self, spark: SparkSession, name: str) -> None:
        """Register the merged table for spark.sql() reads — the
        engine's equivalent of the Hive-synced ``_ro`` view."""
        self.read(spark).createOrReplaceTempView(name)

    # -- table services (the Hudi compaction/clustering analog) ------------

    @staticmethod
    def _stats(snap: tablelog.Snapshot) -> list[tuple[str, int, int]]:
        acc: dict[str, tuple[int, int]] = {}
        for f in snap.of("base"):
            n, size = acc.get(f["partition"], (0, 0))
            acc[f["partition"]] = (n + 1, size + f["size"])
        return sorted((p, n, size) for p, (n, size) in acc.items())

    def file_stats(self, spark: SparkSession) -> list[tuple[str, int, int]]:
        """(partition, n_files, total_bytes) per partition directory,
        from the log alone — the small-file diagnostic of compaction."""
        return self._stats(tablelog.snapshot(spark, self.path))

    @tablelog.retried
    def compact(self, spark: SparkSession,
                target_bytes: int = 128 * 1024 * 1024,
                min_files: int = 2) -> list[str]:
        """Rewrite partitions whose file count exceeds ``min_files``
        into ⌈bytes/target⌉ right-sized files — the analog of Hudi's
        compaction / clustering service (``hoodie.compact.inline``,
        ``deltastreamer_jobs_bulk.sh``). Returns the partitions
        rewritten.

        Only the file layout changes. The rewrite reads the STORED
        state, so in-window tombstones (and their stamp column) survive:
        a layout service must never shrink the retention window. The
        policy reads the log only, and one commit swaps every rewritten
        partition."""
        snap = tablelog.snapshot(spark, self.path)
        todo = [(p, max(1, -(-size // target_bytes)))
                for p, n, size in self._stats(snap) if n > min_files]
        add, drop = [], []
        for part, nfiles in todo:
            files = [f for f in snap.of("base") if f["partition"] == part]
            drop += files
            add += tablelog.write(
                tablelog.read(spark, self.path, snap, files)
                .repartition(nfiles), self.path, self.partition_by,
                "base", f"v{snap.version + 1}")
        if todo:
            tablelog.commit(spark, self.path, snap, add, drop)
        return [p for p, _ in todo]


class MergeOnReadTable:
    """Merge-on-Read twin of :class:`UpsertTable` — the engine's analog
    of the reference's MoR DeltaStreamer mode
    (``hudi/debezium_hudi_demo/deltastreamer_jobs_bulk.sh:7-79`` runs
    CoW AND MoR jobs; ``moma_debezium_hudi_demo.ipynb`` cells 8-11
    query the ``_ro`` vs ``_rt`` views of the MoR table).

    Layout: one table log, as for :class:`UpsertTable`, holding two
    kinds of file side by side in the partition directories — ``base``
    files (bulk insert and compaction output) and ``delta`` files (one
    append per micro-batch, named by its batch id).

    Why MoR exists: a CoW MERGE rewrites every partition a batch
    touches. Here ingest (:meth:`append_batch`) writes ONLY the batch
    rows and never reads the base; the merge moves to read time
    (``_rt``) and is amortized away by :meth:`compact`. The pending
    deltas are small beside the base, so ``_rt`` broadcasts their key
    set: base rows no delta touches stream through an anti join with
    no shuffle, and only the affected rows and the deltas meet in the
    latest-wins aggregate.
    """

    LOG_COL = "_delta"

    def __init__(self, path: str, key_cols: list[str], ordering_col: str,
                 tiebreak_col: str, partition_by: str | None = None,
                 deleted_col: str = "__deleted",
                 max_delta_commits: int | None = None,
                 retain_tombstones: int | None = None) -> None:
        """``max_delta_commits`` is the ``hoodie.compact.inline.max.
        delta.commits`` analog: when set, :meth:`append_batch` compacts
        once that many delta commits are pending, which also bounds the
        key set the ``_rt`` broadcast carries.

        ``retain_tombstones=N`` passes Hudi's soft delete through to the
        compacted base (see :class:`UpsertTable`); ``_rt`` merges
        against the STORED state, so an isolated pre-tombstone replay
        appended as a delta loses to a retained tombstone."""
        self.base = UpsertTable(path, key_cols, ordering_col, tiebreak_col,
                                partition_by, deleted_col,
                                retain_tombstones=retain_tombstones)
        self.path = self.base.path
        self.key_cols = key_cols
        self.partition_by = partition_by
        self.max_delta_commits = max_delta_commits
        #: view name -> the session :meth:`register_views` put it in,
        #: re-registered there after every commit: an analyzed view plan
        #: names the files of the snapshot it was registered at
        self._views: dict[str, SparkSession] = {}

    @staticmethod
    def _pending(snap: tablelog.Snapshot) -> list[str]:
        """Batch ids of the delta commits not yet compacted."""
        return sorted({f["commit"] for f in snap.of("delta")})

    # -- ingest (the whole point: no base read, no partition rewrite) -------

    @tablelog.retried
    def append_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch body: append the micro-batch as delta files —
        one parquet write of exactly the batch rows; latest-wins waits
        for ``_rt`` reads and compaction. A replayed batch id replaces
        its own pending deltas, so a crash-replayed micro-batch is
        published once."""
        spark = batch.sparkSession
        snap = tablelog.snapshot(spark, self.path)
        if snap.version < 0:
            # initial bulk insert goes straight to base files, exactly
            # like DeltaStreamer's first commit.
            self.base.merge_batch(batch, batch_id)
            return
        commit = f"{batch_id:09d}"
        add = tablelog.write(batch, self.path, self.partition_by, "delta",
                             commit)
        snap = tablelog.commit(spark, self.path, snap, add,
                               [f for f in snap.of("delta")
                                if f["commit"] == commit])
        if (self.max_delta_commits is not None
                and len(self._pending(snap)) >= self.max_delta_commits):
            self.compact(spark)  # inline compaction (hoodie analog)
        else:
            self._refresh_views()

    # -- read views (S15: _ro / _rt) ----------------------------------------

    def read_optimized(self, spark: SparkSession) -> DataFrame:
        """``_ro``: base files only — fast, possibly stale (pending
        deltas are invisible until compaction folds them in)."""
        return self.base.read(spark)

    def read_realtime(self, spark: SparkSession) -> DataFrame:
        """``_rt``: read-time merge of base ∪ deltas (W3 latest-wins
        over the record key, delete rows dropped) — always current.
        Retention mode merges against the STORED base, tombstones
        included; tombstones and the stamp column never surface."""
        snap = tablelog.snapshot(spark, self.path)
        base = self.base._stored(spark, snap)
        deltas = snap.of("delta")
        if not deltas:
            return self.base._live(base).drop(UpsertTable.TOMB_COL)
        # deltas read with the base schema: a column they lack (the
        # retention stamp) reads as NULL
        log = tablelog.read(spark, self.path, snap, deltas)
        keys = F.broadcast(log.select(*self.key_cols).distinct())
        untouched = base.join(keys, self.key_cols, "left_anti")
        affected = base.join(keys, self.key_cols, "left_semi")
        merged = latest_by_key(affected.unionByName(log), self.key_cols,
                               self.base.ordering_col,
                               self.base.tiebreak_col)
        if self.base.retain_tombstones is not None:
            # untouched STORED rows can be retained tombstones: the
            # live filter covers both branches (the hard-delete base
            # stores live rows only)
            return self.base._live(untouched.unionByName(merged)) \
                .drop(UpsertTable.TOMB_COL)
        return untouched.unionByName(self.base._live(merged))

    def register_views(self, spark: SparkSession, name: str) -> None:
        """``{name}_ro`` / ``{name}_rt`` temp views — the Hive-synced
        pair the reference notebook queries (ipynb cells 8-11).

        The views stay current across :meth:`append_batch` and
        :meth:`compact`, which re-register them; a frame from
        :meth:`read_realtime` held across a commit is not refreshed.
        A micro-batch's session is a clone, so the views are refreshed
        in the session that registered them."""
        self.read_optimized(spark).createOrReplaceTempView(f"{name}_ro")
        self.read_realtime(spark).createOrReplaceTempView(f"{name}_rt")
        self._views[name] = spark

    def _refresh_views(self) -> None:
        for name, spark in list(self._views.items()):
            self.register_views(spark, name)

    # -- table service -------------------------------------------------------

    @tablelog.retried
    def compact(self, spark: SparkSession) -> list[str]:
        """Fold the pending deltas into base files (Hudi's MoR
        compaction) with the CoW MERGE: one commit adds the merged base
        files and drops the rewritten ones and the consumed deltas.
        Afterwards ``_ro`` == ``_rt``. Returns the consumed delta
        commits as ``_delta=<batch id>``."""
        snap = tablelog.snapshot(spark, self.path)
        deltas = snap.of("delta")
        if not deltas:
            return []
        log = tablelog.read(spark, self.path, snap, deltas)
        self.base._merge(log.drop(UpsertTable.TOMB_COL), snap, deltas)
        self._refresh_views()
        return [f"{self.LOG_COL}={c}" for c in self._pending(snap)]
