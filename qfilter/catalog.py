"""Thin Iceberg-style table layer over plain parquet.

The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so this module
implements the contract its two writers call, as a warehouse directory
of parquet data dirs plus JSON snapshot manifests:

    warehouse/<table>/data/<hint>-<uuid>/...parquet   (files of one write)
    warehouse/<table>/snapshots/<N>.json              {id, parent, dirs, ...}
    warehouse/<table>/txns.json                       txn ids of expired snapshots

* ``QualityFilterPipeline`` (``qfilter.pipeline``) appends the
  partitioned input, the per-wave labels and the lineage/metrics
  tables, reads them back to resume a killed run from its last
  committed partition, and its ``maintain`` compacts the labels table
  and expires superseded snapshots.
* ``stream_quality_filter_to_catalog`` (``qfilter.streaming``) commits
  each micro-batch with ``append_once`` keyed on the batchId, so a
  replayed batch commits nothing, and optionally compacts + expires
  every N commits.

Appends are atomic-by-manifest: data is written to a fresh dir first,
then the manifest is committed create-if-absent (a hard link, never an
overwrite — the Iceberg CAS).  Readers only ever see dirs listed by a
committed manifest, so a killed writer leaves garbage data but no torn
table.  ``read(snapshot=...)`` reads any snapshot not yet expired.

Beyond that contract, with no caller in the package but their own
tests: write-audit-publish (``append_staged``, ``read_staged``,
``publish_staged``, ``abort_staged``), a copy-on-write ``merge``,
sort-order ``compact(sort_by=...)`` and ``read_incremental``.

Swapping in real Iceberg is a config change at the call sites
(`spark.sql.catalog.* = org.apache.iceberg.spark.SparkCatalog` and
`df.writeTo(table).append()`); nothing else in the pipeline knows
about this layout.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["Catalog", "CommitConflict"]


class CommitConflict(Exception):
    """Another writer committed the snapshot id first (optimistic
    concurrency, Iceberg's CommitFailedException).  ``append`` rebases
    and retries automatically — appends commute; ``compact``/``merge``
    surface it, because their rewrite was computed against a snapshot
    that is no longer current and retrying blindly would silently drop
    the concurrent writer's rows."""


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _snap_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "snapshots")

    def _new_data_dir(self, table: str, hint: str) -> str:
        # unique name: two concurrent writers must never share a data
        # dir even before either has committed a manifest
        return os.path.join(
            self._tdir(table), "data", f"{hint}-{uuid.uuid4().hex[:8]}"
        )

    # -------------------------------------------------------- snapshots
    def snapshots(self, table: str) -> list[dict]:
        sdir = self._snap_dir(table)
        if not os.path.isdir(sdir):
            return []
        out = []
        for name in sorted(os.listdir(sdir)):
            if name.endswith(".json"):
                with open(os.path.join(sdir, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["id"])

    def _snapshot(self, table: str, snapshot: int | None = None) -> dict:
        """Resolve a snapshot ONCE — every read-path entry point goes
        through this so a concurrent commit can never split one logical
        read across two different snapshots."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        if snapshot is None:
            return snaps[-1]
        for s in snaps:
            if s["id"] == snapshot:
                return s
        raise ValueError(f"snapshot {snapshot} of {table!r} does not exist")

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))

    # ----------------------------------------------------------- append
    def append(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        return self._append(table, df, partition_by, txn_id=None)

    def append_once(
        self,
        table: str,
        df: DataFrame,
        txn_id: str,
        partition_by: list[str] | None = None,
    ) -> int:
        """Idempotent append: a second call with the same ``txn_id`` is
        a no-op returning the original snapshot id.

        This is the sink contract Structured Streaming's foreachBatch
        needs for exactly-once output: after a failure the engine
        REPLAYS the last micro-batch with the same deterministic
        batchId, so the sink must deduplicate on it (the same pattern
        as Iceberg's commit-dedup on wap.id / Flink's checkpoint txn).
        """
        existing = self._txn_snapshot(table, txn_id)
        if existing is not None:
            return existing
        return self._append(table, df, partition_by, txn_id)

    def _append(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None,
        txn_id: str | None,
    ) -> int:
        data_dir = self._new_data_dir(table, "a")
        self._write(df, data_dir, partition_by)
        # optimistic-concurrency loop: data is written once; only the
        # manifest commit races.  Appends commute, so losing the CAS
        # just means rebasing onto the winner's snapshot and retrying.
        while True:
            if txn_id is not None:
                # re-check inside the CAS loop: a replayed twin may have
                # committed this txn while we were writing
                existing = self._txn_snapshot(table, txn_id)
                if existing is not None:
                    shutil.rmtree(data_dir, ignore_errors=True)
                    return existing
            snaps = self.snapshots(table)
            # schema travels in the manifest so empty tables (zero
            # rows/files) still read back with the right columns
            manifest = self._next_append(
                snaps, data_dir, partition_by, df.schema.jsonValue()
            )
            if txn_id is not None:
                manifest["txn_id"] = txn_id
            try:
                return self._commit_manifest(table, manifest)
            except CommitConflict:
                continue

    @staticmethod
    def _write(df: DataFrame, data_dir: str, partition_by: list[str] | None) -> None:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

    @staticmethod
    def _next_append(
        snaps: list[dict], data_dir: str, partition_by: list[str] | None, schema: dict
    ) -> dict:
        """Manifest of an append of ``data_dir`` on top of ``snaps[-1]``."""
        return {
            "id": (snaps[-1]["id"] + 1) if snaps else 0,
            "parent": snaps[-1]["id"] if snaps else None,
            "dirs": (snaps[-1]["dirs"] if snaps else []) + [data_dir],
            "partition_by": partition_by or [],
            "schema": schema,
        }

    def _commit_manifest(self, table: str, manifest: dict) -> int:
        """Atomically commit snapshot ``manifest['id']`` — create-if-
        absent (hard link), never overwrite: the Iceberg CAS commit.
        Raises :class:`CommitConflict` if that id is already taken."""
        sid = manifest["id"]
        sdir = self._snap_dir(table)
        os.makedirs(sdir, exist_ok=True)
        tmp = os.path.join(sdir, f".{sid}.{uuid.uuid4().hex[:8]}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, os.path.join(sdir, f"{sid}.json"))  # commit point
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {sid} of {table!r} was committed concurrently"
            ) from None
        finally:
            os.unlink(tmp)
        return sid

    # -------------------------------------------- write-audit-publish
    #
    # Iceberg's WAP flow (spark.wap.id): a writer STAGES a commit that
    # no reader sees, an audit job validates the staged rows, and only
    # then is the commit PUBLISHED into the table — or aborted, leaving
    # no trace.  The data is written once: publish is a metadata CAS
    # over the already-written dir, not a rewrite.

    def _staged_file(self, table: str, wap_id: str) -> str:
        return os.path.join(self._tdir(table), "staged", f"{wap_id}.json")

    def append_staged(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Write an append WITHOUT committing it and return the
        ``wap_id`` for ``read_staged`` / ``publish_staged`` /
        ``abort_staged``.  Readers of the table never see staged rows."""
        wap_id = uuid.uuid4().hex[:12]
        data_dir = self._new_data_dir(table, "s")
        self._write(df, data_dir, partition_by)
        path = self._staged_file(table, wap_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"dir": data_dir, "partition_by": partition_by or [],
                       "schema": df.schema.jsonValue()}, f)
        os.replace(path + ".tmp", path)
        return wap_id

    def _staged(self, table: str, wap_id: str) -> dict:
        try:
            with open(self._staged_file(table, wap_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(f"no staged commit {wap_id!r} on {table!r}") from None

    def staged_ids(self, table: str) -> list[str]:
        sdir = os.path.dirname(self._staged_file(table, ""))
        if not os.path.isdir(sdir):
            return []
        return sorted(n[:-5] for n in os.listdir(sdir) if n.endswith(".json"))

    def read_staged(self, spark: SparkSession, table: str, wap_id: str) -> DataFrame:
        """The audit view: the table as it would be once published."""
        part = spark.read.parquet(self._staged(table, wap_id)["dir"])
        if not self.exists(table):
            return part
        return self.read(spark, table).unionByName(part, allowMissingColumns=True)

    @staticmethod
    def _merge_schema(base: dict | None, extra: dict | None) -> dict | None:
        """Union of two schema JSONs by field name, base order first."""
        if not base or not extra:
            return base or extra
        names = {f["name"] for f in base["fields"]}
        fields = base["fields"] + [f for f in extra["fields"] if f["name"] not in names]
        return {**base, "fields": fields}

    def publish_staged(self, table: str, wap_id: str) -> int:
        """Commit a staged append (Iceberg's cherry-pick), rebasing over
        any appends — and their schema widenings — that landed since
        staging.  Idempotent on ``wap_id``: a retry after a crash between
        the commit and the staged-file removal returns the published
        snapshot instead of committing the dir twice."""
        staged = self._staged(table, wap_id)
        sid = None
        while sid is None:
            snaps = self.snapshots(table)
            sid = next((s["id"] for s in snaps if s.get("wap_id") == wap_id), None)
            if sid is None:
                base = snaps[-1].get("schema") if snaps else None
                manifest = self._next_append(
                    snaps, staged["dir"], staged["partition_by"],
                    self._merge_schema(base, staged["schema"]),
                )
                manifest["wap_id"] = wap_id
                with contextlib.suppress(CommitConflict):
                    sid = self._commit_manifest(table, manifest)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._staged_file(table, wap_id))
        return sid

    def abort_staged(self, table: str, wap_id: str) -> None:
        """Drop a staged commit: nothing was ever visible, nothing remains."""
        shutil.rmtree(self._staged(table, wap_id)["dir"], ignore_errors=True)
        os.remove(self._staged_file(table, wap_id))

    def _staged_data_dirs(self, table: str) -> set[str]:
        out = set()
        for wap_id in self.staged_ids(table):
            # a staged file may vanish mid-scan (concurrent publish/abort)
            with contextlib.suppress(FileNotFoundError):
                out.add(os.path.normpath(self._staged(table, wap_id)["dir"]))
        return out

    # ------------------------------------------------- exactly-once txns
    def _txn_file(self, table: str) -> str:
        return os.path.join(self._tdir(table), "txns.json")

    def _persisted_txns(self, table: str) -> set[str]:
        try:
            with open(self._txn_file(table)) as f:
                return set(json.load(f))
        except (FileNotFoundError, json.JSONDecodeError):
            return set()

    def _persist_txns(self, table: str, txns: set[str]) -> None:
        """Durably record txn ids whose carrier snapshots are being
        expired: ``expire_snapshots`` calls this BEFORE removing the
        manifests, so ``append_once`` replays still dedupe.  Atomic
        write (tmp + rename) merged with existing content."""
        merged = sorted(self._persisted_txns(table) | set(txns))
        tmp = f"{self._txn_file(table)}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, self._txn_file(table))

    def _txn_snapshot(self, table: str, txn_id: str) -> int | None:
        for s in self.snapshots(table):
            if s.get("txn_id") == txn_id or txn_id in s.get("txn_ids", []):
                return s["id"]
        if txn_id in self._persisted_txns(table):
            # carrier snapshot was expired; the ref file preserves the
            # exactly-once promise.  -1 = "committed, snapshot unknown"
            # (append_once only needs a non-None sentinel to dedupe)
            return -1
        return None

    @staticmethod
    def _carried_txns(snaps: list[dict]) -> list[str]:
        """Txn ids a replace snapshot must carry forward: if compaction
        expired the appends of the current chain, a replayed
        micro-batch must STILL see its txn as committed — otherwise the
        exactly-once guarantee of ``append_once`` has a crash window
        between sink commit and checkpoint advance."""
        out: set[str] = set()
        for s in snaps:
            if s.get("txn_id"):
                out.add(s["txn_id"])
            out.update(s.get("txn_ids", []))
        return sorted(out)

    # ------------------------------------------------------------- read
    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        return self._assemble(spark, self._snapshot(table, snapshot))

    def _assemble(self, spark: SparkSession, snap: dict) -> DataFrame:
        """Materialize a snapshot: per-dir reads in manifest order +
        unionByName (keeps partition-column discovery working per dir
        regardless of layout, so partition evolution reads across
        both specs), then alignment to the snapshot's schema."""
        schema = StructType.fromJson(snap["schema"]) if snap.get("schema") else None
        df = None
        for d in snap["dirs"]:
            try:
                part = spark.read.parquet(d)
            except AnalysisException as e:
                # ONLY the documented legitimately-empty cases read
                # as empty: a dir holding zero parquet files (0-row
                # write → schema inference fails) or a missing path.
                # Corrupt files, permission errors, and wrongly-GC'd
                # dirs must surface, not read as silently empty.
                cond = getattr(e, "getErrorClass", lambda: None)() or ""
                legit = cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA") or any(
                    t in str(e)
                    for t in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA",
                              "Path does not exist", "Unable to infer schema")
                )
                if not legit or schema is None:
                    raise
                part = spark.createDataFrame([], schema)
            # allowMissingColumns = add-column schema evolution: dirs
            # written before a column existed read as null
            df = part if df is None else df.unionByName(part, allowMissingColumns=True)
        if df is None:  # snapshot references no dirs
            if schema is None:
                raise FileNotFoundError("snapshot has no schema to read")
            df = spark.createDataFrame([], schema)
        if schema is None:
            return df
        # the snapshot's schema governs column set and order
        return df.select(*[
            F.col(f.name) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])

    # ----------------------------------------------------- maintenance
    #
    # Iceberg's two table-maintenance operations over the same layout:
    #
    #   compact()           = rewrite_data_files (bin-pack).  Wave-writes
    #                         and streaming sinks append one dir per
    #                         micro-commit; compaction rewrites the
    #                         CURRENT snapshot into ceil(bytes/target)
    #                         files and commits it as a "replace"
    #                         snapshot; the old snapshots stay readable
    #                         (time travel) until expired.
    #   expire_snapshots()  = expireSnapshots + orphan-file GC.
    #
    # Both keep the manifest-commit-last invariant: a killed compactor
    # leaves garbage data files but no torn table.

    @staticmethod
    def _data_files(snap: dict) -> list[str]:
        files: list[str] = []
        for d in snap["dirs"]:
            for root, _dirs, names in os.walk(d):
                files.extend(
                    os.path.join(root, n) for n in names if n.endswith(".parquet")
                )
        return files

    def table_data_files(self, table: str) -> list[str]:
        """All parquet data files of the current snapshot."""
        return self._data_files(self._snapshot(table))

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_file_bytes: int = 128 << 20,
        sort_by: list[str] | None = None,
    ) -> int:
        """Bin-pack the current snapshot into ~target-sized files.

        With ``sort_by``, files are range-partitioned and sorted on
        those columns, so their footer min/max ranges are disjoint.

        Returns the new snapshot id.  Old snapshots remain readable via
        ``read(snapshot=...)`` until ``expire_snapshots`` drops them.
        Raises :class:`CommitConflict` if another writer commits while
        the rewrite runs (the rewrite would drop their rows) — re-run
        on the new current snapshot.
        """
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        cur = snaps[-1]
        total = sum(os.path.getsize(f) for f in self._data_files(cur))
        n_files = max(1, -(-total // target_file_bytes))
        df = self._assemble(spark, cur)
        part_by = cur.get("partition_by") or []
        if sort_by:
            out = df.repartitionByRange(int(n_files), *sort_by).sortWithinPartitions(
                *part_by, *sort_by
            )
        else:
            # repartition bounds files-per-task at 1; with partition
            # columns in the hash the rows of one partition land in few
            # tasks, so a partitioned table compacts to <= n_files files
            # per partition value rather than n_files * n_partitions.
            out = (
                df.repartition(int(n_files), *part_by)
                if part_by
                else df.repartition(int(n_files))
            )
        return self._commit_rewrite(
            table, snaps, out, "replace", "c", sort_by=sort_by or []
        )

    def _commit_rewrite(self, table: str, snaps: list[dict], df: DataFrame,
                        operation: str, hint: str, **extra) -> int:
        """Write ``df`` as the one dir of the snapshot after ``snaps[-1]``.
        No retry: the rewrite was computed against ``snaps[-1]``, so a
        concurrent commit surfaces as :class:`CommitConflict`."""
        cur = snaps[-1]
        data_dir = self._new_data_dir(table, hint)
        part_by = cur.get("partition_by") or []
        self._write(df, data_dir, part_by)
        manifest = {
            "id": cur["id"] + 1,
            "parent": cur["id"],
            "dirs": [data_dir],
            "partition_by": part_by,
            "schema": cur.get("schema") or df.schema.jsonValue(),
            "operation": operation,
            "txn_ids": self._carried_txns(snaps),
            **extra,
        }
        return self._commit_manifest(table, manifest)

    def merge(
        self, spark: SparkSession, table: str, source: DataFrame, on: list[str]
    ) -> int:
        """Copy-on-write upsert of ``source`` into ``table`` keyed on
        ``on`` (MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT),
        committed as an "overwrite" snapshot; raises
        :class:`CommitConflict` like ``compact``.

        Source must be unique on ``on`` (SQL MERGE raises when a target
        row matches several source rows) and carry exactly the target's
        columns (extra ones would be silently dropped)."""
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        target = self._assemble(spark, snaps[-1])
        extra = set(source.columns) - set(target.columns)
        if extra:
            raise ValueError(
                f"merge source has columns absent from target {table!r}: "
                f"{sorted(extra)} — add them via schema evolution first"
            )
        missing = set(target.columns) - set(source.columns)
        if missing:
            raise ValueError(f"merge source is missing target columns: {sorted(missing)}")
        if source.groupBy(*on).count().where(F.col("count") > 1).limit(1).count():
            raise ValueError(
                f"merge source has duplicate rows on key {on} — SQL MERGE "
                "semantics forbid multiple matches per target row"
            )
        # key-only anti-join side: a small source is broadcast
        merged = target.join(source.select(*on).distinct(), on=on, how="left_anti")
        merged = merged.unionByName(source.select(*target.columns))
        return self._commit_rewrite(table, snaps, merged, "overwrite", "w")

    def expire_snapshots(
        self, table: str, keep_last: int = 1, orphan_grace_s: float = 86400.0
    ) -> list[str]:
        """Drop all but the last ``keep_last`` snapshots and delete the
        data dirs they exclusively referenced, plus orphan dirs a killed
        writer left behind (written but never committed) — but an orphan
        is only GC'd once it is older than ``orphan_grace_s`` seconds,
        because data is written BEFORE the manifest CAS: a young
        unreferenced dir may belong to an in-flight concurrent
        append/compact that is about to commit (same reasoning as
        Iceberg's ``remove_orphan_files`` ``older_than`` threshold).
        Dirs referenced by an *expired* snapshot carry provenance and
        are deleted immediately regardless of age.

        The snapshot list is re-read after the keep-set is built, so a
        commit that landed concurrently with this call never has its
        dirs deleted.  Txn ids carried only by expired snapshots are
        persisted to a ref file (consulted by ``append_once``) so
        exactly-once dedup survives expiry.

        Returns the deleted dirs.  Never touches a dir any retained
        snapshot references.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots(table)
        retained = snaps[-keep_last:]
        expired = snaps[:-keep_last]
        # exactly-once bookkeeping: txn ids that would vanish with the
        # expired manifests are persisted to the table's txn ref file
        # BEFORE any manifest is removed, so a replayed foreachBatch
        # micro-batch still dedupes after an expire with no compaction
        # in between
        lost_txns = set(self._carried_txns(expired)) - set(self._carried_txns(retained))
        if lost_txns:
            self._persist_txns(table, lost_txns)

        def _snap_dirs(ss: list[dict]) -> set[str]:
            return {os.path.normpath(d) for s in ss for d in s["dirs"]}

        # re-read AFTER building the keep set: a snapshot committed
        # since the first read (concurrent append/compact that won its
        # CAS while we were planning) keeps every dir it references
        seen_ids = {s["id"] for s in snaps}
        # staged-but-unpublished WAP dirs are live, not orphans
        keep_dirs = (
            _snap_dirs(retained)
            | self._staged_data_dirs(table)
            | _snap_dirs([s for s in self.snapshots(table) if s["id"] not in seen_ids])
        )
        expired_dirs = _snap_dirs(expired)
        now = time.time()
        deleted: list[str] = []
        data_root = os.path.join(self._tdir(table), "data")
        if os.path.isdir(data_root):
            for name in sorted(os.listdir(data_root)):
                path = os.path.normpath(os.path.join(data_root, name))
                if path in keep_dirs:
                    continue
                if path not in expired_dirs:
                    # true orphan — no snapshot we ever saw references
                    # it; respect the grace window for in-flight writers
                    try:
                        age = now - os.path.getmtime(path)
                    except OSError:
                        continue  # vanished (concurrent GC / commit race)
                    if age < orphan_grace_s:
                        continue
                shutil.rmtree(path, ignore_errors=True)
                deleted.append(path)
        for s in expired:
            try:
                os.remove(os.path.join(self._snap_dir(table), f"{s['id']}.json"))
            except FileNotFoundError:
                pass
        return deleted

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        since_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Rows appended after ``since_snapshot`` up to ``to_snapshot``
        (default: current) — Iceberg's incremental append scan.
        ``since_snapshot=-1`` means from the start.  Replace
        (compaction) snapshots add no rows and are skipped; the delta
        across an overwrite (``merge``) or an expired part of the chain
        is undefined, so either raises ValueError."""
        snaps = {s["id"]: s for s in self.snapshots(table)}
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no snapshots")
        to = max(snaps) if to_snapshot is None else to_snapshot
        prev = [] if since_snapshot < 0 else snaps.get(since_snapshot, {}).get("dirs")
        added: list[str] = []
        for sid in range(since_snapshot + 1, to + 1):
            snap = snaps.get(sid)
            if snap is None or prev is None:
                gone = since_snapshot if prev is None else sid
                raise ValueError(f"snapshot {gone} of {table!r} has been expired; "
                                 "incremental read impossible — run a full read")
            op = snap.get("operation", "append")
            if op == "overwrite":
                raise ValueError(f"snapshot {sid} of {table!r} is an overwrite; "
                                 "incremental append read impossible across it")
            if op == "append":
                added.extend(d for d in snap["dirs"] if d not in prev)
            prev = snap["dirs"]
        if not added:
            schema = (snaps.get(to) or snaps[max(snaps)])["schema"]
            return spark.createDataFrame([], StructType.fromJson(schema))
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [spark.read.parquet(d) for d in added],
        )
