"""Snapshot warehouse: Iceberg-style snapshot semantics on plain Parquet.

The reference gets append / overwritePartitions / createOrReplace *as
snapshots* from Iceberg v2 (process_covid_raw.py:102-113,
process_covid_ods.py:79-91, process_covid_dds.py:41-44): every commit is
a new table version, old versions stay readable (time travel), and a bad
commit can be rolled back. `Warehouse` (writers.py) reproduces the
*current-state* semantics on plain parquet; this module adds the
snapshot layer the same way Iceberg does — immutable data files plus
per-version manifests — with no table format dependency:

    <root>/<layer>/<table>/
      data/<batch-uuid>/[k=v/...]part-*.parquet   (immutable, write-once)
      data/<batch-uuid>/_schema.json              (the batch's file schema)
      _snapshots/v<N>.json                        (manifest: file list)
      _snapshots/_current                         (current version number)
      _snapshots/_current.lock                    (serializes its updates)

A commit writes a new batch dir, then a manifest referencing the alive
files — O(new data + |manifest|), never a table rewrite. Readers resolve
a manifest and read exactly its files; partition values are recovered
from the hive-style paths per batch dir, so partition pruning still
applies. Concurrency: single-writer (like the reference's
max_active_runs=1 Airflow cursor); the manifest write is atomic
(tmp+rename).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.sources.writers import (
    data_schema,
    load_schema,
    save_schema,
)


def _parts_from_relpath(relpath: str) -> tuple[tuple[str, str], ...]:
    """('k','v') pairs from hive-style segments of a file's path."""
    return tuple(
        tuple(seg.split("=", 1))
        for seg in relpath.split(os.sep)
        if "=" in seg and not seg.startswith(("_", "."))
    )


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: another writer committed between
    this writer's state read and its commit. Re-read and retry."""


class SnapshotWarehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- paths ------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, *table.split("."))

    def _data_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "data")

    def _snap_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_snapshots")

    # -- snapshot bookkeeping ---------------------------------------------
    def current_version(self, table: str) -> int | None:
        cur = os.path.join(self._snap_dir(table), "_current")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def versions(self, table: str) -> list[int]:
        d = self._snap_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def _manifest(self, table: str, version: int) -> dict:
        with open(os.path.join(self._snap_dir(table), f"v{version}.json")) as f:
            return json.load(f)

    def _commit(
        self,
        table: str,
        files: list[str],
        op: str,
        expected_base: int | None | str = "unchecked",
    ) -> int:
        """Commit a manifest. ``expected_base`` (the snapshot version the
        caller READ its state from) turns the commit into an optimistic
        compare-and-swap: if another writer committed in between, a
        :class:`CommitConflictError` is raised instead of silently
        dropping that writer's files from the new manifest (the classic
        lost update). The manifest file itself is claimed with an
        O_EXCL create, so even two racers that both pass the version
        check cannot both own the same version number — one loses with
        a conflict. Retry by re-reading state and re-applying."""
        cur = self.current_version(table)
        if expected_base != "unchecked" and cur != expected_base:
            raise CommitConflictError(
                f"{table}: read snapshot {expected_base} but current is "
                f"{cur} — another writer committed; re-read and retry"
            )
        version = (cur or 0) + 1
        snap_dir = self._snap_dir(table)
        os.makedirs(snap_dir, exist_ok=True)
        manifest = {
            "version": version,
            "op": op,
            "files": sorted(files),
            # wall-clock commit instant for AS OF resolution (Delta's
            # timestampAsOf / Iceberg's snapshot timestamp); resolution
            # tolerates its absence in pre-existing manifests
            "committed_at": time.time(),
        }
        final = os.path.join(snap_dir, f"v{version}.json")
        # Write the full manifest to a private temp file FIRST, then
        # claim the version with an atomic hard link: a claimed
        # v{N}.json is therefore always complete JSON, so a writer that
        # crashes between claim and the _current update leaves an
        # ADOPTABLE orphan (see below), never a half-written one.
        # Temp name is unique PER ATTEMPT (uuid4, not just pid): two
        # threads in one process computing the same version must never
        # share a temp path, or one could hard-link the other's
        # half-written bytes and "win" with the wrong file list. With
        # unique temps, os.link on the shared final path is the sole
        # arbiter of who owns the version.
        tmp = os.path.join(snap_dir, f".v{version}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            # Version already claimed. Either a live racer (its
            # _current update is imminent) or a crashed writer's orphan
            # (version > _current forever). Both cases: roll _current
            # forward to the claimed manifest — idempotent if the racer
            # also writes it — so the table can NEVER wedge on a
            # permanently re-computed version, then conflict out.
            self._advance_current(snap_dir, version)
            raise CommitConflictError(
                f"{table}: version {version} already claimed by a "
                "concurrent writer — re-read and retry"
            ) from None
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
        self._advance_current(snap_dir, version)
        return version

    @staticmethod
    def _advance_current(snap_dir: str, version: int) -> None:
        """Monotonically advance _current to at least ``version``.

        Read-compare-replace is not atomic on its own: the committer of
        v6 can read 5, the committer of v7 write 7 and return, and the
        v6 replace then land last, leaving _current behind a claimed
        version for good (seen as 6 against 7 in
        test_intra_process_commit_race_never_tears_manifest). An
        exclusive ``flock`` on ``_current.lock`` makes the three steps
        one; each ``open`` is its own lock holder, so it excludes
        threads of one process as well as other processes."""
        cur_path = os.path.join(snap_dir, "_current")
        with open(os.path.join(snap_dir, "_current.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                with open(cur_path) as f:
                    on_disk = int(f.read().strip() or 0)
            except (FileNotFoundError, ValueError):
                on_disk = 0
            if on_disk < version:
                cur_tmp = os.path.join(snap_dir, f"._current.{uuid.uuid4().hex}.tmp")
                with open(cur_tmp, "w") as f:
                    f.write(str(version))
                os.replace(cur_tmp, cur_path)

    def _write_batch(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None,
        max_records_per_file: int | None = None,
    ) -> list[str]:
        """Write one immutable batch dir; return its data files relative
        to the table's data/ dir. A partitioned write of no rows leaves
        no data files; its empty batch dir is removed at once. A batch
        with data files gets its files' schema recorded in it
        (``_schema.json``, see writers.py); the batch is write-once, so
        the record never goes stale."""
        batch = f"batch-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self._data_dir(table), batch)
        writer = df.write.format("parquet")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.mode("overwrite").save(out)
        files = []
        for dirpath, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    files.append(
                        os.path.relpath(os.path.join(dirpath, n), self._data_dir(table))
                    )
        if files:
            save_schema(out, data_schema(df.schema, partition_by))
        else:
            shutil.rmtree(out, ignore_errors=True)
        return files

    # -- commit verbs (the reference's three snapshot semantics) ----------
    # Signatures are Warehouse-compatible (writers.py) so the medallion
    # pipeline runs unchanged on either backend (tested in
    # tests/test_snapshots.py::test_pipeline_runs_on_snapshot_backend).
    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def path(self, table: str) -> str:
        return self._table_dir(table)

    # append and overwrite_partitions commit nothing when the batch has
    # no data files (a partitioned write of no rows), as Warehouse writes
    # no data file: the current version, or no table at all, stays.
    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None = None,
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> int | None:
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        base = self.current_version(table)
        prev = [] if base is None else list(self._manifest(table, base)["files"])
        new = self._write_batch(df, table, partition_by)
        if not new:
            return base
        return self._commit(table, prev + new, "append", expected_base=base)

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str],
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> int | None:
        """Replace only the partitions present in ``df`` (Iceberg
        ``overwritePartitions``): alive files whose partition tuple
        matches an incoming one leave the manifest; their bytes stay for
        older snapshots."""
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        base = self.current_version(table)
        prev = [] if base is None else list(self._manifest(table, base)["files"])
        new = self._write_batch(df, table, partition_by)
        if not new:
            return base
        incoming = {_parts_from_relpath(f) for f in new}
        keep = [f for f in prev if _parts_from_relpath(f) not in incoming]
        return self._commit(
            table, keep + new, "overwrite_partitions", expected_base=base
        )

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None = None,
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> int:
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        new = self._write_batch(df, table, partition_by)
        return self._commit(table, new, "replace")

    def rollback(self, table: str, version: int) -> int:
        """Re-commit an old snapshot's file list as the new current
        version (history preserved, like Iceberg rollback)."""
        old = self._manifest(table, version)
        return self._commit(table, old["files"], f"rollback_to_v{version}")

    # -- reads ------------------------------------------------------------
    def _alive_files(self, table: str) -> list[str]:
        v = self.current_version(table)
        return [] if v is None else list(self._manifest(table, v)["files"])

    def _read_file_list(
        self, table: str, files: list[str], tag_path: bool = False
    ) -> DataFrame:
        """Read an explicit manifest file list. Files are read per batch
        dir (its own basePath) so hive partition columns are recovered;
        batch reads are unioned by name. Each batch read is given the
        schema recorded in its batch dir, so it runs no Spark job; a
        batch without a record (written before records existed) infers
        its schema from a footer. ``files`` must be non-empty.
        ``tag_path`` adds a ``__file_path`` column — captured on each
        scan itself (``_metadata`` is only resolvable directly on a
        file-source relation, not across unions/joins)."""
        if not files:
            raise ValueError(
                f"{table}: empty file list — the referenced snapshot has "
                "no data files, so there is no schema to read"
            )
        data_dir = self._data_dir(table)
        by_batch: dict[str, list[str]] = {}
        for f in files:
            batch = f.split(os.sep, 1)[0]
            by_batch.setdefault(batch, []).append(os.path.join(data_dir, f))
        parts = []
        for batch, fs in sorted(by_batch.items()):
            batch_dir = os.path.join(data_dir, batch)
            schema = load_schema(batch_dir)
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            p = reader.option("basePath", batch_dir).parquet(*fs)
            if tag_path:
                p = p.withColumn(
                    "__file_path", F.col("_metadata.file_path")
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def read(
        self,
        table: str,
        version: int | None = None,
        as_of: float | "datetime.datetime | None" = None,
    ) -> DataFrame:
        """Read the current snapshot, ``version`` for version time
        travel, or ``as_of`` (epoch seconds or datetime — Delta's
        ``timestampAsOf``) for the latest snapshot committed at or
        before that instant."""
        if version is not None and as_of is not None:
            raise ValueError("pass version or as_of, not both")
        if as_of is not None:
            version = self.version_as_of(table, as_of)
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"no snapshots for table {table}")
        return self._read_file_list(table, self._manifest(table, v)["files"])

    def version_as_of(
        self, table: str, as_of: float | "datetime.datetime"
    ) -> int:
        """Largest committed version with ``committed_at <= as_of``.
        Versions above ``_current`` (unadopted orphans of crashed
        writers) are not readable state and never resolve; manifests
        from before timestamps were recorded sort as epoch 0 (always
        visible — the conservative choice for an upgraded table).
        O(committed versions) manifest reads — metadata only."""
        if hasattr(as_of, "timestamp"):
            as_of = as_of.timestamp()
        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"no snapshots for table {table}")
        best = None
        for v in self.versions(table):
            if v > cur:
                continue
            if self._manifest(table, v).get("committed_at", 0.0) <= as_of:
                best = v
        if best is None:
            raise ValueError(
                f"{table}: no snapshot committed at or before {as_of}"
            )
        return best

    # -- change data feed --------------------------------------------------
    def changed_files(
        self, table: str, v_from: int, v_to: int
    ) -> tuple[list[str], list[str]]:
        """(added, removed) data files between two manifests. Files in
        BOTH manifests are byte-identical in both versions (data files
        are immutable, write-once) — their rows cancel exactly, so a
        row-level diff never needs to read them. This is what makes
        :meth:`changes` cost O(changed partitions), not O(table)."""
        f_from = set(self._manifest(table, v_from)["files"])
        f_to = set(self._manifest(table, v_to)["files"])
        return sorted(f_to - f_from), sorted(f_from - f_to)

    def changes(
        self,
        table: str,
        v_from: int,
        v_to: int,
        keys: Sequence[str],
    ) -> DataFrame:
        """Row-level change feed between two snapshots (Delta
        ``table_changes`` / Iceberg changelog-scan semantics): every row
        of the ``v_to`` state not in ``v_from`` and vice versa, labeled
        ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage}. ``v_to < v_from`` is allowed and yields the
        inverse feed (inserts/deletes swap) — useful for auditing a
        rollback.

        Contract: ``keys`` identify a row uniquely within a snapshot and
        both versions share a column set. NULL key values are matched
        null-safely (a NULL-keyed row re-emitted unchanged is still
        suppressed). Rows rewritten byte-equal (e.g. an overwritten
        partition re-emitting unchanged rows) are suppressed via a
        position-tagged per-column fingerprint — each column hashes
        with its ordinal so NULLs cannot silently drop out of the hash
        (``xxhash64`` skips null children, which would otherwise make
        ``(x, NULL)`` collide with ``(NULL, x)``); only a real 64-bit
        collision could suppress an update.

        Scale shape: only the manifests' symmetric-difference files are
        scanned (:meth:`changed_files`); the full-outer key join then
        shuffles changed-file rows only, and the insert/delete/update
        split is one explode over the joined row — the join is never
        recomputed per change type."""
        keys = list(keys)
        added, removed = self.changed_files(table, v_from, v_to)
        if not added and not removed:
            # identical manifests (possibly v_from == v_to): empty feed
            # with the table's schema; _read_file_list raises a clear
            # error if the snapshot itself is file-less
            base = self.read(table, v_to).limit(0)
            rest = [c for c in base.columns if c not in keys]
            return base.select(
                *keys, *rest, F.lit("insert").alias("_change_type")
            ).limit(0)
        new_rows = (
            self._read_file_list(table, added)
            if added
            else self._read_file_list(table, removed).limit(0)
        )
        old_rows = (
            self._read_file_list(table, removed)
            if removed
            else new_rows.limit(0)
        )
        if set(new_rows.columns) != set(old_rows.columns):
            raise ValueError(
                "changes() needs matching column sets; got "
                f"{sorted(old_rows.columns)} vs {sorted(new_rows.columns)}"
            )
        data_cols = [c for c in new_rows.columns if c not in keys]
        missing = [k for k in keys if k not in new_rows.columns]
        if missing:
            raise ValueError(f"key columns not in table: {missing}")

        def _tagged(df: DataFrame, side: str) -> DataFrame:
            cols = [F.col(k).alias(f"__{side}k_{k}") for k in keys]
            cols += [F.col(c).alias(f"__{side}_{c}") for c in data_cols]
            # Position-tagged fingerprint: each column hashes WITH its
            # ordinal (inner hash of a NULL column = hash of the ordinal
            # alone, never skipped), because xxhash64 drops null
            # children — a bare xxhash64(*cols) would collide (x, NULL)
            # with (NULL, x) and suppress that update. Keys-only table:
            # presence alone decides insert vs delete.
            fp = (
                F.xxhash64(
                    *[
                        F.xxhash64(F.lit(i), F.col(c))
                        for i, c in enumerate(data_cols)
                    ]
                )
                if data_cols
                else F.lit(1).cast("bigint")
            )
            cols.append(fp.alias(f"__{side}_fp"))
            return df.select(*cols)

        o, n = _tagged(old_rows, "o"), _tagged(new_rows, "n")
        cond = None
        for k in keys:
            c = F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
            cond = c if cond is None else (cond & c)
        j = o.join(n, cond, "full_outer")
        types = (
            F.when(F.col("__o_fp").isNull(), F.array(F.lit("insert")))
            .when(F.col("__n_fp").isNull(), F.array(F.lit("delete")))
            .when(
                F.col("__o_fp") != F.col("__n_fp"),
                F.array(F.lit("update_preimage"), F.lit("update_postimage")),
            )
            .otherwise(F.array().cast("array<string>"))
        )
        from_old = F.col("_change_type").isin("delete", "update_preimage")
        return j.withColumn("_change_type", F.explode(types)).select(
            *[
                F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
                for k in keys
            ],
            *[
                F.when(from_old, F.col(f"__o_{c}"))
                .otherwise(F.col(f"__n_{c}"))
                .alias(c)
                for c in data_cols
            ],
            "_change_type",
        )

    def read_incremental(self, table: str, since_version: int) -> DataFrame:
        """Rows added since ``since_version`` — the incremental-consumer
        fast path (Iceberg incremental scan): reads ONLY the data files
        new manifests introduced, no join, no diff. Correct as stated
        for append-only history; across overwrites it returns the
        re-stated partitions' full contents (consumers wanting exact
        row deltas use :meth:`changes`)."""
        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"no snapshots for table {table}")
        added, _removed = self.changed_files(table, since_version, cur)
        if not added:
            return self.read(table, cur).limit(0)
        return self._read_file_list(table, added)

    def purge_keys(
        self,
        keys_df: DataFrame,
        tables: Sequence[str],
        key_cols: Sequence[str],
        partition_by: dict[str, Sequence[str]] | None = None,
    ) -> dict[str, int]:
        """Right-to-erasure across layers (Delta DELETE shape): for each
        table, find the data FILES containing any of the given keys
        (one broadcast-semi-join scan over ``_metadata.file_path``),
        rewrite ONLY those files minus the keys into a new batch, and
        commit (untouched files keep their manifest entries byte-for-
        byte). Cost is O(files with hits), not O(table) — purging one
        user from a 100 TB table rewrites a handful of files. Returns
        per-table purged row counts — the audit artifact a DPO files.

        Snapshot semantics make deletion two-phase, and that is a
        feature: the purge commit removes the rows from every CURRENT
        read immediately, while prior snapshots still reference the old
        files — physical erasure completes with
        :meth:`expire_snapshots` (keep_last=1), Iceberg's
        expire-after-delete compliance flow. Tables with no hits get no
        new version at all.
        """
        key_cols = list(key_cols)
        # bcast: delta compliance-delete key batch
        small = F.broadcast(keys_df.select(*key_cols).distinct())
        purged: dict[str, int] = {}
        for t in tables:
            data_dir = self._data_dir(t)
            # OCC: pin the snapshot this purge reads, so a concurrent
            # append conflicts at commit instead of losing its files
            base = self.current_version(t)
            alive = (
                [] if base is None else list(self._manifest(t, base)["files"])
            )
            if not alive:
                # table never written (or empty snapshot): nothing to do
                purged[t] = 0
                continue
            hit_paths = (
                self._read_file_list(t, alive, tag_path=True)
                .join(small, on=key_cols, how="left_semi")
                .groupBy(F.col("__file_path").alias("__f"))
                .agg(F.count(F.lit(1)).alias("__hits"))
                .collect()
            )
            if not hit_paths:
                purged[t] = 0
                continue
            purged[t] = sum(r["__hits"] for r in hit_paths)
            # _metadata.file_path is a file: URI with percent-encoding
            # (a partition value 'new york' comes back 'd=new%20york');
            # manifests store raw on-disk relpaths — decode before
            # matching or the hit file is neither dropped nor readable
            hit_rel = {
                os.path.relpath(
                    unquote(urlparse(r["__f"]).path), data_dir
                )
                for r in hit_paths
            }
            keep = [f for f in alive if f not in hit_rel]
            survivors = self._read_file_list(t, sorted(hit_rel)).join(
                small, on=key_cols, how="left_anti"
            )
            new = self._write_batch(survivors, t, (partition_by or {}).get(t))
            self._commit(t, keep + new, "purge", expected_base=base)
        return purged

    def compact(
        self,
        table: str,
        partition_by: Sequence[str] | None = None,
        target_file_rows: int | None = None,
        sort_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        zorder_bits: int = 16,
    ) -> int:
        """Rewrite the current snapshot's data into one fresh batch and
        commit it (Iceberg ``rewrite_data_files``): the many small files
        a per-day append history accumulates become few scan-friendly
        ones, while every PRIOR snapshot still reads its original files
        (compaction is just another commit — time travel and rollback
        survive it; reclaim bytes later with :meth:`expire_snapshots`).
        ``target_file_rows`` caps rows per output file via
        ``maxRecordsPerFile`` when given. Returns the new version.

        ``sort_by`` makes it a SORTED compaction (Iceberg
        ``rewrite_data_files(strategy => 'sort')``): a range
        repartition + within-partition sort lays rows out in key order,
        so output files get disjoint footer envelopes and
        :meth:`read_pruned` / engine row-group skipping become
        effective again once overlap has decayed. Combine with
        ``target_file_rows`` to bound file size; the range exchange is
        one shuffle of the table, the price of re-clustering.

        ``zorder_by`` (exactly two integer-valued columns, mutually
        exclusive with ``sort_by``) compacts along the Morton
        interleave instead (Delta ``OPTIMIZE ZORDER BY``,
        ``operators/scale.py::morton_key``): each output file covers a
        square-ish region of both dimensions, so :meth:`read_pruned` /
        row-group skipping works on EITHER column — the layout a linear
        sort cannot give. Columns must already be non-negative ints in
        ``[0, 2^zorder_bits)`` (quantize dates to day-numbers, prices
        to buckets, before calling).

        ``partition_by=None`` PRESERVES the table's existing hive
        layout (inferred from the current snapshot's file paths) — a
        maintenance verb must not silently flatten partitioning, or a
        later ``overwrite_partitions`` would keep the flattened file
        (its partition tuple is ``()``) and duplicate the restated
        rows. Mixed layouts across batches raise."""
        if partition_by is None:
            partition_by = self._inferred_partition_by(table)
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        # OCC: compact exactly the snapshot it read; a concurrent append
        # conflicts at commit rather than vanishing from the manifest
        base = self.current_version(table)
        df = self.read(table, version=base)
        if sort_by:
            cols = [F.col(c) for c in sort_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        elif zorder_by:
            if len(zorder_by) != 2:
                raise ValueError(
                    f"zorder_by takes exactly two columns, got {list(zorder_by)}"
                )
            from covid_data_pipeline_spark.operators.scale import morton_key

            df = (
                df.withColumn(
                    "__z", morton_key(zorder_by[0], zorder_by[1], zorder_bits)
                )
                .repartitionByRange("__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        new = self._write_batch(
            df, table, partition_by, max_records_per_file=target_file_rows
        )
        return self._commit(table, new, "compact", expected_base=base)

    def remove_orphan_files(self, table: str) -> int:
        """Delete data files referenced by NO manifest — leftovers from
        a crash between ``_write_batch`` and ``_commit`` (the batch dir
        was written but its manifest never landed). Safe by
        construction: every live or time-travel-able file appears in
        some manifest; anything else is unreachable. Run it from the
        single writer only — an IN-FLIGHT batch (written, commit
        pending) is indistinguishable from an orphan, same as Iceberg's
        remove_orphan_files grace-period caveat. Returns the number of
        data files deleted; fully-unreferenced batch dirs are removed
        wholesale (including ``_SUCCESS``/``.crc`` markers a crashed
        Spark write always leaves behind)."""
        import shutil

        referenced: set[str] = set()
        for v in self.versions(table):
            referenced.update(self._manifest(table, v)["files"])
        data_dir = self._data_dir(table)
        deleted = 0
        if not os.path.isdir(data_dir):
            return 0
        # A batch dir with NO referenced file is a crashed write in its
        # entirety: remove the whole dir, _SUCCESS/.crc markers and all
        # (a crashed Spark batch always carries those, so file-by-file
        # deletion would leave the dir non-empty and leak it forever).
        ref_batches = {f.split(os.sep, 1)[0] for f in referenced}
        for entry in sorted(os.listdir(data_dir)):
            path = os.path.join(data_dir, entry)
            if not os.path.isdir(path) or entry in ref_batches:
                continue
            for dirpath, _dirs, names in os.walk(path):
                deleted += sum(
                    1
                    for nme in names
                    if nme.endswith(".parquet") and not nme.startswith(("_", "."))
                )
            shutil.rmtree(path)
        # In referenced batch dirs, remove only unreferenced data files
        # (markers stay — the dir is live).
        for dirpath, _dirs, names in os.walk(data_dir):
            for nme in names:
                if not nme.endswith(".parquet") or nme.startswith(("_", ".")):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, nme), data_dir)
                if rel not in referenced:
                    os.remove(os.path.join(dirpath, nme))
                    deleted += 1
        return deleted

    def expire_snapshots(self, table: str, keep_last: int = 1) -> int:
        """Delete manifests older than the last ``keep_last`` and any data
        file no surviving manifest references (Iceberg expire_snapshots).
        Returns the number of data files deleted."""
        vs = self.versions(table)
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._manifest(table, v)["files"])
        deleted = 0
        for v in drop:
            for f in self._manifest(table, v)["files"]:
                if f not in referenced:
                    path = os.path.join(self._data_dir(table), f)
                    if os.path.exists(path):
                        os.remove(path)
                        deleted += 1
            os.remove(os.path.join(self._snap_dir(table), f"v{v}.json"))
        return deleted

    # -- data skipping -----------------------------------------------------
    def prune_files(
        self,
        table: str,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-level min/max file skipping (Iceberg's
        lower_bounds/upper_bounds scan planning, sourced from the
        parquet FOOTERS of the alive files): return ``(kept_files,
        total_files)`` where a file is kept iff its ``column`` envelope
        across row groups can intersect ``[lo, hi]`` (either bound may
        be None for a half-open range).

        Safety over skipping: files with no footer stats for the
        column (all-NULL file, missing column in an old batch, stats
        disabled) are KEPT — pruning may only ever remove files that
        provably contain no matching row, so the residual filter in
        :meth:`read_pruned` alone decides correctness.

        Planning is a driver-side footer sweep — O(files) metadata
        reads, KBs each, exactly what an Iceberg manifest scan does —
        and pairs with clustered writes (:meth:`compact` with a sort or
        a z-order): on a sorted table the envelopes are disjoint and a
        point/range read touches O(matching) files instead of all of
        them. Hive-partition pruning is NOT re-implemented here —
        partitioned reads recover partition dirs natively and Spark
        prunes them from the path predicate."""
        import pyarrow.parquet as pq

        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"no snapshots for table {table}")
        files = self._manifest(table, v)["files"]
        kept = []
        for rel in files:
            md = pq.ParquetFile(
                os.path.join(self._data_dir(table), rel)
            ).metadata
            flo = fhi = None
            blind = False  # any row group whose values the stats can't bound
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema != column:
                        continue
                    st = col.statistics
                    if st is None:
                        blind = True  # values present, no stats at all
                        continue
                    if not st.has_min_max:
                        # min/max absent is only safe to ignore when the
                        # chunk is provably all-NULL (NULLs never match a
                        # range predicate); otherwise this row group could
                        # hold ANY value and the file must be kept
                        if not (
                            st.has_null_count
                            and st.null_count == col.num_values
                        ):
                            blind = True
                        continue
                    flo = st.min if flo is None else min(flo, st.min)
                    fhi = st.max if fhi is None else max(fhi, st.max)
            if blind or flo is None:
                kept.append(rel)  # stats can't prove absence: must keep
                continue
            try:
                drop = (lo is not None and fhi < lo) or (
                    hi is not None and flo > hi
                )
            except TypeError:
                # Bound type doesn't compare against the footer stat
                # type (e.g. str bound vs date/int stats from pyarrow):
                # surface the contract violation clearly instead of a
                # cryptic mid-sweep TypeError. Callers who want the
                # old footer types can pass matching Python types.
                raise TypeError(
                    f"prune_files({table!r}, {column!r}): bounds "
                    f"lo={type(lo).__name__}/hi={type(hi).__name__} are "
                    f"not comparable with the column's parquet footer "
                    f"stat type {type(flo).__name__} — pass bounds of "
                    "the footer's Python type"
                ) from None
            if drop:
                continue
            kept.append(rel)
        return kept, len(files)

    def read_pruned(
        self,
        table: str,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Range read with manifest-level data skipping: scan only the
        files :meth:`prune_files` keeps, then apply the exact residual
        predicate — pruning can only shrink the scan, never change the
        result (equality with a full-scan filter is the tested
        contract)."""
        kept, _total = self.prune_files(table, column, lo, hi, version)
        if not kept:
            base = self.read(table, version).limit(0)
        else:
            base = self._read_file_list(table, kept)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(column) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(column) <= F.lit(hi))
        return base.filter(cond)

    # -- row-level DML (Delta DELETE/UPDATE parity, copy-on-write) --------
    def _inferred_partition_by(self, table: str) -> list[str] | None:
        keysets = {
            tuple(k for k, _ in _parts_from_relpath(f))
            for f in self._alive_files(table)
        }
        keysets.discard(())
        if len(keysets) > 1:
            raise ValueError(
                f"{table}: mixed partition layouts {sorted(keysets)} — "
                "pass partition_by explicitly"
            )
        return list(next(iter(keysets))) if keysets else None

    def _rewrite_where(
        self,
        table: str,
        predicate,
        transform,
        op: str,
        partition_by: Sequence[str] | None,
    ) -> int:
        """Copy-on-write DML core: ONE tagged scan finds the data files
        containing rows where ``predicate`` IS TRUE; only those files
        are rewritten through ``transform``; untouched files keep their
        manifest entries byte-for-byte. Returns the matched row count
        (0 ⇒ no new version committed). Cost is O(files with hits) —
        the purge_keys shape generalized to arbitrary predicates."""
        hit = F.coalesce(predicate, F.lit(False))
        # OCC: capture the base version BEFORE reading state, so a
        # concurrent append between this read and the commit raises
        # CommitConflictError instead of silently dropping its files.
        base = self.current_version(table)
        if base is None:
            return 0
        alive = list(self._manifest(table, base)["files"])
        if not alive:
            return 0
        data_dir = self._data_dir(table)
        hit_paths = (
            self._read_file_list(table, alive, tag_path=True)
            .filter(hit)
            .groupBy(F.col("__file_path").alias("__f"))
            .agg(F.count(F.lit(1)).alias("__hits"))
            .collect()
        )
        if not hit_paths:
            return 0
        if partition_by is None:
            partition_by = self._inferred_partition_by(table)
        hit_rel = {
            os.path.relpath(unquote(urlparse(r["__f"]).path), data_dir)
            for r in hit_paths
        }
        keep = [f for f in alive if f not in hit_rel]
        rewritten = transform(
            self._read_file_list(table, sorted(hit_rel)), hit
        )
        new = self._write_batch(rewritten, table, partition_by)
        self._commit(table, keep + new, op, expected_base=base)
        return sum(r["__hits"] for r in hit_paths)

    def delete_where(
        self,
        table: str,
        predicate,
        partition_by: Sequence[str] | None = None,
    ) -> int:
        """``DELETE FROM table WHERE predicate`` with SQL semantics:
        rows where the predicate is TRUE are removed; FALSE and NULL
        rows survive. Copy-on-write: only files containing a match are
        rewritten; prior snapshots still read the old files (time
        travel shows pre-delete state; reclaim with
        :meth:`expire_snapshots`). Returns deleted row count."""
        return self._rewrite_where(
            table,
            predicate,
            lambda df, hit: df.filter(~hit),
            "delete",
            partition_by,
        )

    def update_where(
        self,
        table: str,
        predicate,
        set_exprs: dict,
        partition_by: Sequence[str] | None = None,
    ) -> int:
        """``UPDATE table SET col = expr, … WHERE predicate``
        (copy-on-write): matched rows get each ``set_exprs`` column
        replaced (expressions may reference existing columns — the
        standard ``SET total = total * 1.1`` shape); unmatched rows in
        rewritten files are carried byte-equal. Updating a hive
        partition column moves the row to its new partition directory
        in the rewrite. Returns updated row count."""
        def _apply(df: DataFrame, hit) -> DataFrame:
            missing = [c for c in set_exprs if c not in df.columns]
            if missing:
                raise ValueError(f"{table}: SET on unknown columns {missing}")
            out = df
            for c, expr in set_exprs.items():
                e = expr if isinstance(expr, Column) else F.lit(expr)
                out = out.withColumn(c, F.when(hit, e).otherwise(F.col(c)))
            return out

        return self._rewrite_where(
            table, predicate, _apply, "update", partition_by
        )

    def merge_into(
        self,
        table: str,
        source: DataFrame,
        on: Sequence[str],
        partition_by: Sequence[str] | None = None,
    ) -> dict:
        """``MERGE INTO table USING source ON keys`` — matched target
        rows take the source row's non-key columns (WHEN MATCHED THEN
        UPDATE SET *), unmatched source rows insert (WHEN NOT MATCHED
        THEN INSERT *). The Delta/Iceberg upsert verb, copy-on-write:

        * hit files — the only files containing any matching key — are
          found with ONE broadcast-semi-join tagged scan and rewritten;
          every other file keeps its manifest entry byte-for-byte, so
          cost is O(files with matches + inserts), not O(table);
        * "not matched" needs no full-table key scan: any target match
          lives in a hit file by construction, so inserts are the
          source anti-joined against hit-file rows only;
        * standard MERGE cardinality contract enforced — duplicate keys
          in the source would make the update non-deterministic and
          raise instead; duplicate-key rows on the TARGET side are each
          updated to the source values (multiplicity preserved, like
          Delta/Iceberg MERGE).

        Returns ``{"updated": n, "inserted": n}``. Prior snapshots time
        travel to the pre-merge state."""
        on = list(on)
        if set(source.columns) != set(self.read(table).limit(0).columns):
            raise ValueError(
                f"{table}: merge source columns {sorted(source.columns)} "
                "must equal target columns"
            )
        if source.groupBy(*on).count().filter("count > 1").limit(1).count():
            raise ValueError(
                f"merge source has duplicate keys on {on} — the update "
                "would be non-deterministic (standard MERGE constraint)"
            )
        if partition_by is None:
            partition_by = self._inferred_partition_by(table)
        data_dir = self._data_dir(table)
        # OCC: merge against a pinned snapshot; concurrent commits
        # conflict instead of being dropped from the merged manifest
        base = self.current_version(table)
        alive = (
            [] if base is None else list(self._manifest(table, base)["files"])
        )
        src = source.persist()
        # bcast: delta MERGE source-batch keys
        keys = F.broadcast(src.select(*on).distinct())
        hit_paths = (
            self._read_file_list(table, alive, tag_path=True)
            .join(keys, on=on, how="left_semi")
            .select("__file_path")
            .distinct()
            .collect()
        )
        hit_rel = sorted(
            os.path.relpath(unquote(urlparse(r["__file_path"]).path), data_dir)
            for r in hit_paths
        )
        keep = [f for f in alive if f not in set(hit_rel)]
        if hit_rel:
            # persist: the hit files feed survivors, updated, inserts AND
            # the write — without it every count re-scans the rewritten
            # files
            hit_rows = self._read_file_list(table, hit_rel).persist()
            survivors = hit_rows.join(keys, on=on, how="left_anti")
            # one output row PER MATCHED TARGET ROW taking the source's
            # values — duplicate-key target rows keep their multiplicity
            # (Delta parity: MERGE updates every matched row; only the
            # SOURCE side must be key-unique)
            updated = hit_rows.select(*on).join(
                # bcast: delta MERGE source batch
                F.broadcast(src), on=on, how="inner"
            )
            inserts = src.join(hit_rows.select(*on).distinct(), on=on, how="left_anti")
            cols = self.read(table).limit(0).columns
            new_rows = (
                survivors.select(*cols)
                .unionByName(updated.select(*cols))
                .unionByName(inserts.select(*cols))
            )
            n_upd = updated.count()
            n_ins = inserts.count()
        else:
            hit_rows = None
            new_rows = src
            n_upd, n_ins = 0, src.count()
        new = self._write_batch(new_rows, table, partition_by)
        self._commit(table, keep + new, "merge", expected_base=base)
        src.unpersist()
        if hit_rows is not None:
            hit_rows.unpersist()
        return {"updated": n_upd, "inserted": n_ins}
