"""Sinks (SURVEY.md §2.1: S6 append, S7 dynamic partition overwrite,
S8 full replace, S9 JDBC append) over a filesystem Parquet warehouse.

The reference writes Iceberg v2 tables through DataFrameWriterV2
(``append`` / ``overwritePartitions`` / ``createOrReplace`` — reference
process_covid_raw.py:102-113, process_covid_ods.py:79-91,
process_covid_dds.py:41-44). This module abstracts those three snapshot
semantics over plain partitioned Parquet so the engine runs anywhere
(testdata is plain parquet, no metastore needed):

  append                → mode("append")
  overwrite_partitions  → mode("overwrite") with the write option
                          partitionOverwriteMode=dynamic (replaces ONLY
                          the partitions present in the incoming frame —
                          idempotent day re-runs — whatever the session
                          conf says; a missing table is created)
  replace               → mode("overwrite") of the whole table, with
                          partitionOverwriteMode=static on the write

Each table directory also holds ``_schema.json``: the schema of its data
files, saved by the write that made them. Reads hand it to Spark, so a
read lists files but runs no footer-inference job — the stored table
metadata an Iceberg catalog keeps (see :class:`Warehouse` for the
rules). The ``_`` prefix keeps it out of Spark's file index.

On a deployment with Iceberg jars the same three verbs map 1:1 onto
DataFrameWriterV2; the Warehouse API is the stable seam.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"


def _nullable(node):
    """A schema's JSON form with every field, element and value nullable."""
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {
        k: True
        if k in ("nullable", "containsNull", "valueContainsNull")
        else _nullable(v)
        for k, v in node.items()
    }


def data_schema(schema: StructType, partition_by: Sequence[str] | None) -> StructType:
    """The schema Spark's footer inference returns for the data files a
    frame of ``schema`` writes: the partition columns (they live in the
    directory names) dropped, every field nullable."""
    drop = set(partition_by or ())
    kept = StructType([f for f in schema.fields if f.name not in drop])
    return StructType.fromJson(_nullable(kept.jsonValue()))


def load_schema(directory: str) -> StructType | None:
    """The schema recorded in ``directory``, or None if there is none."""
    try:
        with open(os.path.join(directory, SCHEMA_FILE)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def save_schema(directory: str, schema: StructType) -> None:
    """Record ``schema`` in ``directory`` atomically (temp file, then
    ``os.replace``): a reader sees the old record or the new one."""
    tmp = os.path.join(directory, f".{SCHEMA_FILE}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write(schema.json())
    os.replace(tmp, os.path.join(directory, SCHEMA_FILE))


def remove_schema(directory: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(directory, SCHEMA_FILE))


class Warehouse:
    """A directory-rooted lakehouse: one subdir per ``layer.table``.

    Layout::

        <root>/<layer>/<table>/[<part_col>=<v>/...]*.parquet
        <root>/<layer>/<table>/_schema.json

    Hive-style partition dirs, so reads get partition pruning for free.
    ``_schema.json`` is the data files' schema (partition columns left
    out; Spark still discovers them, and their types, from the directory
    names). :meth:`read` passes it to Spark instead of inferring it.

    The record exists only if every data file in the table was written
    with that schema:

    - ``replace`` removes it before the write and records the new schema
      if the table then has data files.
    - ``append`` and ``overwrite_partitions`` leave a record equal to the
      incoming schema, record the incoming schema if the table had no
      data files before and has some after, and otherwise remove the
      record before writing (a different schema, or a table written
      before records existed): reads of that table infer again.
    - ``compact`` records the schema it rewrote the table with.

    The Warehouse owns its table directories: files put there other than
    through these verbs are not reflected in the record (as with an
    Iceberg table written behind its catalog's back).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        """``layer.table`` → directory path."""
        return os.path.join(self.root, *table.split("."))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            not entry.startswith(("_", ".")) for entry in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        path = self.path(table)
        schema = load_schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    # File-sizing guard for every write: without it one task writing a
    # huge hive partition emits one huge file (no parallel read), and at
    # the other extreme thousands of tasks emit the small-files problem
    # compaction exists to fix. maxRecordsPerFile rolls files task-side
    # at a target row count — set it so rows x row_width ~ 128-512 MB.
    max_records_per_file: int | None = None

    def _writer(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None,
        sort_within_partitions_by: Sequence[str] | None,
    ):
        # Write-side clustering for parquet RLE/dictionary efficiency —
        # the reference sorts raw rows by country before writing
        # (process_covid_raw.py:102, SURVEY.md §2.6 O1).
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        writer = df.write.format("parquet")
        if self.max_records_per_file:
            writer = writer.option(
                "maxRecordsPerFile", str(self.max_records_per_file)
            )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        return writer

    def _add_files(
        self, writer, df: DataFrame, table: str, partition_by: Sequence[str] | None
    ) -> None:
        """Save ``writer`` into ``table``, which keeps its other files,
        and keep the schema record true (rules in the class docstring)."""
        path = self.path(table)
        incoming = data_schema(df.schema, partition_by)
        stored = load_schema(path)
        record_after = stored is None and not self.exists(table)
        if stored is not None and stored != incoming:
            remove_schema(path)
        writer.save(path)
        if record_after and self.exists(table):
            save_schema(path, incoming)

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None = None,
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> None:
        """Create-or-append (S6 — reference probe-then-append,
        process_covid_raw.py:107-113; parquet append covers both cases)."""
        writer = self._writer(df, partition_by, sort_within_partitions_by)
        self._add_files(writer.mode("append"), df, table, partition_by)

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str],
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> None:
        """Dynamic partition overwrite (S7 — reference
        ``overwritePartitions()``): replaces only the partitions present in
        ``df``, leaving all other history untouched. Re-running the same
        day twice is a no-op difference-wise — the reference's strongest
        invariant (SURVEY.md §5), encoded as a test here."""
        # Dynamic mode on the write itself, not the session: the write
        # option takes precedence over the session conf, so this verb never
        # does a static overwrite (which would silently drop every other
        # partition's history) and never touches the caller's session.
        writer = self._writer(df, list(partition_by), sort_within_partitions_by)
        writer = writer.option("partitionOverwriteMode", "dynamic").mode("overwrite")
        self._add_files(writer, df, table, partition_by)

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None = None,
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> None:
        """Full replace (S8 — reference ``createOrReplace()`` rebuilding
        dim_location wholesale every run, process_covid_dds.py:41-44)."""
        path = self.path(table)
        remove_schema(path)
        # Static mode on the write itself: under a session set to dynamic
        # (session.get_spark sets it), a partitioned overwrite would keep
        # every partition absent from ``df``.
        writer = self._writer(df, partition_by, sort_within_partitions_by)
        writer.option("partitionOverwriteMode", "static").mode("overwrite").save(path)
        if self.exists(table):
            save_schema(path, data_schema(df.schema, partition_by))

    def compact(
        self,
        table: str,
        partition_by: Sequence[str] | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> None:
        """Rewrite a table's data files at ~target size (the small-files
        maintenance every append-per-micro-batch/day table needs at scale:
        thousands of KB-files per partition destroy scan parallelism
        bookkeeping and NameNode/S3-listing time).

        Uses ``maxRecordsPerFile`` derived from observed bytes/row so each
        output file lands near the target regardless of row width; data is
        re-clustered by the partition columns first so each task writes
        whole files for few partitions (no tiny per-task-per-partition
        shards). Reads fully before the overwrite (parquet has no
        snapshot isolation — at warehouse scale use Iceberg's
        rewrite_data_files, which this mirrors).

        Crash-safe swap protocol: the data always exists under either
        the table path or the ``__old`` backup. On entry, recover from a
        prior crash — restore the backup if the swap died between
        renames (table path missing), otherwise discard leftovers — so a
        crashed compaction never loses data or wedges the next one.
        The staged table carries the schema record of the frame it was
        rewritten from, so reads after the swap run no inference job."""
        final = self.path(table)
        staging = final + "__compact"
        backup = final + "__old"
        if os.path.exists(backup):
            if not os.path.exists(final):
                # Crash window between the two renames: the backup IS
                # the table. Restore it.
                os.rename(backup, final)
            else:
                # Crash after the swap but before backup cleanup.
                shutil.rmtree(backup)
        if os.path.exists(staging):
            # Half-written staging from a crashed compaction run.
            shutil.rmtree(staging)
        df = self.read(table)
        total_rows = df.count()
        if total_rows == 0:
            return
        # Estimate bytes/row from current on-disk size.
        size = 0
        for dirpath, _dirs, files in os.walk(self.path(table)):
            size += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if not f.startswith(("_", "."))
            )
        rows_per_file = max(1, int(total_rows * target_file_bytes / max(size, 1)))
        compacted = df
        if partition_by:
            compacted = compacted.repartition(*[F.col(c) for c in partition_by])
        else:
            n_files = max(1, (size + target_file_bytes - 1) // target_file_bytes)
            compacted = compacted.repartition(int(n_files))
        # Write to a staging dir then swap — self-overwrite of a parquet
        # dir being read is undefined.
        writer = compacted.write.format("parquet").option(
            "maxRecordsPerFile", str(rows_per_file)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.mode("overwrite").save(staging)
        save_schema(staging, data_schema(df.schema, partition_by))
        os.rename(final, backup)
        os.rename(staging, final)
        shutil.rmtree(backup)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """JDBC append sink (S9 — replaces the reference's Trino cross-catalog
    INSERT…SELECT into Postgres, alert_case_spike.sql:1-19).

    Each partition opens one connection and writes ``batch_size`` rows per
    round trip; ``df.coalesce(n)`` first if the target can't take one
    connection per partition. Needs the JDBC driver jar; tests use a
    Warehouse table as the alert sink instead.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath.

    The parquet Warehouse above is the default arm (testdata is plain
    parquet, no metastore in the test environment); this probe gates the
    native arm and its tests (skipped, not failed, when absent)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergWarehouse:
    """Native Iceberg arm of the Warehouse seam: the same three snapshot
    verbs, mapped 1:1 onto DataFrameWriterV2 exactly as the reference
    writes them (probe-then-append process_covid_raw.py:102-113,
    ``overwritePartitions()`` process_covid_ods.py:79-91,
    ``createOrReplace()`` process_covid_dds.py:41-44).

    Requires a session configured with an Iceberg catalog, e.g.::

        spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.<name>.type = hadoop
        spark.sql.catalog.<name>.warehouse = <dir>

    Iceberg supplies natively what the parquet arm reimplements:
    snapshot isolation (vs the compact() staging swap), time travel /
    rollback (vs SnapshotWarehouse's manifests), and rewrite_data_files
    (vs compact()). Table maintenance therefore lives in Iceberg
    procedures, not here.
    """

    def __init__(self, spark: SparkSession, catalog: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on the classpath; use the parquet "
                "Warehouse or add iceberg-spark-runtime to spark.jars"
            )
        self.spark = spark
        self.catalog = catalog

    def ident(self, table: str) -> str:
        """``layer.table`` → ``catalog.layer.table``."""
        return f"{self.catalog}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self.ident(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.table(self.ident(table))

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None = None,
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> None:
        """S6 create-or-append — the reference's probe-then-append."""
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        writer = df.writeTo(self.ident(table)).using("iceberg")
        if self.exists(table):
            writer.append()
        else:
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.create()

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str],
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> None:
        """S7 dynamic partition overwrite — native
        ``overwritePartitions()`` (no session-conf toggling needed: the
        writer-v2 verb is dynamic by definition)."""
        if not self.exists(table):
            self.append(df, table, partition_by, sort_within_partitions_by)
            return
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        df.writeTo(self.ident(table)).using("iceberg").overwritePartitions()

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: Sequence[str] | None = None,
        sort_within_partitions_by: Sequence[str] | None = None,
    ) -> None:
        """S8 full replace — native ``createOrReplace()``."""
        if sort_within_partitions_by:
            df = df.sortWithinPartitions(*sort_within_partitions_by)
        writer = df.writeTo(self.ident(table)).using("iceberg")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
