"""Readers (SURVEY.md §2.1: S1 CSV scan, S2 table scan, S4 JDBC scan).

All readers return lazy DataFrames; filters/projections applied by callers
reach the scan via Catalyst pushdown (no materialization here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer_schema: bool = True,
) -> DataFrame:
    """CSV scan (S1 — reference process_covid_raw.py:89-92 reads with
    header+inferSchema). Passing ``schema`` skips inference — at scale
    inference double-reads the data, so production callers should conform
    with an explicit schema and keep inference for exploration."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    return reader.csv(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """CSV scan that splits clean rows from malformed ones instead of
    silently nulling or failing the job (PERMISSIVE parse + captured
    corrupt-record column). Returns ``(good, quarantine)``: ``good``
    carries the declared schema; ``quarantine`` carries the raw offending
    line for replay/debugging. At 100 TB a single bad line must never
    kill the run NOR vanish — the quarantine table is what makes ingest
    auditable. Spark requires the parsed CSV to be cached/materialized
    before filtering on the corrupt column (SPARK-38523); we cache the
    narrow parse, and callers should unpersist after both sides are
    written.
    """
    full = T.StructType(schema.fields + [T.StructField(corrupt_col, T.StringType())])
    parsed = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
        .cache()
    )
    good = parsed.filter(parsed[corrupt_col].isNull()).drop(corrupt_col)
    quarantine = parsed.filter(parsed[corrupt_col].isNotNull()).select(
        parsed[corrupt_col].alias("raw_line")
    )
    return good, quarantine


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan (north-star source list: "CSV/JSON sources").
    As with CSV, pass ``schema`` in production — inference double-reads.
    ``multiline=True`` for whole-file JSON documents (one doc per file;
    not splittable — keep files small or prefer JSONL at scale)."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """JSONL scan with bad-line quarantine — the JSON face of
    ``read_csv_quarantine``: PERMISSIVE mode routes unparseable lines
    into ``corrupt_col`` instead of failing the job (FAILFAST) or
    silently nulling fields. Returns ``(good, quarantine)`` where
    quarantine holds the raw offending lines for the dead-letter sink.
    Requires an explicit ``schema`` (inference double-reads AND would
    widen types to swallow the very rows we want quarantined)."""
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
    )
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = parsed.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = parsed.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, quarantine


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other splittable columnar format a lakehouse
    ingests (Hive-era warehouses hand ORC over all the time). Same
    pushdown/pruning contract as parquet: predicates and required
    columns reach the native reader, hive-style partition dirs prune."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Whole-file binary scan (``binaryFile`` format): one row per file
    with ``path, modificationTime, length, content``. The ingest face of
    the multimodal family — raw image/audio/video files become opaque
    binary rows Spark distributes like any other data.

    Scale notes: files are assigned to tasks by size
    (``spark.sql.files.maxPartitionBytes`` governs packing), so millions
    of small media files parallelize across executors; ``length`` and
    ``path`` filters prune BEFORE content is read (only the matched
    files' bytes are fetched). Keep per-file size under
    ``spark.sql.sources.binaryFile.maxLength`` (int32 max) — shard
    larger media at landing time.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_media_dir(
    spark: SparkSession,
    path: str,
    media_type: str,
    glob: str | None = None,
) -> DataFrame:
    """Land a directory of media files in the MEDIA_SCHEMA contract
    (``media_id, payload, meta`` — operators/multimodal.py): binaryFile
    rows mapped to a stable 63-bit id (xxhash64 of the file path), the
    payload, and metadata with ``format`` parsed from the extension.
    Width/height/duration stay NULL until the (stubbed) decode step
    fills them — the plumbing the featurize/resize/chunk operators
    consume directly.
    """
    files = read_binary_files(spark, path, glob=glob)
    fmt = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    null_i = F.lit(None).cast("int")
    return files.select(
        F.abs(F.xxhash64(F.col("path"))).alias("media_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            fmt.alias("format"),
            null_i.alias("width"),
            null_i.alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            null_i.alias("sample_rate"),
        ).alias("meta"),
    )


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet scan across schema versions (``mergeSchema``): columns
    added over a table's lifetime are unioned into one schema, with
    NULLs where old files lack them — the schema-evolution read every
    long-lived lakehouse table eventually needs. Spark skips the
    footer-merging pass by default because it costs one extra file
    listing+footer read per file at planning time; this entry point
    opts in explicitly rather than making every scan pay it."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan (S4 — replaces the reference's Trino federation of Postgres,
    population_to_s3.py:61-64 + source_population.properties).

    When ``partition_column`` bounds are given the read is split into
    ``num_partitions`` parallel range queries — without them a JDBC scan is
    a single-threaded bottleneck at scale. Requires the JDBC driver jar on
    the classpath; callers should treat availability as optional.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option(
                "upperBound", str(upper_bound if upper_bound is not None else 1 << 31)
            )
        )
    return reader.load()
