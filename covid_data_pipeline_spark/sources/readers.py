"""Readers (SURVEY.md §2.1: S1 CSV scan, S2 table scan, S4 JDBC scan).

All readers return lazy DataFrames; filters/projections applied by callers
reach the scan via Catalyst pushdown (no materialization here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other splittable columnar format a lakehouse
    ingests (Hive-era warehouses hand ORC over all the time). Same
    pushdown/pruning contract as parquet: predicates and required
    columns reach the native reader, hive-style partition dirs prune."""
    return spark.read.orc(path)


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
