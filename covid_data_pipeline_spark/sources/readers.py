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
