"""Load the driver's synthetic testdata tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects
        # ([PARQUET_TYPE_ILLEGAL]); read nanos as long and convert to a
        # microsecond timestamp (testdata is µs-aligned so truncation is
        # lossless and matches DuckDB's µs TIMESTAMP).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


# Memoized parquet-metadata row counts, used as size-gate bounds for
# dimension broadcasts (operators.relational.size_gated_broadcast).
# Keyed on (sf_dir, name) for the process lifetime — sound for the
# static driver/bench testdata; a tool that regenerates parquet under
# the same path in-process must clear this dict.
_DIM_COUNT_CACHE: dict[tuple[str, str], int] = {}


def dim_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Cheap upper bound on a dimension's row count (parquet footer
    count, memoized). Callers pass it to ``size_gated_broadcast`` so a
    force-broadcast of an SF-scaled dimension (part, supplier) degrades
    to a keyed shuffle join past the gate's row limit instead of a
    driver OOM at catalog scale."""
    key = (sf_dir, name)
    if key not in _DIM_COUNT_CACHE:
        _DIM_COUNT_CACHE[key] = table(spark, sf_dir, name).count()
    return _DIM_COUNT_CACHE[key]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}
