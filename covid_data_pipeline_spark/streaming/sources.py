"""Streaming sources.

File streams are the scale path for landing-zone ingestion (the streaming
twin of the reference's MinIO landing bucket, covid_to_s3.py:48-80): each
micro-batch picks up newly arrived files, so a 100 TB backlog is processed
``maxFilesPerTrigger`` files at a time with bounded executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """``readStream`` over a landing directory. Streaming file sources
    require a declared schema (no inference race with arriving files)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if fmt == "csv":
        reader = reader.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)
