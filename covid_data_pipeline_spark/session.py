"""SparkSession builder with scale-aware defaults.

Mirrors the intent of the reference's spark-defaults
(/root/reference/spark/configs/spark-defaults.conf:1-13 — Iceberg catalog +
S3A endpoint) but defaults to a locally-runnable configuration: AQE on,
UTC session timezone (so results compare cleanly against UTC-naive
engines like DuckDB), Arrow enabled for the Pandas-UDF slow path.

At cluster scale the same builder is used — only master/memory/shuffle
partitions change; every operator in this package is written against the
DataFrame API so the physical strategy is Catalyst's choice.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions should track available parallelism locally; on a real
# cluster leave AQE's coalescing to right-size post-shuffle partitions.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "covid_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Defaults are chosen for local[<cpus>] testing but every setting is
    cluster-safe: AQE handles post-shuffle sizing and skew joins, dynamic
    partition overwrite gives idempotent re-runs (the reference's
    strongest invariant — SURVEY.md §5), UTC keeps timestamp semantics
    engine-portable.
    """
    cpus = _DEFAULT_CPUS
    # In local mode the driver JVM hosts every executor thread; Spark's
    # 1g default heap cannot absorb a multi-million-row sort spill. Only
    # effective for a FRESH JVM (getOrCreate cannot resize a live one).
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else cpus),
        )
        # AQE: runtime re-planning — coalesce small post-shuffle partitions,
        # convert to broadcast when runtime stats allow, split skewed joins.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Idempotent day re-runs: overwrite ONLY the partitions present in
        # the incoming frame (parquet equivalent of Iceberg
        # overwritePartitions — reference process_covid_ods.py:87).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Deterministic cross-engine timestamp comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the (rare) Pandas-UDF operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Let Python Data Source readers absorb filters (sources/pyds.py).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Columnar parquet at rest, snappy like the reference
        # (process_covid_ods.py:83).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # The reference relies on case-insensitive resolution
        # (SURVEY.md §1.3) — this is Spark's default; pin it explicitly.
        .config("spark.sql.caseSensitive", "false")
        .config("spark.ui.enabled", "false")
    )
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
