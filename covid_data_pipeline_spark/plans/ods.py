"""ods layer: province/county rows → one row per (report_date, country).

Reference: process_covid_ods.py — derive report_date from source_file,
filter to the day, normalize country names (15-branch CASE), null-safe
groupBy-sum, dynamic-partition-overwrite (:30-91).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import map_values
from covid_data_pipeline_spark.operators.relational import null_safe_sum_rollup
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.plans.raw import DATE_IN_PATH
from covid_data_pipeline_spark.sources.writers import Warehouse


def build_ods_day(raw_df: DataFrame, report_date: str) -> DataFrame:
    """The day's country-grain rollup (no sink). Matches reference
    process_covid_ods.py:32-71 exactly; the report_date is re-derived
    from source_file (not trusted from partitioning)."""
    day = raw_df.withColumn(
        "report_date",
        F.to_date(F.regexp_extract(F.col("source_file"), DATE_IN_PATH, 1)),
    ).filter(F.col("report_date") == F.lit(report_date).cast("date"))
    # Case-insensitive resolution: raw columns are CamelCase
    # (Country_Region/Confirmed/…), referenced lowercase here like the
    # reference does (SURVEY.md §1.3).
    normalized = day.withColumn(
        "country_normalized", map_values("country_region", S.COUNTRY_NORMALIZATION)
    )
    rolled = null_safe_sum_rollup(
        normalized.withColumnRenamed("country_normalized", "__country"),
        group_by=["report_date", "__country"],
        sum_cols=["confirmed", "deaths", "recovered", "active"],
        count_alias="source_records_cnt",
    )
    return (
        rolled.withColumnRenamed("__country", "country_region")
        .withColumn("ingestion_ts", F.current_timestamp())
        .select(
            "report_date",
            "country_region",
            "confirmed",
            "deaths",
            "recovered",
            "active",
            "source_records_cnt",
            "ingestion_ts",
        )
    )


def process_ods(spark: SparkSession, wh: Warehouse, report_date: str) -> int:
    """ODS stage: read raw (pruned to the day's ingest_date partition),
    roll up, dynamic-partition-overwrite ods.daily_country_stats.
    Returns the rows written; 0 when the day has no raw rows (reference's
    skip guard, process_covid_ods.py:37-40). The count is an Observation
    on the write itself: an empty day's partitioned write leaves no data
    files, and the count costs no extra Spark job."""
    # Partition-pruned read (``process_raw`` partitions raw by
    # ingest_date) — the engine's fix for the reference's
    # full-raw-scan-per-day wart (SURVEY.md §4).
    raw_df = wh.read(S.RAW_TABLE).filter(
        F.col("ingest_date") == F.lit(report_date).cast("date")
    )
    obs = Observation()
    ods_df = build_ods_day(raw_df, report_date).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    wh.overwrite_partitions(ods_df, S.ODS_TABLE, partition_by=["report_date"])
    return obs.get["rows"]
