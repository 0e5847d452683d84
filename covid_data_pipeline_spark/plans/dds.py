"""dds layer: the star schema — dim_location (replace) + fact_covid.

Reference: process_covid_dds.py — sha2 surrogate key over (country, year)
(:34-39), wholesale dim rebuild via createOrReplace (:41-44), composite
left join ODS×dim keeping unmatched rows with NULL key (:60-73), DQ
null-count warning (:75-77) — logged after the fact partition overwrite
(:81-92), from an Observation on that write instead of a second count.

The two writes are two functions. ``process_dim`` reads population
alone, so ``run_day`` runs it on every day (as the reference does,
before its ODS skip guard at :51-54) beside raw → ods. ``process_dds``
joins the day's ODS slice to the dim ``process_dim`` wrote.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import surrogate_key
from covid_data_pipeline_spark.operators.relational import dim_join, distinct_rows
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.sources.writers import Warehouse

log = logging.getLogger(__name__)

FACT_COLUMNS = (
    "report_date",
    "location_key",
    "confirmed",
    "deaths",
    "recovered",
    "active",
    "ingestion_ts",
)


def build_dim_location(population: DataFrame) -> DataFrame:
    """One row per (country, population_year) with a deterministic sha2
    surrogate key — deterministic because the dim is rebuilt every run
    while fact partitions persist (SURVEY.md §7.3)."""
    return distinct_rows(
        population.select(
            surrogate_key("country", "year").alias("location_key"),
            F.col("country").alias("country_name"),
            F.col("year").alias("population_year"),
            F.col("population"),
        )
    )


def build_fact_day(ods_day: DataFrame, dim: DataFrame) -> DataFrame:
    """Left join the day's ODS slice to the dim on the composite
    (country, year) key; unmatched countries keep NULL location_key
    (deliberate — the mart's INNER join drops them later, the fact does
    not lose data)."""
    enriched = ods_day.withColumn("report_year", F.year(F.col("report_date")))
    joined = dim_join(
        enriched,
        dim,
        on=(enriched.country_region == dim.country_name)
        & (enriched.report_year == dim.population_year),
        how="left",  # dim is ~|countries|×|years| rows — tiny, broadcast
    )
    return joined.select(*[F.col(c) for c in FACT_COLUMNS])


def process_dim(spark: SparkSession, wh: Warehouse) -> None:
    """Rebuild ``DIM_TABLE`` wholesale from the population table."""
    wh.replace(build_dim_location(wh.read(S.POPULATION_TABLE)), S.DIM_TABLE)


def process_dds(
    spark: SparkSession, wh: Warehouse, report_date: str
) -> tuple[int, int]:
    """DDS stage: build the day's fact slice over ``DIM_TABLE`` (written
    by :func:`process_dim`) and overwrite its partition. Returns
    ``(rows, missing)``: the fact rows written (0 if the ODS day is
    empty) and those with a NULL location_key.

    One Observation on the fact write counts both (the skip guard and the
    DQ warning), so neither re-runs the join before the write."""
    ods_day = wh.read(S.ODS_TABLE).filter(
        F.col("report_date") == F.lit(report_date).cast("date")
    )
    obs = Observation()
    fact = build_fact_day(ods_day, wh.read(S.DIM_TABLE)).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col("location_key").isNull()).alias("missing"),
    )
    wh.overwrite_partitions(fact, S.FACT_TABLE, partition_by=["report_date"])
    rows, missing = obs.get["rows"], obs.get["missing"]
    if missing:
        log.warning(
            "%d records failed to join (missing population for year)", missing
        )
    return rows, missing
