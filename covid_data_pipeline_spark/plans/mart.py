"""data_mart layer: per-country daily analytics.

Reference: process_covid_data_mart.py:50-126 — fact INNER JOIN dim,
LAG-window deltas (clamped at 0), per-100k + rate metrics, risk CASE,
filtered to the processing day ABOVE the window (the LAG must see the
prior day — SURVEY.md §7.3 trap), dynamic partition overwrite.

One plan, :func:`build_mart_history`: the LAG window over each country's
full fact history. A delta against the previous calendar day's partition
would read less, but only the window is exact when a day is missing: the
day after a gap still gets its increase over the last reported day
(tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import bucketize, per_100k, rate_percent
from covid_data_pipeline_spark.operators.relational import dim_join
from covid_data_pipeline_spark.operators.windows import with_deltas
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.sources.writers import Warehouse

def _joined_base(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """raw_joined CTE: fact INNER JOIN dim with population guards
    (reference :60-64); Active recomputed from counters, never trusted
    from source (:59, SURVEY.md §7.3)."""
    d = dim.filter(
        F.col("country_name").isNotNull()
        & F.col("population").isNotNull()
        & (F.col("population") > 0)
    ).select("location_key", "country_name", "population")
    return dim_join(fact, d, on=["location_key"], how="inner").select(
        "report_date",
        "country_name",
        "population",
        F.col("confirmed").alias("total_confirmed"),
        F.col("deaths").alias("total_deaths"),
        F.col("recovered").alias("total_recovered"),
        (F.col("confirmed") - F.col("deaths") - F.col("recovered")).alias(
            "current_active_cases"
        ),
    )


def _finalize(with_delta_cols: DataFrame) -> DataFrame:
    """calc_advanced + risk CASE (reference :92-111)."""
    return with_delta_cols.select(
        "report_date",
        "country_name",
        "population",
        "total_confirmed",
        "total_deaths",
        "total_recovered",
        "current_active_cases",
        F.col("delta_total_confirmed").cast("long").alias("new_cases_today"),
        F.col("delta_total_deaths").cast("long").alias("new_deaths_today"),
        per_100k("total_confirmed", "population").alias("cases_per_100k"),
        rate_percent("total_deaths", "total_confirmed", default=0.0).alias(
            "fatality_rate_percent"
        ),
        rate_percent("total_recovered", "total_confirmed", default=0.0).alias(
            "recovery_rate_percent"
        ),
    ).withColumn(
        "risk_category",
        bucketize("cases_per_100k", S.RISK_THRESHOLDS, S.RISK_DEFAULT),
    )


def build_mart_history(
    fact: DataFrame, dim: DataFrame, report_date: str
) -> DataFrame:
    """Reference-exact plan: LAG over the entire per-country history, day
    filter applied ABOVE the window."""
    base = _joined_base(fact, dim)
    deltas = with_deltas(
        base,
        partition_by=["country_name"],
        order_by=["report_date"],
        cols=["total_confirmed", "total_deaths"],
        clamp=True,
        delta_prefix="delta_",
    )
    out = _finalize(deltas)
    return out.filter(F.col("report_date") == F.lit(report_date).cast("date"))


def process_mart(spark: SparkSession, wh: Warehouse, report_date: str) -> int:
    """Mart stage: compute the day's analytics with
    :func:`build_mart_history` and overwrite its partition. Returns the
    rows written (0 when the day has no mart rows), counted by an
    Observation on the write so the full-history window runs once; an
    empty day writes no data files."""
    dim = wh.read(S.DIM_TABLE)
    mart = build_mart_history(wh.read(S.FACT_TABLE), dim, report_date)
    obs = Observation()
    mart = mart.observe(obs, F.count(F.lit(1)).alias("rows"))
    wh.overwrite_partitions(mart, S.MART_TABLE, partition_by=["report_date"])
    return obs.get["rows"]
