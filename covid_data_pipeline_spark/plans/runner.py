"""Pipeline runner: the reference's DAG chain as plain function calls.

Reference orchestration (covid_to_s3.py:169-173 + covid_alerts_dag.py):
land CSV → raw → ods → dds → mart → alerts, one simulated day per run,
cursor managed by the caller. ``run_day`` is idempotent end-to-end:
every sink is partition-overwrite or anti-join-dedup'd append.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from covid_data_pipeline_spark.operators.relational import is_empty
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.plans.alerts import run_all_alerts
from covid_data_pipeline_spark.plans.dds import process_dds
from covid_data_pipeline_spark.plans.mart import process_mart
from covid_data_pipeline_spark.plans.ods import process_ods
from covid_data_pipeline_spark.plans.raw import process_raw
from covid_data_pipeline_spark.sources.writers import Warehouse


@dataclass
class DayResult:
    """``stages``: which layers ran and wrote rows. ``rows``: what each
    layer returned from its write's Observation — ``ods``, ``fact``,
    ``fact_missing_key`` (fact rows with no dim match) and ``mart``; a
    layer that did not run is absent. ``new_alerts``: rows the alert
    queries appended."""

    report_date: str
    stages: dict[str, bool] = field(default_factory=dict)
    new_alerts: int = 0
    rows: dict[str, int] = field(default_factory=dict)


def bootstrap_population(
    spark: SparkSession, wh: Warehouse, population: DataFrame
) -> bool:
    """One-shot population load, skipped when already present (reference
    population_to_s3.py:10-21 row-count branch). Returns True if loaded."""
    if wh.exists(S.POPULATION_TABLE) and not is_empty(wh.read(S.POPULATION_TABLE)):
        return False
    wh.replace(population, S.POPULATION_TABLE)
    return True


def run_day(
    spark: SparkSession,
    wh: Warehouse,
    report_date: str,
    csv_path: str | None = None,
) -> DayResult:
    """Process one simulated day end-to-end, ending with its alerts.
    ``csv_path=None`` skips the landing step (raw already contains the
    day, e.g. on a re-run)."""
    result = DayResult(report_date=report_date)
    rows, stages = result.rows, result.stages
    if csv_path is not None:
        process_raw(spark, wh, csv_path, source_file=csv_path)
        stages["raw"] = True
    rows["ods"] = process_ods(spark, wh, report_date)
    stages["ods"] = rows["ods"] > 0
    if stages["ods"]:
        rows["fact"], rows["fact_missing_key"] = process_dds(spark, wh, report_date)
        stages["dds"] = rows["fact"] > 0
        rows["mart"] = process_mart(spark, wh, report_date)
        stages["mart"] = rows["mart"] > 0
        result.new_alerts = run_all_alerts(spark, wh, report_date)
    return result
