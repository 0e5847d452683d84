"""Pipeline runner: the reference's DAGs as plain function calls.

Reference orchestration (covid_to_s3.py:169-173 + covid_alerts_dag.py):
land CSV → raw → ods → dds → mart, then the alerts DAG, one simulated
day per run, cursor managed by the caller. ``run_day`` runs the layers
as the two-branch DAG their reads allow:

    dim ─────────┐
    raw → ods ───┴→ fact ─┬→ mart
                          └→ alerts

The dim reads population alone, so it runs beside raw → ods; alerts read
only fact and dim, so they run beside the mart. Each pair runs on two
threads, and the fact waits for both of the first. ``run_day`` is
idempotent end-to-end: every sink is partition-overwrite,
anti-join-dedup'd append or (the dim) a full replace.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from covid_data_pipeline_spark.operators.relational import is_empty
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.plans.alerts import run_all_alerts
from covid_data_pipeline_spark.plans.dds import process_dds, process_dim
from covid_data_pipeline_spark.plans.mart import process_mart
from covid_data_pipeline_spark.plans.ods import process_ods
from covid_data_pipeline_spark.plans.raw import process_raw
from covid_data_pipeline_spark.sources.writers import Warehouse

log = logging.getLogger(__name__)


@dataclass
class DayResult:
    """``stages``: which layers ran and wrote rows. ``rows``: what each
    layer returned from its write's Observation — ``ods``, ``fact``,
    ``fact_missing_key`` (fact rows with no dim match) and ``mart``; a
    layer that did not run is absent. ``new_alerts``: rows the alert
    queries appended. The dim is rebuilt on every day, an empty one
    included, and is in neither map."""

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


def _side_by_side(
    spark: SparkSession, side: Callable[[], object], main: Callable[[], object]
) -> tuple[object, object]:
    """``(side(), main())``, with ``side`` run on a second thread while
    ``main`` runs on this one. The side thread's Spark jobs carry this
    thread's job tags and local properties. An error in either is raised
    only once both have stopped, ``main``'s first; the side's error, if
    both failed, is logged."""
    with ThreadPoolExecutor(max_workers=1) as pool:  # exit joins the thread
        side_future = pool.submit(inheritable_thread_target(spark)(side))
        try:
            value = main()
        except BaseException:
            if side_future.exception() is not None:  # waits for the side
                log.error("side branch failed too", exc_info=side_future.exception())
            raise
    return side_future.result(), value


def run_day(
    spark: SparkSession,
    wh: Warehouse,
    report_date: str,
    csv_path: str | None = None,
) -> DayResult:
    """Process one simulated day end-to-end, ending with its alerts.
    ``csv_path=None`` skips the landing step (raw already contains the
    day, e.g. on a re-run). The dim is rebuilt beside raw → ods, and
    alerts run beside the mart; a day with no ODS rows stops after the
    dim."""
    result = DayResult(report_date=report_date)
    rows, stages = result.rows, result.stages

    def raw_ods() -> int:
        if csv_path is not None:
            process_raw(spark, wh, csv_path, source_file=csv_path)
            stages["raw"] = True
        return process_ods(spark, wh, report_date)

    _, rows["ods"] = _side_by_side(spark, lambda: process_dim(spark, wh), raw_ods)
    stages["ods"] = rows["ods"] > 0
    if stages["ods"]:
        rows["fact"], rows["fact_missing_key"] = process_dds(spark, wh, report_date)
        stages["dds"] = rows["fact"] > 0
        result.new_alerts, rows["mart"] = _side_by_side(
            spark,
            lambda: run_all_alerts(spark, wh, report_date),
            lambda: process_mart(spark, wh, report_date),
        )
        stages["mart"] = rows["mart"] > 0
    return result
