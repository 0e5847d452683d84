"""Streaming medallion runner: the daily batch chain driven by a file
stream over the raw layer — the full "mechanical readStream adaptation"
of the reference's Airflow cursor loop (SURVEY.md §2.9/§3.1), composed
from the unchanged batch stages.

Per micro-batch: derive the report dates the batch's raw files cover, run
ods → dds for each (sorted), then rebuild the mart for every date from
the earliest new date forward. The forward rebuild is the late-data
policy: a mart row depends on the PREVIOUS day's ods row through the LAG
window, so a late-arriving earlier day invalidates every later mart
partition — idempotent partition overwrites make the recompute safe. With
in-order arrival (the reference's cursor guarantee) the tail has length
one and each batch costs one day's work.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.plans.alerts import run_all_alerts
from covid_data_pipeline_spark.plans.dds import process_dds
from covid_data_pipeline_spark.plans.mart import process_mart
from covid_data_pipeline_spark.plans.ods import process_ods
from covid_data_pipeline_spark.sources.writers import Warehouse
from covid_data_pipeline_spark.streaming.sources import file_stream


def stream_medallion(
    spark: SparkSession,
    wh: Warehouse,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Drive ods→dds→mart→alerts from a stream over
    ``raw.daily_reports``, the same chain as ``run_day``. Population must be bootstrapped
    first (``bootstrap_population``). Alerts stay idempotent under
    micro-batch replay via their anti-join dedup."""
    raw_schema = wh.read(S.RAW_TABLE).schema
    stream = file_stream(
        spark,
        wh.path(S.RAW_TABLE),
        raw_schema,
        max_files_per_trigger=max_files_per_trigger,
    )

    def _micro_batch(batch_df, batch_id: int) -> None:
        new_dates = sorted(
            r["d"]
            for r in batch_df.select(
                F.date_format("ingest_date", "yyyy-MM-dd").alias("d")
            )
            .distinct()
            .collect()
            if r["d"] is not None
        )
        if not new_dates:
            return
        for d in new_dates:
            if process_ods(spark, wh, d):
                process_dds(spark, wh, d)
        # Forward mart rebuild from the earliest new date: LAG dependency.
        if wh.exists(S.FACT_TABLE):
            fact_dates = sorted(
                r["d"]
                for r in wh.read(S.FACT_TABLE)
                .select(F.date_format("report_date", "yyyy-MM-dd").alias("d"))
                .distinct()
                .collect()
                if r["d"] is not None and r["d"] >= new_dates[0]
            )
            for d in fact_dates:
                process_mart(spark, wh, d)
        for d in new_dates:
            run_all_alerts(spark, wh, d)

    writer = (
        stream.writeStream.foreachBatch(_micro_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
