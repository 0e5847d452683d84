"""The covid medallion pipeline: raw → ods → dds → data_mart → alerts.

Each stage is a pure function (inputs → DataFrame → sink) over a
:class:`~covid_data_pipeline_spark.sources.writers.Warehouse`, mirroring
the reference's four Spark scripts + four Trino alert SQLs as one
Spark-first engine. ``runner.run_day`` runs them like the reference's
Airflow DAGs (covid_to_s3.py:169-173, covid_alerts_dag.py) without the
orchestration framework, as the two-branch DAG their reads allow: the
dim rebuild beside raw → ods, then the fact, then alerts beside the
mart.
"""

from covid_data_pipeline_spark.plans.runner import run_day  # noqa: F401
