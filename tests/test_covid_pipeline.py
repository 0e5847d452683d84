"""End-to-end covid pipeline tests: raw→ods→dds→mart→alerts on synthetic
JHU-style fixtures (both header epochs), golden-value assertions,
idempotent re-runs, mart and alerts across a missing day, the run
report's row counts, the empty-day skip guard (on both warehouse backends),
the JDBC alert sink, the per-day job budget, and ``run_day``'s two
branches: that they overlap, and how an error in either ends the day."""

from __future__ import annotations

import logging
import os
import re
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from covid_data_pipeline_spark.observe import spark_jobs
from covid_data_pipeline_spark.plans import alerts, runner
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.plans.alerts import build_alerts
from covid_data_pipeline_spark.plans.mart import process_mart
from covid_data_pipeline_spark.plans.ods import process_ods
from covid_data_pipeline_spark.plans.runner import bootstrap_population, run_day
from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse
from covid_data_pipeline_spark.sources.writers import SCHEMA_FILE, Warehouse
from tests.covid_fixtures import DAYS, population_df, write_day_csvs
from tests.test_sources import assert_reads_as_inferred


class _Collect(logging.Handler):
    def __init__(self):
        super().__init__(logging.WARNING)
        self.messages: list[str] = []

    def emit(self, record):
        self.messages.append(record.getMessage())


@pytest.fixture(scope="module")
def dds_warnings():
    """Warnings the dds layer logs while the module's pipeline runs."""
    handler = _Collect()
    logger = logging.getLogger("covid_data_pipeline_spark.plans.dds")
    logger.addHandler(handler)
    yield handler.messages
    logger.removeHandler(handler)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory, dds_warnings):
    """Run all four days once; tests assert over the resulting warehouse."""
    root = tmp_path_factory.mktemp("warehouse")
    csvdir = tmp_path_factory.mktemp("landing")
    wh = Warehouse(spark, str(root))
    bootstrap_population(spark, wh, population_df(spark))
    # Bootstrap is conditional: second call must be a no-op.
    assert bootstrap_population(spark, wh, population_df(spark)) is False
    paths = write_day_csvs(str(csvdir))
    results = [run_day(spark, wh, day, csv_path=paths[day]) for day in DAYS]
    return wh, results


def _mart_day(wh, day):
    return {
        r["country_name"]: r.asDict()
        for r in wh.read(S.MART_TABLE)
        .filter(F.col("report_date") == F.lit(day).cast("date"))
        .collect()
    }


def test_raw_conforms_both_epochs(pipeline, spark):
    wh, _ = pipeline
    raw = wh.read(S.RAW_TABLE)
    # 6 rows/day (5 countries + NULL-counter ProvB row), 4 days.
    assert raw.count() == 24
    # Early epoch (day 1): aliased Latitude→Lat parsed, missing fields are
    # typed NULLs, M/d/yyyy H:mm timestamps parsed.
    day1 = raw.filter(F.col("source_file").contains(DAYS[0]))
    r = day1.filter(F.col("Province_State") == "ProvA").first()
    assert r["Lat"] == 1.5 and r["Long_"] == 2.5
    assert r["FIPS"] is None and r["Combined_Key"] is None
    assert r["Last_Update"] is not None
    # NULL Confirmed row survived as NULL (not dropped, not zero).
    nulls = day1.filter(F.col("Confirmed").isNull()).count()
    assert nulls == 1


def test_ods_rollup_and_normalization(pipeline, spark):
    wh, _ = pipeline
    ods = wh.read(S.ODS_TABLE)
    day3 = {
        r["country_region"]: r.asDict()
        for r in ods.filter(F.col("report_date") == F.lit(DAYS[2]).cast("date")).collect()
    }
    # JHU names normalized to World-Bank names.
    assert "United States" in day3 and "Russian Federation" in day3
    assert "US" not in day3 and "Russia" not in day3
    # US = ProvA + ProvB(NULL confirmed→0, recovered 50): 2 source rows.
    us = day3["United States"]
    assert us["confirmed"] == 1150
    assert us["recovered"] == 650
    assert us["source_records_cnt"] == 2


def test_fact_keeps_unmatched_with_null_key(pipeline, spark):
    wh, _ = pipeline
    fact = wh.read(S.FACT_TABLE)
    # Atlantis has no population row → NULL location_key, but the row is kept.
    day1 = fact.filter(F.col("report_date") == F.lit(DAYS[0]).cast("date"))
    assert day1.filter(F.col("location_key").isNull()).count() == 1
    assert day1.count() == 5


def test_mart_golden_values(pipeline, spark):
    wh, _ = pipeline
    day3 = _mart_day(wh, DAYS[2])
    # Atlantis dropped by the INNER join; Nullland filtered by pop > 0.
    assert set(day3) == {"United States", "Russian Federation", "France", "Germany"}
    # Germany's cumulative confirmed DECREASED (900→850): clamped to 0.
    assert day3["Germany"]["new_cases_today"] == 0
    # France spike day: +200 cases, +20 deaths.
    fr = day3["France"]
    assert fr["new_cases_today"] == 200 and fr["new_deaths_today"] == 20
    assert fr["cases_per_100k"] == 54  # round(540/1e6*1e5)
    assert fr["fatality_rate_percent"] == pytest.approx(9.44)  # round(51/540*100,2)
    assert fr["risk_category"] == "Low"
    # current_active recomputed from counters, not trusted from source.
    us = day3["United States"]
    assert us["current_active_cases"] == 1150 - 102 - 650
    # Day 1: LAG is NULL → deltas coalesce to 0 (mart policy).
    day1 = _mart_day(wh, DAYS[0])
    assert all(v["new_cases_today"] == 0 for v in day1.values())


def test_alerts_expected_set(pipeline, spark):
    wh, _ = pipeline
    alerts = wh.read(S.ALERTS_TABLE)
    got = {
        (str(r["alert_date"]), r["country"], r["alert_type"])
        for r in alerts.collect()
    }
    expected = {
        # France deaths +1 on day2/day4: rate 1e-6 ≥ 5e-7.
        (DAYS[1], "France", "DEATH_RATE_POPULATION"),
        (DAYS[3], "France", "DEATH_RATE_POPULATION"),
        # France spike day3 crosses all four thresholds.
        (DAYS[2], "France", "CASE_RATE_POPULATION"),
        (DAYS[2], "France", "DEATH_RATE_POPULATION"),
        (DAYS[2], "France", "INCIDENCE_100K"),
        (DAYS[2], "France", "DEATH_SPIKE_100K"),
    }
    assert got == expected
    # Severity and description formatting (format_string %.2f / %s).
    inc = alerts.filter(
        (F.col("alert_type") == "INCIDENCE_100K") & (F.col("country") == "France")
    ).first()
    assert inc["severity"] == "MEDIUM"
    assert inc["description"] == "Daily incidence: 20.00 per 100k population"


def test_rerun_is_idempotent(pipeline, spark):
    wh, _ = pipeline
    day = DAYS[2]
    before_mart = sorted(
        map(str, wh.read(S.MART_TABLE).filter(F.col("report_date") == day).collect())
    )
    before_alerts = wh.read(S.ALERTS_TABLE).count()
    # Re-run the day without re-landing the CSV: partition overwrite +
    # anti-join dedup must make this a difference-free no-op.
    result = run_day(spark, wh, day, csv_path=None)
    assert result.new_alerts == 0
    after_mart = sorted(
        map(str, wh.read(S.MART_TABLE).filter(F.col("report_date") == day).collect())
    )
    assert after_mart == before_mart
    assert wh.read(S.ALERTS_TABLE).count() == before_alerts


def test_mart_and_alerts_across_missing_day(spark, tmp_path):
    """The day after a missing day takes its deltas from the last
    reported day, not from the empty calendar day before it."""
    wh = Warehouse(spark, str(tmp_path))
    wh.replace(
        spark.createDataFrame(
            [("k", "X", 2021, 1000000)],
            "location_key string, country_name string, population_year int, "
            "population long",
        ),
        S.DIM_TABLE,
    )
    fact = spark.createDataFrame(
        [("2021-01-01", 100, 1), ("2021-01-03", 160, 3)],
        "d string, confirmed long, deaths long",
    ).select(
        F.col("d").cast("date").alias("report_date"),
        F.lit("k").alias("location_key"),
        "confirmed",
        "deaths",
        F.lit(0).cast("long").alias("recovered"),
        (F.col("confirmed") - F.col("deaths")).alias("active"),
        F.current_timestamp().alias("ingestion_ts"),
    )
    wh.overwrite_partitions(fact, S.FACT_TABLE, partition_by=["report_date"])
    for day in ("2021-01-01", "2021-01-03"):
        assert process_mart(spark, wh, day) == 1
        alerts.run_all_alerts(spark, wh, day)
    mart = {
        str(r["report_date"]): (r["new_cases_today"], r["new_deaths_today"])
        for r in wh.read(S.MART_TABLE).collect()
    }
    assert mart == {"2021-01-01": (0, 0), "2021-01-03": (60, 2)}
    fired = {
        (r["alert_type"], r["metric_value"])
        for r in wh.read(S.ALERTS_TABLE)
        .filter(F.col("alert_date") == F.lit("2021-01-03").cast("date"))
        .collect()
    }
    assert fired == {("CASE_RATE_POPULATION", 60.0), ("DEATH_RATE_POPULATION", 2.0)}


def test_notify_alerts_digest_and_short_circuit(pipeline, spark):
    """notify_alerts completes the reference's EmailOperator contract
    (covid_alerts_dag.py:38-59): on an alert day the sink receives ONE
    (subject, html) pair carrying every alert row; on a quiet day the
    sink is never invoked (the ShortCircuitOperator semantics)."""
    from covid_data_pipeline_spark.plans.alerts import notify_alerts

    wh, _ = pipeline
    sent = []
    ok = notify_alerts(
        spark, wh, DAYS[2], sink=lambda subj, body: sent.append((subj, body))
    )
    assert ok and len(sent) == 1
    subj, body = sent[0]
    assert DAYS[2] in subj
    # all four of day-3's France alerts render in the digest
    for alert_type in (
        "CASE_RATE_POPULATION",
        "DEATH_RATE_POPULATION",
        "INCIDENCE_100K",
        "DEATH_SPIKE_100K",
    ):
        assert alert_type in body
    assert "<b>France</b>" in body
    # a day with no alerts never reaches the sink
    quiet = []
    assert not notify_alerts(
        spark, wh, "2031-01-01", sink=lambda *a: quiet.append(a)
    )
    assert quiet == []


def _day_count(wh, table, date_col, day, where=None):
    df = wh.read(table).filter(F.col(date_col) == F.lit(day).cast("date"))
    return (df if where is None else df.filter(where)).count()


def test_day_result_rows_match_recomputed_counts(pipeline, dds_warnings, spark):
    """DayResult.rows comes from the Observations on each layer's write;
    every figure must equal a count recomputed from the warehouse."""
    wh, results = pipeline
    # Atlantis has no population row: one unmatched fact row a day, and
    # the dds layer logs it once a day.
    assert dds_warnings[: len(DAYS)] == [
        "1 records failed to join (missing population for year)"
    ] * len(DAYS)
    for day, result in zip(DAYS, results):
        alerts = _day_count(wh, S.ALERTS_TABLE, "alert_date", day)
        assert result.rows == {
            "ods": _day_count(wh, S.ODS_TABLE, "report_date", day),
            "fact": _day_count(wh, S.FACT_TABLE, "report_date", day),
            "fact_missing_key": _day_count(
                wh, S.FACT_TABLE, "report_date", day, F.col("location_key").isNull()
            ),
            "mart": _day_count(wh, S.MART_TABLE, "report_date", day),
        }, day
        assert result.rows["fact_missing_key"] == 1
        assert result.new_alerts == alerts
    assert [r.rows["ods"] for r in results] == [5] * len(DAYS)


def _data_files(wh, table):
    root = wh.path(table)
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
        if not f.startswith(("_", "."))
    }


def _dim_rows(wh):
    cols = ("location_key", "country_name", "population_year")
    return sorted(map(tuple, wh.read(S.DIM_TABLE).select(*cols).collect()))


def test_empty_day_skips_every_layer(pipeline, spark):
    """A day with no raw rows stops at the ods guard, whose Observation
    counts the (empty) write, and leaves no data file in ods, fact, mart
    or alerts. The dim is rebuilt beside ods on every day, as the
    reference replaces it before its skip guard, so it is rewritten with
    the same rows."""
    wh, _ = pipeline
    tables = (S.ODS_TABLE, S.FACT_TABLE, S.MART_TABLE, S.ALERTS_TABLE)
    before = {t: _data_files(wh, t) for t in tables}
    dim_before = _dim_rows(wh)
    result = run_day(spark, wh, "2021-05-05")
    assert result.stages == {"ods": False}
    assert result.new_alerts == 0
    assert result.rows == {"ods": 0}
    assert {t: _data_files(wh, t) for t in tables} == before
    assert _dim_rows(wh) == dim_before and dim_before


def test_layer_counts_outside_run_day(pipeline, spark):
    """A layer called on its own, outside run_day, returns the rows its
    write counted."""
    wh, _ = pipeline
    assert process_ods(spark, wh, DAYS[2]) == 5
    assert process_ods(spark, wh, "2021-05-05") == 0


def test_medallion_tables_read_as_inferred(pipeline, spark):
    """Every medallion table carries a schema record, and reading
    through it gives the schema and rows footer inference gives."""
    wh, _ = pipeline
    for t in (
        S.RAW_TABLE, S.POPULATION_TABLE, S.ODS_TABLE, S.DIM_TABLE,
        S.FACT_TABLE, S.MART_TABLE, S.ALERTS_TABLE,
    ):
        assert os.path.exists(os.path.join(wh.path(t), SCHEMA_FILE)), t
        assert_reads_as_inferred(spark, wh, t)


# Spark jobs of a fixture-day re-run (dim, ods → dds → mart → alerts, no
# landing): one write per layer plus its AQE stages; table reads run
# none (schema records). Measured as 13 on 2, 4 and 16 local cores. A
# probe that re-runs a layer's plan before its write, a plan per alert
# spec, or a read that infers its schema again, exceeds it. Fewer means
# jobs escaped the caller's job tag: a side branch started on a thread
# that does not inherit it.
RERUN_JOB_BUDGET = 13


def test_rerun_day_job_budget(pipeline, spark):
    wh, _ = pipeline
    _, jobs = spark_jobs(spark, lambda: run_day(spark, wh, DAYS[2]))
    assert jobs == RERUN_JOB_BUDGET


def test_run_day_overlaps_its_branches(spark, monkeypatch):
    """The dim runs beside ods and alerts beside the mart: each stub
    returns only once its partner has started, so run_day would break
    the barrier if it ran them one after another. No Spark work."""
    first, second = threading.Barrier(2, timeout=10), threading.Barrier(2, timeout=10)

    def meets(barrier, value):
        def stub(*args, **kwargs):
            barrier.wait()
            return value

        return stub

    monkeypatch.setattr(runner, "process_dim", meets(first, None))
    monkeypatch.setattr(runner, "process_ods", meets(first, 5))
    monkeypatch.setattr(runner, "process_dds", lambda *a: (5, 1))
    monkeypatch.setattr(runner, "process_mart", meets(second, 4))
    monkeypatch.setattr(runner, "run_all_alerts", meets(second, 3))
    result = run_day(spark, None, DAYS[0])
    assert result.rows == {"ods": 5, "fact": 5, "fact_missing_key": 1, "mart": 4}
    assert result.new_alerts == 3


def test_run_day_branch_errors_join_both_threads(spark, tmp_path, caplog):
    """An error in either branch is raised after both have stopped: with
    no population table, the day raises the dim's read error once raw →
    ods is done; with an unreadable CSV, it raises the raw error once the
    dim is written; with both, it raises the raw error and logs the
    dim's. No thread outlives the call."""
    paths = write_day_csvs(str(tmp_path))
    baseline = threading.active_count()

    wh = Warehouse(spark, str(tmp_path / "no_population"))
    with pytest.raises(AnalysisException, match="country_population"):
        run_day(spark, wh, DAYS[0], csv_path=paths[DAYS[0]])
    assert threading.active_count() == baseline
    assert wh.exists(S.ODS_TABLE) and not wh.exists(S.DIM_TABLE)

    wh = Warehouse(spark, str(tmp_path / "unreadable_csv"))
    bootstrap_population(spark, wh, population_df(spark))
    with pytest.raises(AnalysisException, match="no_such_day.csv"):
        run_day(spark, wh, DAYS[0], csv_path=str(tmp_path / "no_such_day.csv"))
    assert threading.active_count() == baseline
    assert wh.exists(S.DIM_TABLE) and not wh.exists(S.RAW_TABLE)

    wh = Warehouse(spark, str(tmp_path / "both"))
    with caplog.at_level(logging.ERROR, logger=runner.__name__):
        with pytest.raises(AnalysisException, match="no_such_day.csv"):
            run_day(spark, wh, DAYS[0], csv_path=str(tmp_path / "no_such_day.csv"))
    [record] = [r for r in caplog.records if r.name == runner.__name__]
    assert "country_population" in str(record.exc_info[1])
    assert threading.active_count() == baseline


def test_build_alerts_is_one_window_no_union(pipeline, spark):
    """All four alert specs share one join and one LAG window."""
    wh, _ = pipeline
    out = build_alerts(wh.read(S.FACT_TABLE), wh.read(S.DIM_TABLE), DAYS[2])
    assert len(out.collect()) == 4  # France crosses all four thresholds
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert len(re.findall(r"(?m)^[\s:+\-*()\d]*Window \[", plan)) == 1, plan
    assert "Union" not in plan, plan


def _alert_keys(wh):
    return {
        (str(r["alert_date"]), r["country"], r["alert_type"])
        for r in wh.read(S.ALERTS_TABLE).collect()
    }


def test_snapshot_backend_alerts_and_empty_day(pipeline, spark, tmp_path):
    """On SnapshotWarehouse a write of no rows commits no version: day 1
    (no alerts yet) creates no alerts table, later days read and extend
    it, and the alert set equals the plain-Warehouse run. An empty day
    leaves every table's version where it was."""
    wh_p, _ = pipeline
    csv_dir = tmp_path / "csvs"
    csv_dir.mkdir()
    paths = write_day_csvs(str(csv_dir))
    wh = SnapshotWarehouse(spark, str(tmp_path / "snapwh"))
    bootstrap_population(spark, wh, population_df(spark))
    results = [run_day(spark, wh, DAYS[0], csv_path=paths[DAYS[0]])]
    assert results[0].new_alerts == 0
    assert not wh.exists(S.ALERTS_TABLE)
    results += [run_day(spark, wh, day, csv_path=paths[day]) for day in DAYS[1:]]
    # Each batch dir carries its schema record: a read of a table with a
    # batch per day runs no Spark job.
    _, jobs = spark_jobs(spark, lambda: wh.read(S.FACT_TABLE))
    assert jobs == 0
    assert _alert_keys(wh) == _alert_keys(wh_p)
    assert sum(r.new_alerts for r in results) == len(_alert_keys(wh_p))

    tables = (S.ODS_TABLE, S.FACT_TABLE, S.MART_TABLE, S.ALERTS_TABLE)
    before = {t: wh.versions(t) for t in tables}
    result = run_day(spark, wh, "2021-05-05")
    assert result.stages == {"ods": False}
    assert {t: wh.versions(t) for t in tables} == before
    data = wh._data_dir(S.ODS_TABLE)
    assert all(os.listdir(os.path.join(data, b)) for b in os.listdir(data))


def test_run_all_alerts_jdbc_sink(pipeline, spark, tmp_path, monkeypatch):
    """With a JDBC sink the new rows go to both sinks, and a re-run with
    nothing new writes nothing to JDBC."""
    wh_p, _ = pipeline
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for table in (S.FACT_TABLE, S.DIM_TABLE):
        wh.replace(wh_p.read(table), table)
    sent = []
    monkeypatch.setattr(
        alerts, "write_jdbc", lambda df, url, table, **kw: sent.append(df.count())
    )
    assert alerts.run_all_alerts(spark, wh, DAYS[2], jdbc_url="jdbc:test") == 4
    assert sent == [4]
    assert _day_count(wh, S.ALERTS_TABLE, "alert_date", DAYS[2]) == 4
    assert alerts.run_all_alerts(spark, wh, DAYS[2], jdbc_url="jdbc:test") == 0
    assert sent == [4]
