"""End-to-end covid pipeline tests: raw→ods→dds→mart→alerts on synthetic
JHU-style fixtures (both header epochs), golden-value assertions,
idempotent re-runs, incremental-vs-history mart equality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.plans.mart import build_mart_history, build_mart_incremental
from covid_data_pipeline_spark.plans.runner import bootstrap_population, run_day
from covid_data_pipeline_spark.sources.writers import Warehouse
from tests.covid_fixtures import DAYS, population_df, write_day_csvs


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
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


def test_incremental_mart_equals_history(pipeline, spark):
    wh, _ = pipeline
    fact = wh.read(S.FACT_TABLE)
    dim = wh.read(S.DIM_TABLE)
    day, prev = DAYS[2], DAYS[1]
    hist = build_mart_history(fact, dim, day)
    incr = build_mart_incremental(
        fact.filter(F.col("report_date") == F.lit(day).cast("date")),
        fact.filter(F.col("report_date") == F.lit(prev).cast("date")),
        dim,
    )
    h = {r["country_name"]: r.asDict() for r in hist.collect()}
    i = {r["country_name"]: r.asDict() for r in incr.collect()}
    assert h == i


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
