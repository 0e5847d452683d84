"""Tests of the benchmark's own logic: generators, expected outputs, the
tail rule, span self time and metric names.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
import run  # noqa: E402
from covid_days import CovidDays, MartRow  # noqa: E402
from tracing import Span, self_times, union_length  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_generators_are_deterministic_per_seed():
    a, b, c = CovidDays(7, 4), CovidDays(7, 4), CovidDays(8, 4)
    assert [a.csv_text(d) for d in range(4)] == [b.csv_text(d) for d in range(4)]
    assert a.population_rows() == b.population_rows()
    assert a.csv_text(3) != c.csv_text(3)
    assert corpus.documents(7, 300) == corpus.documents(7, 300)
    assert corpus.documents(7, 300) != corpus.documents(8, 300)


def test_generator_covers_the_planted_cases():
    g = CovidDays(3, 6, countries=12, provinces=3)
    early, late = g.csv_text(0), g.csv_text(3)
    assert early.startswith("Province/State,Country/Region,Last Update,") and "Latitude" in early
    assert re.search(r",3/1/2021 10:00,", early)
    assert late.startswith("FIPS,Admin2,Province_State,Country_Region,Last_Update,")
    assert '"Korea, South"' in late and ",US," in late and ",Russia," in late
    assert "Atlantis" not in {name for name, *_ in g.population_rows()}
    assert any(None in cell for day in g.cells for cell in day.values())
    marts = [g.expected_mart(d) for d in range(1, 6)]
    totals = {(r.report_date, r.country_name): r.total_confirmed for m in marts for r in m}
    shrunk = [r for m in marts[1:] for r in m
              if r.total_confirmed < totals.get((g.days[g.days.index(r.report_date) - 1], r.country_name), 0)]
    assert shrunk and all(r.new_cases_today == 0 for r in shrunk)


def test_corpus_has_the_testdata_shape():
    docs = corpus.documents(5, 2000)
    assert [d[0] for d in docs] == list(range(2000))
    assert all(d[4] == len(d[1]) and d[3] == f"src{d[0] % 20}" for d in docs)
    plain = [d[1].split() for d in docs if not d[1].endswith(" dup")]
    assert all(10 <= len(w) <= 99 and set(w) <= set(corpus.VOCAB) for w in plain)
    copies = [d[1].split() for d in docs if d[1].endswith(" dup")]
    assert len(copies) == 2000 // corpus.NEAR_DUP_EVERY
    # a copy is a row's words plus "dup", once per copy of a copy
    assert all(set(w) <= set(corpus.VOCAB) | {"dup"} for w in copies)
    assert any(w[-2:] == ["dup", "dup"] for w in copies)


def test_tail_rule():
    assert run.tail_quantile(100) == pytest.approx(0.9)
    assert run.tail_quantile(20) == pytest.approx(0.5)
    assert run.tail_quantile(19) == 1.0
    assert run.tail_quantile(1) == 1.0
    xs = [float(x) for x in range(1, 101)]
    q = run.tail_quantile(len(xs))
    assert run.quantile(xs, q) == pytest.approx(90.1)
    # ten samples lie beyond the reported tail
    assert sum(x > run.quantile(xs, q) for x in xs) == 10
    assert run.quantile([4.0], 1.0) == 4.0
    assert run.quantile([1.0, 3.0], 0.5) == 2.0


def test_self_time_of_nested_spans():
    spans = [
        Span(0, "root", 0, None, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 4.0),
        Span(2, "b", 0, 0, 3.0, 6.0),  # overlaps a: the union counts once
        Span(3, "a.child", 0, 1, 2.0, 3.5),
        Span(4, "late", 0, 0, 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[1] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.5)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    for name in [*e2e, *layer]:
        assert NAME.fullmatch(name), name


@pytest.fixture(scope="module")
def spark():
    from covid_data_pipeline_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_expected_mart_and_alerts_match_run_day(spark, tmp_path):
    from covid_data_pipeline_spark.plans import schemas as S
    from covid_data_pipeline_spark.plans.runner import bootstrap_population, run_day
    from covid_data_pipeline_spark.sources.writers import Warehouse

    g = CovidDays(11, 3, countries=6, provinces=2)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    bootstrap_population(spark, wh, spark.createDataFrame(g.population_rows(), S.POPULATION_SCHEMA))
    for d in range(3):
        run_day(spark, wh, g.days[d], g.write_csv(d, str(tmp_path)))
    mart = {
        MartRow(**{**r.asDict(), "report_date": str(r["report_date"])})
        for r in wh.read(S.MART_TABLE).select(*MartRow.__dataclass_fields__).collect()
    }
    assert mart == {r for d in range(3) for r in g.expected_mart(d)}
    alerts = {
        (str(r[0]), r[1], r[2])
        for r in wh.read(S.ALERTS_TABLE).select("alert_date", "country", "alert_type").collect()
    }
    assert alerts == g.expected_alerts(1) | g.expected_alerts(2)
    assert alerts
