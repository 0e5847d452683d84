"""bench.py's shared pieces: one session factory, one timed run, one
job counter, the driver's stdout line, and the per-query regression
gate."""

from __future__ import annotations

import json
import os

import bench
from covid_data_pipeline_spark.harness.registry import QUERIES
from covid_data_pipeline_spark.observe import spark_jobs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Split so this file does not match its own scan.
BUILDER = "SparkSession" + ".builder"
BUILDER_ALLOWED = {
    os.path.join("covid_data_pipeline_spark", "session.py"),
    # mirrors the external driver's vanilla session
    os.path.join("tools", "driver_mirror.py"),
}
JOB_COUNTERS = (
    "status" + "Tracker(", "status" + "Store(", "setJob" + "Group(", "getJobIds" + "ForGroup("
)
COUNTER_ALLOWED = os.path.join("covid_data_pipeline_spark", "observe.py")


def _py_sources():
    """``(path relative to the repo, text)`` of every .py file."""
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for name in filenames:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, ROOT), f.read()


def test_session_built_only_by_get_spark():
    offenders = [
        rel for rel, text in _py_sources()
        if BUILDER in text and rel not in BUILDER_ALLOWED
    ]
    assert offenders == [], (
        f"build sessions through session.get_spark, not {BUILDER}"
    )


def test_jobs_counted_only_by_observe():
    """One job counter: everything outside the benchmark's own
    ``perfbench/`` counts Spark jobs through ``observe.spark_jobs``."""
    offenders = [
        (rel, call) for rel, text in _py_sources()
        for call in JOB_COUNTERS
        if call in text
        and rel != COUNTER_ALLOWED
        and not rel.startswith("perfbench" + os.sep)
    ]
    assert offenders == [], "count Spark jobs through observe.spark_jobs"


def test_run_once_clears_cache_and_splits_times(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()

    def build(s, _sf_dir):
        df = s.range(10).persist()
        assert not cache.isEmpty()  # the clear below has work to do
        return df

    build_s, exec_s, _ = bench.run_once(spark, build, "unused")
    assert cache.isEmpty()
    assert build_s >= 0 and exec_s >= 0


def test_run_once_counts_jobs_like_observe(spark):
    """A plan with one eager job while building (the count) and a
    shuffle in the sink: run_once's count is spark_jobs' count."""

    def build(s, _sf_dir):
        df = s.range(100).repartition(3)
        assert df.count() == 100
        return df

    _, _, jobs = bench.run_once(spark, build, "unused")
    _, expected = spark_jobs(
        spark,
        lambda: build(spark, "unused").write.format("noop").mode("overwrite").save(),
    )
    assert jobs == expected >= 2


def test_stdout_line_fits_driver_tail():
    names = [n for n, s in QUERIES.items() if s.bench]
    line = bench.stdout_line({n: 9.99 for n in names}, 0.1)
    parsed = json.loads(line)
    assert len(line) <= 1990
    assert list(parsed) == ["metric", "value", "unit", "sf", "queries"]
    assert len(parsed["queries"]) == 67
    assert not bench.DRIVER_OMIT & set(parsed["queries"])
    assert bench.DRIVER_OMIT <= set(names)


def _gate(prev_methodology: str, retry_median: float):
    timings = {"slow_q": 5.0, "fast_q": 0.5}
    samples = {"slow_q": [4.9, 5.0, 5.1], "fast_q": [0.5, 0.5, 0.5]}
    prev = {
        "methodology": prev_methodology,
        "queries": {"slow_q": 2.0, "fast_q": 0.5},
    }

    def retry(name):
        samples[name].extend([retry_median] * 3)
        return retry_median

    regressions, advisories = bench.gate_trips(timings, samples, prev, retry)
    return regressions, advisories, timings


def test_same_methodology_trip_is_regression():
    regressions, advisories, timings = _gate(bench.METHODOLOGY, 4.8)
    assert regressions == ["slow_q: 2.0s -> 4.8s (2.4x)"]
    assert advisories == []
    assert timings["slow_q"] == 4.8


def test_cross_methodology_trip_is_advisory():
    regressions, advisories, _ = _gate("noop-median-v1", 4.8)
    assert regressions == []
    assert len(advisories) == 1
    assert advisories[0].startswith("cross-methodology trip (noop-median-v1")
    assert advisories[0].endswith("slow_q: 2.0s -> 4.8s (2.4x)")


def test_trip_cleared_by_retry():
    regressions, advisories, timings = _gate(bench.METHODOLOGY, 2.1)
    assert regressions == [] and advisories == []
    assert timings["slow_q"] == 2.1
