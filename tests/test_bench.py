"""bench.py's shared pieces: one session factory, one timed run, and the
per-query regression gate."""

from __future__ import annotations

import os

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Split so this file does not match its own scan.
BUILDER = "SparkSession" + ".builder"
BUILDER_ALLOWED = {
    os.path.join("covid_data_pipeline_spark", "session.py"),
    # mirrors the external driver's vanilla session
    os.path.join("tools", "driver_mirror.py"),
}


def test_session_built_only_by_get_spark():
    offenders = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for name in filenames:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as f:
                if BUILDER in f.read() and rel not in BUILDER_ALLOWED:
                    offenders.append(rel)
    assert offenders == [], (
        f"build sessions through session.get_spark, not {BUILDER}"
    )


def test_run_once_clears_cache_and_splits_times(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()

    def build(s, _sf_dir):
        df = s.range(10).persist()
        assert not cache.isEmpty()  # the clear below has work to do
        return df

    build_s, exec_s = bench.run_once(spark, build, "unused")
    assert cache.isEmpty()
    assert build_s >= 0 and exec_s >= 0


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
