"""Per-query profile: build time (Python/py4j), execution time, job and
stage counts. Usage: python tools/profile_queries.py [query ...]
(default: all bench queries). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
Session and timed run are bench.py's (``bench_spark``, ``run_once``).

Emits one line per query to stderr and a JSON map to
/tmp/profile_queries.json.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_spark, run_once  # noqa: E402


def main() -> None:
    only = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_spark("profile")
    sc = spark.sparkContext

    from covid_data_pipeline_spark.harness.registry import QUERIES

    names = only or [n for n, s in QUERIES.items() if s.bench]
    out = {}
    # warmup whole set once (codegen caches)
    for n in names:
        run_once(spark, QUERIES[n].fn, sf_dir)

    # Job counting (ADVICE r10 #3): one tracker, max-jobId deltas.
    # The r10 form mixed the Python statusTracker with the JVM one and
    # used getJobIdsForGroup(None), which only lists jobs with a null
    # job group — counts drifted between trackers and under-counted
    # grouped jobs. Job ids are globally monotonic, so the number of
    # jobs a query ran is (max id after) - (max id before), group-blind.
    status_store = sc._jsc.sc().statusStore()

    def max_job_id() -> int:
        # jobsList(null) returns every job the app has run, any group,
        # any status; ids are globally monotonic.
        jobs = status_store.jobsList(None)
        n = jobs.size()
        return max(
            (jobs.apply(i).jobId() for i in range(n)), default=-1
        )

    for n in names:
        jobs0 = max_job_id()
        build_s, exec_s = run_once(spark, QUERIES[n].fn, sf_dir)
        n_jobs = max_job_id() - jobs0
        out[n] = {
            "build_s": round(build_s, 3),
            "exec_s": round(exec_s, 3),
            "total_s": round(build_s + exec_s, 3),
            "jobs": n_jobs,
        }
        print(f"# {n}: build={out[n]['build_s']}s exec={out[n]['exec_s']}s jobs={n_jobs}", file=sys.stderr)
    with open("/tmp/profile_queries.json", "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
