"""Idle A/B bench over a subset of registry queries.

Usage: python <tree>/tools/bench_subset.py q1,q2,... [runs]
Prints one JSON line {name: median_sec}. Methodology is bench.py's
(its session and ``run_once``): untimed warmup pass, N timed runs
(noop sink), median, cache cleared between runs. For an A/B, run each
tree's own copy of this script.
"""
from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_spark, run_once  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_spark("bench_subset")

    from covid_data_pipeline_spark.harness.registry import QUERIES

    def sample(n: str) -> float:
        return round(sum(run_once(spark, QUERIES[n].fn, sf_dir)), 3)

    for n in names:
        sample(n)  # warmup
    out = {}
    for n in names:
        samples = [sample(n) for _ in range(runs)]
        out[n] = round(statistics.median(samples), 3)
        print(f"# {n}: {out[n]} (runs {samples})", file=sys.stderr)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
