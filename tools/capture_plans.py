"""Capture .explain("formatted") for bench queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> [query ...]
Writes plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<suffix>.txt for each bench
query (default all; round dir defaults to r11), in bench.py's session.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_spark("capture_plans")

    from covid_data_pipeline_spark.harness.registry import QUERIES

    round_dir = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    names = [n for n, s in QUERIES.items() if s.bench and (not only or n in only)]
    for n in names:
        try:
            df = QUERIES[n].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR capturing plan: {exc}"
        with open(os.path.join(out_dir, f"{n}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {n}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
