"""Capture the physical plan of ONE connected-components star round.

The CC consumers' query-level plans end in ExistingRDD (the loop runs
eagerly through its convergence probes while the query function is
building its result), so the per-round plan shape — the thing the r11
optimization changes — is invisible there. This script explains
``_small_star(_large_star(e))`` over a checkpoint-shaped edge relation,
which is exactly what every round executes.

Usage: python tools/cc_round_plan.py <out_file>
"""
from __future__ import annotations

import sys


def main() -> None:
    out = sys.argv[1]

    from covid_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cc_round_plan")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from covid_data_pipeline_spark.operators.graph import (
        _large_star,
        _small_star,
    )

    e = (
        spark.range(1000)
        .select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") * 7 + 3, F.lit(1000)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=False)
    )
    df = _small_star(_large_star(e))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(out, "w") as f:
        f.write(plan)
    n_ex = plan.count("Exchange")
    print(f"wrote {out}: {n_ex} Exchange nodes", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
