"""Per-day cost of ``run_day`` as one warehouse's history grows.

Runs ``days`` consecutive ``plans.runner.run_day``s of the benchmark's
seeded JHU generator (``perfbench/covid_days.py``: 200 countries x 20
provinces a day) into one fresh parquet warehouse. For each day index
it records the wall seconds of the call, the Spark jobs the call
started (``observe.spark_jobs``) and the driver JVM's live threads
named ``Thread-N`` once it returned. Day 0 carries the JVM's cold
start. Drawing and landing each CSV happen outside the timed call.

Usage: python tools/history_days.py <days> [seed] [out.json]
"""
from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def jvm_thread_n(spark) -> int:
    """Live JVM threads named ``Thread-<n>``."""
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet()
    return sum(bool(re.fullmatch(r"Thread-\d+", t.getName())) for t in threads)


def main(days: int, seed: int) -> list[dict]:
    from covid_data_pipeline_spark.observe import spark_jobs
    from covid_data_pipeline_spark.plans.runner import bootstrap_population, run_day
    from covid_data_pipeline_spark.plans.schemas import POPULATION_SCHEMA
    from covid_data_pipeline_spark.session import get_spark
    from covid_data_pipeline_spark.sources.writers import Warehouse
    from covid_days import CovidDays

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="history_days",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    gen = CovidDays(seed, 0)
    out = []
    with tempfile.TemporaryDirectory(prefix="history_days-") as work:
        wh = Warehouse(spark, os.path.join(work, "warehouse"))
        bootstrap_population(
            spark, wh, spark.createDataFrame(gen.population_rows(), POPULATION_SCHEMA)
        )
        for d in range(days):
            gen.add_day()
            csv_path = gen.write_csv(d, work)
            t0 = time.perf_counter()
            _, jobs = spark_jobs(spark, lambda: run_day(spark, wh, gen.days[d], csv_path))
            row = {"day": d, "s": round(time.perf_counter() - t0, 3), "jobs": jobs,
                   "jvm_thread_n": jvm_thread_n(spark)}
            print(json.dumps(row), flush=True)
            out.append(row)
    spark.stop()
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rows = main(int(sys.argv[1]), int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    if len(sys.argv) > 3:
        with open(sys.argv[3], "w") as f:
            json.dump({"nproc": len(os.sched_getaffinity(0)), "days": rows}, f, indent=1)
