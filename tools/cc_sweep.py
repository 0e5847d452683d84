"""Time connected components' driver finish against its star rounds.

Sizes ``operators.graph._LOCAL_FINISH_EDGES``. Each graph is generated
in Spark and checkpointed before timing. Each path runs through
``connected_components`` with the constant forced: above the edge count
(the whole graph is collected and labelled by one union-find pass) or 0
(pre-contraction and star rounds to convergence). Per run it records
build seconds (the call), exec seconds (labels collected through Arrow),
Spark jobs started by the build, the driver process's resident and peak
memory, and whether the two paths' labels are equal.

Usage: python tools/cc_sweep.py <out.json> [reps]
"""
from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def _graphs(spark):
    """``name -> edge DataFrame`` (src, dst bigint), smallest first."""
    from pyspark.sql import functions as F

    def hashed(m: int, seed: int):
        return (F.xxhash64(F.col("id"), F.lit(seed)) % m + m) % m

    def sparse(m: int):
        # m edges over m nodes, endpoints uniform: average degree 2.
        return spark.range(m).select(
            hashed(m, 1).alias("src"), hashed(m, 2).alias("dst")
        )

    def hub(leaves: int):
        return spark.range(1, leaves + 1).select(
            F.lit(0).cast("bigint").alias("src"), F.col("id").alias("dst")
        )

    def power_law(m: int):
        # dst = floor(n * u^3): degree of node k falls off as k^(-2/3).
        n = m // 2
        u = (hashed(2**31, 3) / F.lit(2**31)).cast("double")
        return spark.range(m).select(
            hashed(n, 4).alias("src"),
            F.floor(F.lit(n) * F.pow(u, 3)).cast("bigint").alias("dst"),
        )

    return {
        "sparse_10k": sparse(10_000),
        "sparse_100k": sparse(100_000),
        "sparse_300k": sparse(300_000),
        "hub_100k": hub(100_000),
        "power_law_300k": power_law(300_000),
        "sparse_1m": sparse(1_000_000),
        "sparse_2m": sparse(2_000_000),
    }


def main() -> None:
    out = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from covid_data_pipeline_spark.observe import spark_jobs
    from covid_data_pipeline_spark.operators import graph
    from covid_data_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(
        app_name="cc_sweep",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        driver_memory="4g",
    )
    spark.sparkContext.setLogLevel("ERROR")

    runs = []
    for name, edges in _graphs(spark).items():
        e = edges.localCheckpoint(eager=True)
        n_edges = e.count()
        for rep in range(reps):
            labels = {}
            # Swap which path runs first from rep to rep.
            order = ["finish", "rounds"] if rep % 2 == 0 else ["rounds", "finish"]
            for path in order:
                graph._LOCAL_FINISH_EDGES = n_edges if path == "finish" else 0
                stats: dict = {}
                rss0 = _rss_mb()
                t0 = time.perf_counter()
                cc, jobs = spark_jobs(
                    spark, lambda: graph.connected_components(e, stats=stats)
                )
                t1 = time.perf_counter()
                tbl = cc.toArrow()
                t2 = time.perf_counter()
                labels[path] = sorted(
                    zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist())
                )
                run = {
                    "graph": name,
                    "edges": n_edges,
                    "rep": rep,
                    "path": path,
                    "build_s": round(t1 - t0, 3),
                    "exec_s": round(t2 - t1, 3),
                    "jobs": jobs,
                    "rounds": stats["rounds"],
                    "labelled_nodes": tbl.num_rows,
                    "rss_before_mb": round(rss0, 1),
                    "rss_after_mb": round(_rss_mb(), 1),
                    "peak_rss_mb": round(
                        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
                    ),
                }
                runs.append(run)
                print(json.dumps(run), file=sys.stderr, flush=True)
            same = labels["finish"] == labels["rounds"]
            for run in runs[-2:]:
                run["labels_equal"] = same
        e.unpersist()
    with open(out, "w") as f:
        json.dump(
            {
                "cpus": int(cpus),
                "driver_memory": "4g",
                "python_rss": "driver Python process only (the JVM is a "
                "separate process)",
                "runs": runs,
            },
            f,
            indent=1,
        )
    spark.stop()


if __name__ == "__main__":
    main()
