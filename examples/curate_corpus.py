"""Corpus curation end-to-end in one script.

    python examples/curate_corpus.py [testdata_dir]

Runs the full training-data chain from plans/curation.py over the
synthetic documents table — quality gate, exact + near-dup dedup with
connected-components canonicalization, benchmark decontamination,
deterministic split, token-budget packing — and prints the per-split
survivor and bin counts.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from covid_data_pipeline_spark.harness.tables import table
from covid_data_pipeline_spark.plans.curation import CurationConfig, curate_documents
from covid_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="curate-corpus")
    spark.sparkContext.setLogLevel("ERROR")

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")

    metrics: dict = {}
    curated = curate_documents(
        docs,
        benchmark=bench,
        cfg=CurationConfig(pack_budget_tokens=2048),
        metrics=metrics,
    ).cache()

    kept = curated.count()  # ONE action — every stage count rides it
    stages = " → ".join(
        f"{name}:{obs.get['rows']}" for name, obs in metrics.items()
    )
    print(f"== curation: {stages} → packed:{kept} ==")
    curated.groupBy("split").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        (F.max("bin_id") + 1).alias("bins"),
    ).orderBy("split").show()

    spark.stop()


if __name__ == "__main__":
    main()
