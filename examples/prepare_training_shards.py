"""Training-shard preparation end-to-end in one script.

    python examples/prepare_training_shards.py [testdata_dir] [out_dir]

The post-curation half of a training-data pipeline, composed from this
round's mixture/order/quantization operators:

1. rebalance document sources to target mixture weights, replicating
   under-represented sources (``mixture_resample`` — epoch mixing),
2. assign the deterministic global read order (``global_hash_order`` —
   no single-task sort),
3. pack documents into fixed-token-budget bins in that order
   (``pack_greedy_bins``),
4. write one parquet shard directory partitioned by bin group, and
5. int8-quantize the embeddings table alongside (``quantize_int8``).

Every step is a pure function of ids, so re-running the script
reproduces byte-identical shard membership on any cluster layout.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import token_count
from covid_data_pipeline_spark.harness.tables import table
from covid_data_pipeline_spark.operators.sampling import (
    global_hash_order,
    mixture_resample,
    pack_greedy_bins,
)
from covid_data_pipeline_spark.operators.similarity import quantize_int8
from covid_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/training_shards"
    spark = get_spark(app_name="prepare-training-shards")

    docs = table(spark, sf_dir, "documents")
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    # upweight the first quarter of sources 3x, renormalized to sum 1
    heavy = set(sources[: max(1, len(sources) // 4)])
    raw = {s: (3.0 if s in heavy else 1.0) for s in sources}
    z = sum(raw.values())
    weights = {s: w / z for s, w in raw.items()}

    mixed = mixture_resample(
        docs, "source", weights, target_rows=docs.count() * 2, id_col="doc_id"
    )
    # replicas need distinct ids for the order/pack steps
    mixed = mixed.withColumn(
        "sample_id", F.col("doc_id") * 64 + F.col("replica_idx")
    )
    ordered = global_hash_order(mixed, "sample_id")
    packed = pack_greedy_bins(
        ordered.withColumn("n_tokens", token_count("text")),
        group_col="lang",
        order_col="train_order",
        size_col="n_tokens",
        budget=2048,
    )
    shards = packed.select(
        "sample_id", "doc_id", "replica_idx", "source", "lang",
        "n_tokens", "train_order", "bin_id",
    )
    shards.write.mode("overwrite").partitionBy("lang").parquet(
        os.path.join(out_dir, "documents")
    )

    emb = quantize_int8(table(spark, sf_dir, "embeddings"), "embedding").select(
        "vec_id", "qvec", "scale", "label"
    )
    emb.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings_int8"))

    n_shards = shards.count()
    n_bins = shards.select("lang", "bin_id").distinct().count()
    n_vec = emb.count()
    print(
        f"wrote {n_shards} samples in {n_bins} bins -> {out_dir}/documents; "
        f"{n_vec} int8 vectors -> {out_dir}/embeddings_int8"
    )
    spark.stop()


if __name__ == "__main__":
    main()
