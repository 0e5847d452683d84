"""Tokenizer training end-to-end in one script.

    python examples/train_tokenizer.py [testdata_dir] [num_merges]

Learns BPE merge rules from the documents table (one corpus pass for
the word histogram; every merge iteration is vocabulary-sized), prints
the merge table and the compression curve, then tokenizes a sample of
documents with the learned rules (`apply_bpe_merges` — a zero-shuffle
projection usable in batch or streaming).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from covid_data_pipeline_spark.harness.tables import table
from covid_data_pipeline_spark.operators.tokenizer import (
    apply_bpe_merges,
    bpe_compression_curve,
    learn_bpe_merges,
)
from covid_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    num_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark(app_name="train-tokenizer")
    spark.sparkContext.setLogLevel("ERROR")

    docs = table(spark, sf_dir, "documents")

    merges_df = learn_bpe_merges(docs, num_merges=num_merges)
    print("\n== learned merges ==")
    merges_df.show(num_merges, truncate=False)

    print("== compression curve ==")
    bpe_compression_curve(docs, num_merges=num_merges).show(
        num_merges + 1, truncate=False
    )

    rules = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("step").collect()
    ]
    print("== sample tokenization ==")
    (
        apply_bpe_merges(docs.limit(3), rules)
        .select(
            F.substring("text", 1, 60).alias("text_prefix"),
            F.slice("bpe_tokens", 1, 12).alias("first_tokens"),
        )
        .show(3, truncate=False)
    )
    spark.stop()


if __name__ == "__main__":
    main()
