"""Quality classifier: the integer-lattice trainer separates clean docs
from corrupted twins and is partitioning-independent."""

from __future__ import annotations

import pytest

# r11 fast-tier marking (VERDICT r10 ask #3): the full suite runs ~52
# min, which times out the driver's verify window; this module's tests
# are in the SLOW tier (fast tier = `pytest tests/` with the default
# addopts, full suite = `pytest tests/ -m ""` — run per round).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from covid_data_pipeline_spark.harness.tables import table
from covid_data_pipeline_spark.operators.classifier import corrupted_negatives

SF = "/root/testdata/sf0.001"


def test_lattice_logreg_separates_and_is_deterministic(spark):
    """The exact-replay (integer-lattice hard-sigmoid GD) trainer: every
    corpus doc must outscore every corrupted twin, and the trained
    weights must be partitioning-independent (pure integer trajectory)."""
    from covid_data_pipeline_spark.operators.classifier import (
        LATTICE_FEATURES,
        lattice_text_features,
        logreg_lattice_scores,
        train_logreg_lattice,
    )

    docs = table(spark, SF, "documents").limit(200)
    pos = docs.select("doc_id", "text").withColumn("y", F.lit(1))
    neg = (
        corrupted_negatives(docs)
        .select("doc_id", "text")
        .withColumn("y", F.lit(0))
    )
    lab = lattice_text_features(pos.unionByName(neg))
    w = train_logreg_lattice(lab)
    # punct weight negative, stopword weight positive — the axes the
    # vowel-strike corruption moves
    assert w[0] < 0 and w[1] > 0

    scored = logreg_lattice_scores(docs)
    bad = logreg_lattice_scores(
        corrupted_negatives(docs).select("doc_id", "text")
    )
    min_good = scored.agg(F.min("quality_prob")).first()[0]
    max_bad = bad.agg(F.max("quality_prob")).first()[0]
    assert min_good > max_bad  # full separation, not just means

    # determinism across partitionings: identical integer weights
    w2 = train_logreg_lattice(lab.repartition(7))
    assert w == w2

    # integer lattice features stay in [0, 1e6]
    feats_agg = lab.agg(
        *[F.max(c).alias(f"mx_{c}") for c in LATTICE_FEATURES],
        *[F.min(c).alias(f"mn_{c}") for c in LATTICE_FEATURES],
    ).first()
    assert all(feats_agg[f"mx_{c}"] <= 1_000_000 for c in LATTICE_FEATURES)
    assert all(feats_agg[f"mn_{c}"] >= 0 for c in LATTICE_FEATURES)
