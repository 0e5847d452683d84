"""Multi-million-row stress tests for distributed-arithmetic operators.

Skipped unless SPARK_GRAFT_STRESS=1: they need ~16 GB driver memory and
minutes of CPU, and the correctness they guard (partitioning invariance
and AQE stability at sizes where sf0.01 hides bugs — e.g. the round-2
global-rank corruption that only appeared at 16M rows) is re-checked
per round, not per commit. Run:

    SPARK_GRAFT_STRESS=1 python -m pytest tests/test_stress.py -q
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_STRESS") != "1",
    reason="stress tests run per-round via SPARK_GRAFT_STRESS=1",
)


@pytest.fixture(scope="module")
def big_spark():
    from covid_data_pipeline_spark.session import get_spark

    return get_spark(app_name="stress", driver_memory="16g")


@pytest.fixture(scope="module")
def events_16m(big_spark):
    from covid_data_pipeline_spark.sources.pyds import register_synthetic_source

    register_synthetic_source(big_spark)
    return (
        big_spark.read.format("synthetic_events")
        .option("numPartitions", 64)
        .option("rowsPerPartition", 250_000)
        .option("nUsers", 200_000)
        .load()
    )


def test_funnel_16m_partitioning_invariant(events_16m):
    from covid_data_pipeline_spark.operators.funnel import funnel_histogram

    args = ("user_id", "ts", "event_type", ("view", "click", "purchase"))
    a = sorted(map(tuple, funnel_histogram(events_16m, *args, max_gap="24 HOURS").collect()))
    b = sorted(
        map(
            tuple,
            funnel_histogram(
                events_16m.repartition(257), *args, max_gap="24 HOURS"
            ).collect(),
        )
    )
    assert a == b and len(a) >= 2


def test_token_budget_12m_partitioning_invariant(big_spark):
    from covid_data_pipeline_spark.operators.sampling import token_budget_select

    df = big_spark.range(12_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias("source"),
        (F.col("id") % 997 + 1).alias("n_tokens"),
    )
    budgets = {f"src{i}": 50_000_000 for i in range(20)}
    n1 = token_budget_select(df, budgets).count()
    n2 = token_budget_select(df.repartition(97), budgets).count()
    assert n1 == n2 > 0


def test_dwell_percentiles_shape_16m(events_16m):
    from pyspark.sql.window import Window

    from covid_data_pipeline_spark.functions.scalar import epoch_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = epoch_seconds("ts")
    gaps = (
        events_16m.filter(F.col("ts").isNotNull())
        .select(F.floor(ts_s - F.lag(ts_s).over(w)).cast("bigint").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    # domain compression: distinct gap values stay tiny vs row count
    assert gaps.select("g").distinct().count() < 1_000_000


def test_prefix_jaccard_200k_docs_bounded_and_invariant(big_spark):
    """200k synthetic docs with planted near-dups: the prefix join must
    stay bounded (posting-prefix mass, not n²) and partitioning-
    invariant, and must find every planted mutant pair."""
    import time

    from covid_data_pipeline_spark.operators.dedup import jaccard_join_prefix

    n = 100_000
    base = big_spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{j}x"), ((F.col("id") * (j + 7)) % 9973))
                for j in range(12)
            ],
        ).alias("text"),
    )
    mutants = base.select(
        (F.col("doc_id") + n).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    docs = base.unionByName(mutants)
    t0 = time.time()
    pairs = jaccard_join_prefix(docs, shingle_k=3, threshold=0.6)
    planted = pairs.filter(F.col("id_b") == F.col("id_a") + n).count()
    wall = time.time() - t0
    assert planted == n  # exact method: every planted pair found
    # partitioning invariance on a deterministic slice of the output
    probe = pairs.filter(F.col("id_a") < 500)
    a = sorted(map(tuple, probe.collect()))
    b = sorted(
        map(
            tuple,
            jaccard_join_prefix(
                docs.repartition(157), shingle_k=3, threshold=0.6
            ).filter(F.col("id_a") < 500).collect(),
        )
    )
    assert a == b and len(a) >= 500
    assert wall < 600, f"200k-doc prefix join took {wall:.0f}s"


def test_split_skew_join_16m_equals_plain(big_spark, events_16m):
    """16M-row probe with a planted 70%-hot key through the hot/cold
    split join: aggregate-identical to the vanilla join, at stress
    scale."""
    from covid_data_pipeline_spark.operators.scale import split_skew_join

    ev = events_16m.select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    dim = ev.select("k").distinct().withColumn("grp", F.col("k") % 13)
    def _agg(j):
        return {
            r["grp"]: (r["n"], r["cents"])
            for r in j.groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                    "cents"
                ),
            )
            .collect()
        }

    split = _agg(split_skew_join(ev, dim, on=["k"], num_salts=32))
    plain = _agg(ev.join(dim, on=["k"]))
    assert split == plain and len(split) == 13


def test_containment_200k_docs_bounded_and_invariant(big_spark):
    """100k synthetic docs + 100k planted quotes (first 7 of 12 tokens):
    the inverted-index containment join must stay bounded by posting
    mass (not n²), find every quote at exactly 10000 bp, and be
    partitioning-invariant."""
    import time

    from covid_data_pipeline_spark.operators.dedup import containment_pairs

    n = 100_000
    base = big_spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{j}x"), ((F.col("id") * (j + 7)) % 9973))
                for j in range(12)
            ],
        ).alias("text"),
    )
    quotes = base.select(
        (F.col("doc_id") + n).alias("doc_id"),
        F.regexp_extract(
            F.col("text"), r"^(\S+(?: \S+){6})", 1
        ).alias("text"),  # first 7 tokens
    )
    docs = base.unionByName(quotes)
    t0 = time.time()
    pairs = containment_pairs(docs, threshold_bp=9000, max_df=1000)
    planted = pairs.filter(
        (F.col("id_a") == F.col("id_b") + n)
        & (F.col("containment_bp") == 10_000)
    ).count()
    wall = time.time() - t0
    assert planted == n
    probe = pairs.filter(F.col("id_a") < 500 + n).filter(F.col("id_a") >= n)
    a = sorted(map(tuple, probe.collect()))
    b = sorted(
        map(
            tuple,
            containment_pairs(
                docs.repartition(157), threshold_bp=9000, max_df=1000
            )
            .filter(F.col("id_a") < 500 + n)
            .filter(F.col("id_a") >= n)
            .collect(),
        )
    )
    assert a == b and len(a) >= 500
    assert wall < 600, f"200k-doc containment join took {wall:.0f}s"


def test_heavy_hitters_16m_bounded_and_invariant(big_spark):
    """16M-row stream, 1M-item domain with 20 planted hot items: the
    two-pass heavy hitter must equal the exact groupBy answer, stay
    partitioning-invariant, and never shuffle the domain (candidates
    ≤ k × partitions)."""
    import time

    from covid_data_pipeline_spark.operators.heavyhitters import heavy_hitters

    n = 16_000_000
    # 50% of rows on 20 hot keys (id div 2 cycles through all residues
    # mod 20 — a bare id % 20 over even ids would only hit the evens),
    # the rest spread over ~1M tail keys
    stream = big_spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.expr("(id div 2) % 20"))
        .otherwise(F.col("id") % 1_000_000 + 1_000)
        .alias("item")
    )
    k = 100
    t0 = time.time()
    got = {
        (r["item"], r["cnt"])
        for r in heavy_hitters(stream, item_col="item", k=k).collect()
    }
    wall = time.time() - t0
    exact = {
        (r["item"], r["count"])
        for r in stream.groupBy("item").count().collect()
        if r["count"] * (k + 1) > n
    }
    assert got == exact and len(got) == 20
    got2 = {
        (r["item"], r["cnt"])
        for r in heavy_hitters(
            stream.repartition(37), item_col="item", k=k
        ).collect()
    }
    assert got2 == got
    assert wall < 300, f"16M heavy hitters took {wall:.0f}s"


def test_mad_outliers_16m_partitioning_invariant(events_16m):
    from covid_data_pipeline_spark.operators.relational import mad_outliers

    flagged = (
        mad_outliers(events_16m, ["event_type"], "value", k=1)
        .filter(F.col("is_outlier"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__vq").alias("s"))
    )
    a = sorted(map(tuple, flagged.collect()))
    b = sorted(
        map(
            tuple,
            mad_outliers(
                events_16m.repartition(253), ["event_type"], "value", k=1
            )
            .filter(F.col("is_outlier"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("__vq").alias("s"))
            .collect(),
        )
    )
    assert a == b and len(a) >= 1


def test_bm25_1m_docs_stopword_capped(big_spark):
    # 1M synthetic "docs" (event props strings) with a planted rare term:
    # the capped query must return it from a corpus-wide posting build
    from covid_data_pipeline_spark.operators.retrieval import bm25_topk

    base = big_spark.range(1_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common filler words here "),
            F.when(F.col("id") % 100_000 == 7, F.lit("xylophone"))
            .otherwise(F.lit("noise")),
        ).alias("text"),
    )
    q = big_spark.createDataFrame(
        [(1, "common xylophone")], "query_id long, qtext string"
    )
    hits = bm25_topk(base, q, k=10, max_df_frac=0.5).collect()
    got = {r["doc_id"] for r in hits}
    assert got == {i for i in range(1_000_000) if i % 100_000 == 7}


def test_radius_pairs_hot_cell_output_bound_and_salt_invariant(big_spark):
    """One pathological hot cell (VERDICT r10 #3: the only scaling flag,
    geo_radius_pairs α=1.34, adjudicated output-bound): 2,000 points
    inside ONE grid cell, all pairwise within radius, plus a uniform
    background. Pins the density contract on radius_pairs:

    - exactness: the hot cell contributes exactly k(k−1)/2 pairs (the
      output IS quadratic in cell density — no algorithm beats Θ(output));
    - bounded per-cell work: ``salt`` spreads the hot cell's candidate
      mass over salt join sub-keys with BIT-IDENTICAL output, so per-task
      work is |cell|²/salt, a knob not a cliff;
    - partitioning invariance of the salted plan.
    """
    from covid_data_pipeline_spark.operators.geo import radius_pairs

    k = 2_000
    radius = 1_000
    # hot cell: k points in a radius/2 square => every pair qualifies
    hot = big_spark.range(k).select(
        F.col("id").alias("pid"),
        (F.pmod(F.xxhash64("id"), F.lit(radius // 2))).alias("x"),
        (F.pmod(F.xxhash64(F.col("id") + 1), F.lit(radius // 2))).alias("y"),
    )
    # sparse background far away: 50k points, ≥ 10·radius apart => no pairs
    bg = big_spark.range(50_000).select(
        (F.col("id") + 1_000_000).alias("pid"),
        (F.lit(100_000) + F.col("id") * 10 * radius).alias("x"),
        (F.col("id") % 2 * 10 * radius).alias("y"),
    )
    pts = hot.unionByName(bg)

    n_unsalted = radius_pairs(pts, "pid", "x", "y", radius).count()
    assert n_unsalted == k * (k - 1) // 2

    salted = radius_pairs(pts, "pid", "x", "y", radius, salt=16)
    assert salted.count() == n_unsalted
    # bit-identical pair set, salted vs not, and under repartitioning
    unsalted_set = {
        (r["id_a"], r["id_b"])
        for r in radius_pairs(pts, "pid", "x", "y", radius).collect()
    }
    salted_set = {
        (r["id_a"], r["id_b"])
        for r in radius_pairs(
            pts.repartition(37), "pid", "x", "y", radius, salt=16
        ).collect()
    }
    assert salted_set == unsalted_set
