"""BENCH-adjacent stress report: measured scale evidence for the
"survives 100 TB" design claims, at 40-160x the sf0.1 driver scale.

Each case runs a scale-critical operator on synthetic data 1-2 orders of
magnitude past the bench corpus, asserts its correctness property
(planted-answer recall, equality to the exact algorithm) AND its
partitioning invariance (same answer after an adversarial repartition —
the class of bug sf0.01 cannot surface, cf. the round-2 global-rank
corruption that only appeared at 16M rows), and reports wall-clock.

Run: ``python tools/stress_report.py [--out STRESS_rN.json]``
(local[$SPARK_GRAFT_CPUS], ~16 GB driver; ~10-20 min). Exit code 0 =
every case's checks passed. Output: ONE JSON line, plus the file.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _events_16m(spark):
    """16M synthetic events (64 partitions x 250k rows, 200k users).
    The source rejects option names it does not know, so a misspelt
    size cannot fall back to its 8 x 1000-row defaults."""
    from covid_data_pipeline_spark.sources.pyds import register_synthetic_source

    register_synthetic_source(spark)
    return (
        spark.read.format("synthetic_events")
        .option("numPartitions", 64)
        .option("rowsPerPartition", 250_000)
        .option("nUsers", 200_000)
        .load()
    )


def case_funnel_16m(spark):
    """160x sf0.1 events through the sessionized funnel; invariant under
    a prime repartition (shuffle-placement shake)."""
    from covid_data_pipeline_spark.operators.funnel import funnel_histogram

    ev = _events_16m(spark)
    args = ("user_id", "ts", "event_type", ("view", "click", "purchase"))
    t0 = time.time()
    a = sorted(map(tuple, funnel_histogram(ev, *args, max_gap="24 HOURS").collect()))
    wall = time.time() - t0
    b = sorted(
        map(
            tuple,
            funnel_histogram(
                ev.repartition(257), *args, max_gap="24 HOURS"
            ).collect(),
        )
    )
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "invariant": a == b,
        "ok": a == b and len(a) >= 2,
    }


def case_token_budget_12m(spark):
    """12M docs through the deterministic per-source token-budget
    selector; selection must not depend on physical partitioning."""
    from covid_data_pipeline_spark.operators.sampling import token_budget_select

    df = spark.range(12_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias("source"),
        (F.col("id") % 997 + 1).alias("n_tokens"),
    )
    budgets = {f"src{i}": 50_000_000 for i in range(20)}
    t0 = time.time()
    n1 = token_budget_select(df, budgets).count()
    wall = time.time() - t0
    n2 = token_budget_select(df.repartition(97), budgets).count()
    return {
        "rows": 12_000_000,
        "scale_vs_sf0.1": "2400x documents",
        "sec": round(wall, 2),
        "invariant": n1 == n2,
        "ok": n1 == n2 and n1 > 0,
    }


def _synthetic_docs(spark, n):
    # 12 deterministic pseudo-words per doc; mutants append one token
    # (shingle-Jaccard ~ 10/11 = 0.91 against their base doc). Tokens are
    # xxhash-derived so every base doc is globally unique — a modular
    # generator (id * mult % p) silently aliases ids p apart into EXACT
    # duplicates, which the curation chain then (correctly) collapses.
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{j}x"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(1_000_000)),
                )
                for j in range(12)
            ],
        ).alias("text"),
    )
    mutants = base.select(
        (F.col("doc_id") + n).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return base.unionByName(mutants)


def case_dedup_minhash_200k(spark):
    """200k docs (40x sf0.1) with 100k planted 0.91-Jaccard mutant pairs
    through the banded MinHash+LSH pipeline: recall >= 0.98 expected
    (band-collision prob ~0.9999 at 32 hashes / 8 bands), and the
    verified pair set is partitioning-invariant (signatures are pure
    row-wise hashes; the verify step is exact integer Jaccard)."""
    from covid_data_pipeline_spark.operators.dedup import minhash_dedup

    n = 100_000
    docs = _synthetic_docs(spark, n)
    t0 = time.time()
    pairs = minhash_dedup(docs, threshold=0.6)
    planted = pairs.filter(F.col("id_b") == F.col("id_a") + n).count()
    wall = time.time() - t0
    recall = planted / n
    probe = sorted(
        map(tuple, pairs.filter(F.col("id_a") < 500).collect())
    )
    probe2 = sorted(
        map(
            tuple,
            minhash_dedup(docs.repartition(157), threshold=0.6)
            .filter(F.col("id_a") < 500)
            .collect(),
        )
    )
    return {
        "rows": 2 * n,
        "scale_vs_sf0.1": "40x documents",
        "sec": round(wall, 2),
        "planted_recall": round(recall, 4),
        "invariant": probe == probe2,
        "ok": recall >= 0.98 and probe == probe2 and len(probe) >= 400,
    }


def case_knn_graph_lsh_100k(spark):
    """100k 64-dim embeddings (50x sf0.1) with 50k planted identical
    twins through the bucketed LSH kNN graph: every twin must surface as
    its base's top-1 at similarity 1.0 (identical vectors always share a
    bucket), and the edge set must be partitioning-invariant (4-dp
    rounded sims + deterministic tie-break)."""
    from covid_data_pipeline_spark.operators.similarity import knn_graph_lsh

    n = 50_000
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), "
            "j -> pmod(xxhash64(id, j), 10000) / 10000.0 - 0.5)"
        ).alias("embedding"),
    )
    twins = base.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding"
    )
    emb = base.unionByName(twins)
    t0 = time.time()
    edges = knn_graph_lsh(emb, dim=64, k=5, num_planes=8).persist()
    planted = edges.filter(
        (F.col("nbr_id") == F.col("src_id") + n)
        & (F.col("similarity") == 1.0)
    ).count()
    wall = time.time() - t0
    probe = sorted(map(tuple, edges.filter(F.col("src_id") < 200).collect()))
    edges.unpersist()
    probe2 = sorted(
        map(
            tuple,
            knn_graph_lsh(emb.repartition(157), dim=64, k=5, num_planes=8)
            .filter(F.col("src_id") < 200)
            .collect(),
        )
    )
    return {
        "rows": 2 * n,
        "scale_vs_sf0.1": "50x embeddings",
        "sec": round(wall, 2),
        "planted_recall": round(planted / n, 4),
        "invariant": probe == probe2,
        "ok": planted == n and probe == probe2 and len(probe) >= 200,
    }


def case_curation_chain_220k(spark):
    """The flagship end-to-end curation chain (quality -> exact dedup ->
    MinHash+LSH near-dup canonicalization -> decontamination -> split ->
    pack) at 44x the sf0.1 corpus, with every planted hazard checked:
    100k base docs + 100k 0.91-Jaccard mutants (must collapse onto their
    base doc), 20k exact duplicates (must drop), and a benchmark built
    from every 50th base doc (8-gram decontamination must drop those
    bases). Output set must be partitioning-invariant bit-for-bit."""
    from covid_data_pipeline_spark.plans.curation import (
        CurationConfig,
        curate_documents,
    )

    n = 100_000
    docs = _synthetic_docs(spark, n)  # base 0..n-1, mutants n..2n-1
    exact_dups = docs.filter(F.col("doc_id") < 20_000).select(
        (F.col("doc_id") + 2 * n).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(exact_dups)
    bench = docs.filter(
        (F.col("doc_id") < n) & (F.col("doc_id") % 50 == 0)
    ).select("text")
    cfg = CurationConfig(num_hashes=16, bands=8, jaccard_threshold=0.9)

    t0 = time.time()
    out = curate_documents(corpus, benchmark=bench, cfg=cfg).persist()
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    wall = time.time() - t0
    rows = sorted(map(tuple, out.collect()))
    out.unpersist()

    # planted hazards: mutants collapse onto base (min-id canonical),
    # exact dups drop, benchmark-contaminated bases drop. MinHash band
    # collision at jaccard 0.91 has a ~4e-7 per-pair miss probability —
    # deterministic for fixed data, but allow the expected tail.
    mutant_survivors = sum(1 for d in kept if n <= d < 2 * n)
    no_mutants = mutant_survivors <= 5
    no_exact_dups = not any(d >= 2 * n for d in kept)
    decontaminated = not any(d % 50 == 0 for d in kept if d < n)
    survivors_ok = len(kept) > 0.8 * n  # the clean bases survive

    rows2 = sorted(
        map(
            tuple,
            curate_documents(
                corpus.repartition(157), benchmark=bench, cfg=cfg
            ).collect(),
        )
    )
    return {
        "rows": 2 * n + 20_000,
        "scale_vs_sf0.1": "44x documents",
        "sec": round(wall, 2),
        "kept": len(kept),
        "mutant_survivors": mutant_survivors,
        "invariant": rows == rows2,
        "ok": (
            no_mutants and no_exact_dups and decontaminated
            and survivors_ok and rows == rows2
        ),
    }


def case_dedup_keep_best_500k(spark):
    """The two slowest mirror queries' shared chain (r3 VERDICT ask #6)
    at 500k docs (100x sf0.1): MinHash+LSH pairs at threshold 0.9 ->
    exact-Jaccard verify -> connected components (with the per-partition
    union-find pre-contraction) -> keep-best canonicalization. The
    planted mutants are one token LONGER than their base, so every
    2-doc component must select the MUTANT as canonical (the policy
    check), the base must be dropped, and the whole mapping must be
    partitioning-invariant. CC round count is reported — the dominant
    cost the pre-contraction exists to cut."""
    from covid_data_pipeline_spark.operators.dedup import minhash_dedup
    from covid_data_pipeline_spark.operators.graph import connected_components

    n = 250_000
    docs = _synthetic_docs(spark, n)
    lens = docs.select("doc_id", F.length("text").alias("__len"))

    def chain(d):
        pairs = minhash_dedup(
            d, text_col="text", id_col="doc_id", shingle_k=3,
            num_hashes=16, bands=8, threshold=0.9,
        )
        st: dict = {}
        comps = connected_components(
            pairs, src="id_a", dst="id_b", nodes=d.select("doc_id"), stats=st
        )
        best = (
            comps.join(lens, comps["node"] == lens["doc_id"])
            .groupBy("component")
            .agg(
                F.max_by(
                    F.col("node"),
                    F.struct(F.col("__len"), (-F.col("node")).alias("__neg")),
                ).alias("best_id")
            )
        )
        out = comps.join(best, "component").select(
            F.col("node").alias("doc_id"),
            F.col("best_id").alias("canonical_id"),
            (F.col("node") == F.col("best_id")).alias("is_kept"),
        )
        return out, st

    t0 = time.time()
    out, st = chain(docs)
    out = out.persist()
    total = out.count()
    # every base doc's canonical must be its (longer) mutant; misses =
    # LSH band misses (expected ~0.2 at 1-(1-0.91^2)^8 per pair) +
    # genuinely wrong policy picks (must be zero)
    wrong_canonical = out.filter(
        (F.col("doc_id") < n) & (F.col("canonical_id") != F.col("doc_id") + n)
    ).count()
    kept_mutants = out.filter((F.col("doc_id") >= n) & F.col("is_kept")).count()
    wall = time.time() - t0
    probe = sorted(
        map(tuple, out.filter(F.col("doc_id") % 500 == 0).collect())
    )
    out.unpersist()
    out2, _ = chain(docs.repartition(157))
    probe2 = sorted(
        map(tuple, out2.filter(F.col("doc_id") % 500 == 0).collect())
    )
    miss_budget = 5
    return {
        "rows": 2 * n,
        "scale_vs_sf0.1": "100x documents",
        "sec": round(wall, 2),
        "cc_rounds": st.get("rounds"),
        "wrong_canonical": wrong_canonical,
        "invariant": probe == probe2,
        "ok": (
            total == 2 * n
            and wrong_canonical <= miss_budget
            and kept_mutants >= n - miss_budget
            and probe == probe2
            and len(probe) >= 900
        ),
    }


def case_heavy_hitters_16m(spark):
    """16M-row stream, ~1M-item domain, 20 planted hot keys: the
    two-pass Misra-Gries must EQUAL the exact groupBy answer and stay
    partitioning-invariant without ever shuffling the full domain."""
    from covid_data_pipeline_spark.operators.heavyhitters import heavy_hitters

    n = 16_000_000
    stream = spark.range(n).select(
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
    got2 = {
        (r["item"], r["cnt"])
        for r in heavy_hitters(
            stream.repartition(37), item_col="item", k=k
        ).collect()
    }
    return {
        "rows": n,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "invariant": got2 == got,
        "ok": got == exact and got2 == got and len(got) == 20,
    }


def case_ann_ivf_100k(spark):
    """IVF ANN at 50x the bench corpus: train the spherical-k-means
    quantizer on 100k xxhash-random 64-dim vectors (Arrow/BLAS assign),
    then answer 50 queries probe-limited and measure recall against the
    exact brute-force top-5 — the floor must hold at scale, not just at
    sf0.1. Planted twins (query vector duplicated into the corpus) must
    always be found: identical vectors share a quantizer cell."""
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce_np,
        cosine_topk_ivf,
        train_centroids,
    )

    n = 100_000
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), "
            "j -> pmod(xxhash64(id, j), 10000) / 10000.0 - 0.5)"
        ).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    cents = train_centroids(corpus, n_centroids=64, iters=2)
    t_train = time.time() - t0
    t0 = time.time()
    approx = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_ivf(
            corpus, queries, k=5, n_centroids=64, nprobe=16, centroids=cents
        ).collect()
    }
    t_query = time.time() - t0
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce_np(corpus, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    return {
        "rows": n,
        "scale_vs_sf0.1": "50x embeddings",
        "sec": round(t_train + t_query, 2),
        "train_sec": round(t_train, 2),
        "query_sec": round(t_query, 2),
        "recall_vs_exact": round(recall, 4),
        # xxhash-random vectors are a worst case for ANN (no cluster
        # structure) — yet probing 16/64 cells measures ~0.72 top-5
        # recall; floor at 0.5, well above the 25% a random probe set
        # would give
        "ok": recall >= 0.5,
    }


def case_graph_cc_1m(spark):
    """Connected components at 1M nodes / 900k edges (100k chains of
    length 10): the large-star/small-star alternation must label every
    node with its chain's minimum id exactly, in O(log diameter) rounds,
    partitioning-invariant. The closed-form ground truth makes the check
    total — every single node is verified, not a sample."""
    from covid_data_pipeline_spark.operators.graph import connected_components

    n = 1_000_000
    edges = (
        spark.range(n)
        .filter(F.col("id") % 10 != 9)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    nodes = spark.range(n).select(F.col("id").alias("node"))
    st: dict = {}
    t0 = time.time()
    comps = connected_components(edges, nodes=nodes, stats=st)
    wrong = comps.filter(
        F.col("component") != (F.col("node") - F.pmod(F.col("node"), 10))
    ).count()
    total = comps.count()
    wall = time.time() - t0
    comps2 = connected_components(edges.repartition(157), nodes=nodes)
    wrong2 = comps2.filter(
        F.col("component") != (F.col("node") - F.pmod(F.col("node"), 10))
    ).count()
    return {
        "rows": n,
        "scale_vs_sf0.1": "200x document-graph nodes",
        "sec": round(wall, 2),
        "cc_rounds": st.get("rounds"),
        "invariant": wrong2 == 0,
        "ok": wrong == 0 and wrong2 == 0 and total == n,
    }


def case_ann_pq_100k(spark):
    """PQ (train + encode + ADC + rerank) at 50x the bench corpus: the
    storage-bound ANN arm. Codebooks train per-subspace on 100k vectors;
    the ADC scan touches only the code column; a top-50 shortlist
    re-ranks against full vectors. Rerank recall vs the exact scan must
    hold at scale on structureless (worst-case) vectors."""
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce_np,
        pq_encode,
        pq_topk_rerank,
        pq_train_codebooks,
    )

    n = 100_000
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), "
            "j -> pmod(xxhash64(id, j), 10000) / 10000.0 - 0.5)"
        ).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    books = pq_train_codebooks(corpus, dim=64, n_sub=16, n_codes=64, iters=2)
    t_train = time.time() - t0
    t0 = time.time()
    codes = pq_encode(corpus, books)
    approx = {
        (r["query_id"], r["vec_id"])
        for r in pq_topk_rerank(
            codes, corpus, queries, books, k=5, shortlist=50
        ).collect()
    }
    t_query = time.time() - t0
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce_np(corpus, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    return {
        "rows": n,
        "scale_vs_sf0.1": "50x embeddings",
        "sec": round(t_train + t_query, 2),
        "train_sec": round(t_train, 2),
        "query_sec": round(t_query, 2),
        "recall_vs_exact": round(recall, 4),
        # measured 0.876 on structureless vectors; floor with headroom
        "ok": recall >= 0.7,
    }


def case_bpe_learn_16m(spark):
    """BPE merge learning over a 16M-token corpus (10k-word zipf-less
    vocab): the histogram claim made concrete — after the single corpus
    aggregation every one of the 8 iterations runs on 10k rows, so
    wall-clock is dominated by fixed job overhead, not corpus size. The
    learned merge table must be partitioning-invariant (deterministic
    argmax tiebreak) and the compression curve strictly decreasing."""
    from covid_data_pipeline_spark.operators.tokenizer import (
        bpe_compression_curve,
        learn_bpe_merges,
    )

    n = 16_000_000
    docs = spark.range(n // 8).select(
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(10_000)),
                )
                for j in range(8)
            ],
        ).alias("text")
    )
    t0 = time.time()
    merges = [tuple(r) for r in learn_bpe_merges(docs, num_merges=8).collect()]
    wall = time.time() - t0
    merges2 = [
        tuple(r)
        for r in learn_bpe_merges(docs.repartition(157), num_merges=8).collect()
    ]
    curve = {
        r["step"]: r["corpus_tokens"]
        for r in bpe_compression_curve(docs, num_merges=3).collect()
    }
    decreasing = all(curve[k] < curve[k - 1] for k in range(1, 4))
    return {
        "rows": n,
        "scale_vs_sf0.1": "130x corpus tokens",
        "sec": round(wall, 2),
        "merges": [m[3] for m in merges],
        "invariant": merges == merges2,
        "ok": len(merges) == 8 and merges == merges2 and decreasing,
    }


def case_dsir_weights_400k(spark):
    """400k docs (80x sf0.1) through the DSIR importance-weight
    selector: two disjoint 5k-token vocabularies (style A / style B),
    with 20% of the style-A docs declared the target slice. Checks the
    selector's core promise at scale — every style-A doc outweighs
    every style-B doc (perfect separation, since the vocabularies are
    disjoint) — and exact partitioning invariance (the accumulation is
    BIGINT micro-nats, so not even float noise is tolerated)."""
    from covid_data_pipeline_spark.operators.selection import dsir_weights

    n = 400_000
    # 50-type style vocabularies: styles are DISTRIBUTIONS over a
    # reused vocab (dense gram repetition -> strong per-bucket signal).
    # A near-unique vocab (%5000) makes every bigram a one-off that
    # sprays uniform hash noise over the buckets and the 200k-doc weight
    # tails overlap — that is a property of the corpus, not the selector.
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(
                        F.lit("b")
                    ),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(50)),
                )
                for j in range(12)
            ],
        ).alias("text"),
    )
    is_target = (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 5 == 0)
    t0 = time.time()
    w = dsir_weights(docs, is_target)
    bounds = w.agg(
        F.min(
            F.when(F.col("doc_id") % 2 == 0, F.col("dsir_log_weight"))
        ).alias("min_a"),
        F.max(
            F.when(F.col("doc_id") % 2 == 1, F.col("dsir_log_weight"))
        ).alias("max_b"),
    ).collect()[0]
    wall = time.time() - t0
    probe = sorted(
        map(tuple, w.filter(F.col("doc_id") < 1000).collect())
    )
    probe2 = sorted(
        map(
            tuple,
            dsir_weights(docs.repartition(157), is_target)
            .filter(F.col("doc_id") < 1000)
            .collect(),
        )
    )
    separated = bounds["min_a"] > bounds["max_b"]
    return {
        "rows": n,
        "scale_vs_sf0.1": "80x documents",
        "sec": round(wall, 2),
        "min_target_style_weight": bounds["min_a"],
        "max_offtarget_weight": bounds["max_b"],
        "invariant": probe == probe2,
        "ok": separated and probe == probe2 and len(probe) == 1000,
    }


def case_skyline_10m(spark):
    """Two-phase skyline at 10M points (hash-scattered, ~1M distinct
    cells): the survivor set is proven EQUAL to the true skyline by two
    total checks — no survivor is strictly dominated by ANY of the 10M
    points, and every point is covered (dominated-or-equal) by some
    survivor — plus partitioning invariance. The naive NOT EXISTS
    dominance join this replaces is 10M x 10M."""
    from covid_data_pipeline_spark.operators.skyline import skyline_2d

    n = 10_000_000
    pts = (
        spark.range(n)
        .select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000)).alias("x"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(1_000_000))
            .alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    t0 = time.time()
    surv = skyline_2d(pts, "x", "y").collect()
    wall = time.time() - t0
    s = [(r["x"], r["y"]) for r in surv]
    mutual = all(
        not (qx <= x and qy >= y and (qx < x or qy > y))
        for x, y in s
        for qx, qy in s
    )
    from pyspark.sql import Row

    sdf = F.broadcast(
        spark.createDataFrame([Row(sx=a, sy=b) for a, b in s])
    )
    # any point strictly dominating a survivor disproves soundness
    dominating = (
        pts.crossJoin(sdf)
        .where(
            (F.col("x") <= F.col("sx")) & (F.col("y") >= F.col("sy"))
            & ((F.col("x") < F.col("sx")) | (F.col("y") > F.col("sy")))
        )
        .count()
    )
    # any point no survivor covers disproves completeness
    uncovered = (
        pts.join(
            sdf,
            (F.col("sx") <= F.col("x")) & (F.col("sy") >= F.col("y")),
            "left_anti",
        ).count()
    )
    surv2 = {
        (r["x"], r["y"])
        for r in skyline_2d(pts.repartition(157), "x", "y").collect()
    }
    return {
        "rows": n,
        "distinct_cells": pts.count(),
        "skyline_size": len(s),
        "scale_vs_sf0.1": "500x part-catalog points",
        "sec": round(wall, 2),
        "invariant": surv2 == set(s),
        "ok": mutual and dominating == 0 and uncovered == 0
              and surv2 == set(s),
    }


def case_kcore_1m_edges(spark):
    """k-core peeling at 1.36M edges with a PLANTED answer AND a
    planted multi-round cascade: 40k disjoint 5-cliques (every member
    degree 4 -> the entire 4-core survives) each trailing an 8-node
    chain whose nodes are propped to degree EXACTLY k by pendant
    leaves — so the chain unravels one node per synchronous round
    (pendants r1, then the chain tip each round), ~10 rounds total,
    the regime where per-round lineage truncation matters. Survivor
    set and in-core degrees are checked exactly, plus partitioning
    invariance."""
    from covid_data_pipeline_spark.operators.graph import kcore

    n_cliques = 40_000
    stride = 29  # 5 clique + 8 chain + 16 pendant ids per gadget
    clique_edges = (
        spark.range(n_cliques)
        .select(F.explode(F.expr(
            f"transform(sequence(0, 9), i -> struct("
            f"  id * {stride} + CAST(array(0,0,0,0,1,1,1,2,2,3)[i] AS BIGINT),"
            f"  id * {stride} + CAST(array(1,2,3,4,2,3,4,3,4,4)[i] AS BIGINT)))"
        )).alias("e"))
        .select(F.col("e.col1").alias("lo"), F.col("e.col2").alias("hi"))
    )
    # chain c4-c5-...-c12 off clique node c4
    chain_edges = (
        spark.range(n_cliques)
        .select(F.explode(F.expr(
            f"transform(sequence(4, 11), i -> struct("
            f"  id * {stride} + i, id * {stride} + i + 1))"
        )).alias("e"))
        .select(F.col("e.col1").alias("lo"), F.col("e.col2").alias("hi"))
    )
    # two pendant leaves per chain node c5..c12: degree exactly 4
    pendant_edges = (
        spark.range(n_cliques)
        .select(F.explode(F.expr(
            f"flatten(transform(sequence(5, 12), j -> array("
            f"  struct(id * {stride} + j,"
            f"         id * {stride} + 13 + 2 * (j - 5)),"
            f"  struct(id * {stride} + j,"
            f"         id * {stride} + 14 + 2 * (j - 5)))))"
        )).alias("e"))
        .select(F.col("e.col1").alias("lo"), F.col("e.col2").alias("hi"))
    )
    edges = (
        clique_edges.unionByName(chain_edges)
        .unionByName(pendant_edges)
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    t0 = time.time()
    core = kcore(edges, k=4)
    bad_deg = core.where(F.col("core_degree") != 4).count()
    n_core = core.count()
    # survivors must be exactly the clique nodes: ids with offset 0..4
    stray = core.where(F.pmod(F.col("node"), stride) > 4).count()
    wall = time.time() - t0
    n_core2 = kcore(edges.repartition(157), k=4).count()
    return {
        "edges": n_edges,
        "scale_vs_sf0.1": "1000x doc-graph edges",
        "sec": round(wall, 2),
        "core_nodes": n_core,
        "invariant": n_core2 == n_core,
        "ok": n_core == n_cliques * 5 and bad_deg == 0 and stray == 0
              and n_core2 == n_core,
    }


def case_quantile_normalize_5m(spark):
    """Quantile normalization at 5M rows / 20 skew-shifted groups: each
    group's normalized min/max must land on the pooled min/max, the
    map must preserve within-group order on every row (checked via a
    window, not a sample), rows are preserved 1:1, and the output is
    partitioning-invariant. The reference distribution stays a
    broadcast range lookup — no global sort."""
    from pyspark.sql.window import Window as W

    from covid_data_pipeline_spark.operators.calibrate import (
        quantile_normalize,
    )

    n = 5_000_000
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            F.concat(F.lit("g"), F.pmod(F.col("id"), 20)).alias("grp"),
            # group j shifted by 50k*j: wildly different distributions
            (
                F.pmod(F.xxhash64("id"), F.lit(500_000))
                + F.pmod(F.col("id"), 20) * 50_000
            ).alias("score"),
        )
        .localCheckpoint(eager=False)
    )
    t0 = time.time()
    out = quantile_normalize(
        df, group_col="grp", val_col="score", id_col="id", out_col="norm"
    ).localCheckpoint(eager=False)
    n_out = out.count()
    wall = time.time() - t0
    pooled = df.agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    ).first()
    ends = out.groupBy("grp").agg(
        F.min("norm").alias("nlo"), F.max("norm").alias("nhi")
    )
    bad_ends = ends.where(
        (F.col("nlo") != pooled["lo"]) | (F.col("nhi") != pooled["hi"])
    ).count()
    w = W.partitionBy("grp").orderBy("score", "id")
    non_monotone = out.withColumn(
        "prev", F.lag("norm").over(w)
    ).where(F.col("prev") > F.col("norm")).count()
    inv_probe = (
        quantile_normalize(
            df.repartition(157), "grp", "score", "id", out_col="norm"
        )
        .agg(F.sum(F.col("norm") * F.col("id")).alias("chk"))
        .first()["chk"]
    )
    chk = out.agg(F.sum(F.col("norm") * F.col("id")).alias("chk")).first()[
        "chk"
    ]
    return {
        "rows": n,
        "scale_vs_sf0.1": "1000x document scores",
        "sec": round(wall, 2),
        "invariant": inv_probe == chk,
        "ok": n_out == n and bad_ends == 0 and non_monotone == 0
              and inv_probe == chk,
    }


def case_isotonic_10k_groups(spark):
    """PAV isotonic fit over 10k calibration curves of 50 buckets each
    (500k bucket rows through applyInPandas): every curve must come
    back non-decreasing with its weighted mass conserved exactly
    (PAV pools preserve sum(s) per group), all rows preserved."""
    from pyspark.sql.window import Window as W

    from covid_data_pipeline_spark.operators.calibrate import isotonic_fit

    groups, buckets = 10_000, 50
    b = (
        spark.range(groups * buckets)
        .select(
            (F.col("id") % groups).alias("grp"),
            (F.col("id") / groups).cast("long").alias("x"),
            (F.pmod(F.xxhash64("id"), F.lit(100)) + 1).alias("s"),
            F.lit(100).cast("long").alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    t0 = time.time()
    fit = isotonic_fit(b, "grp", "x", "s", "w", out_col="iso").localCheckpoint(
        eager=False
    )
    n_out = fit.count()
    wall = time.time() - t0
    w_ord = W.partitionBy("grp").orderBy("x")
    non_monotone = fit.withColumn("prev", F.lag("iso").over(w_ord)).where(
        F.col("prev") > F.col("iso") + 1e-12
    ).count()
    mass = fit.groupBy("grp").agg(
        F.sum(F.col("iso") * F.col("w")).alias("fit_mass"),
        F.sum("s").alias("raw_mass"),
    )
    bad_mass = mass.where(
        F.abs(F.col("fit_mass") - F.col("raw_mass")) > 1e-6
    ).count()
    return {
        "rows": groups * buckets,
        "groups": groups,
        "scale_vs_sf0.1": "10k curves vs 5",
        "sec": round(wall, 2),
        "ok": n_out == groups * buckets and non_monotone == 0
              and bad_mass == 0,
    }


def case_ktruss_1m_edges(spark):
    """k-truss at the same 1.36M-edge gadget graph as the k-core case:
    every K5 edge sits in 3 triangles (>= k-2 = 2, survives); chain and
    pendant edges are triangle-free and vanish in round one — so the
    4-truss is exactly the 400k clique edges with support 3. Triangle
    enumeration cost is wedge-bounded (clique gadgets are disjoint)."""
    from covid_data_pipeline_spark.operators.graph import ktruss

    n_cliques = 40_000
    stride = 29
    clique_edges = (
        spark.range(n_cliques)
        .select(F.explode(F.expr(
            f"transform(sequence(0, 9), i -> struct("
            f"  id * {stride} + CAST(array(0,0,0,0,1,1,1,2,2,3)[i] AS BIGINT),"
            f"  id * {stride} + CAST(array(1,2,3,4,2,3,4,3,4,4)[i] AS BIGINT)))"
        )).alias("e"))
        .select(F.col("e.col1").alias("lo"), F.col("e.col2").alias("hi"))
    )
    chain_edges = (
        spark.range(n_cliques)
        .select(F.explode(F.expr(
            f"transform(sequence(4, 11), i -> struct("
            f"  id * {stride} + i, id * {stride} + i + 1))"
        )).alias("e"))
        .select(F.col("e.col1").alias("lo"), F.col("e.col2").alias("hi"))
    )
    pendant_edges = (
        spark.range(n_cliques)
        .select(F.explode(F.expr(
            f"flatten(transform(sequence(5, 12), j -> array("
            f"  struct(id * {stride} + j,"
            f"         id * {stride} + 13 + 2 * (j - 5)),"
            f"  struct(id * {stride} + j,"
            f"         id * {stride} + 14 + 2 * (j - 5)))))"
        )).alias("e"))
        .select(F.col("e.col1").alias("lo"), F.col("e.col2").alias("hi"))
    )
    edges = (
        clique_edges.unionByName(chain_edges)
        .unionByName(pendant_edges)
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    t0 = time.time()
    truss = ktruss(edges, k=4)
    bad_sup = truss.where(F.col("support") != 3).count()
    n_truss = truss.count()
    stray = truss.where(
        (F.pmod(F.col("lo"), stride) > 4) | (F.pmod(F.col("hi"), stride) > 4)
    ).count()
    wall = time.time() - t0
    n2 = ktruss(edges.repartition(157), k=4).count()
    return {
        "edges": n_edges,
        "scale_vs_sf0.1": "1000x doc-graph edges",
        "sec": round(wall, 2),
        "truss_edges": n_truss,
        "invariant": n2 == n_truss,
        "ok": n_truss == n_cliques * 10 and bad_sup == 0 and stray == 0
              and n2 == n_truss,
    }


def case_kmeans_100k(spark):
    """200x sf0.1 vectors through integer-lattice Lloyd (k=8, 2
    updates, 32 dims): assignments must be invariant under an
    adversarial repartition (the seeds, argmin ties, and floor-divided
    updates are all deterministic by construction), with every planted
    blob internally consistent."""
    from pyspark.sql.window import Window

    from covid_data_pipeline_spark.operators.clustering import kmeans_lloyd

    n, dims = 100_000, 32
    # Blob id = md5-rank % 8 — the SAME order seed_centroids uses, so
    # the 8 seeds land in 8 distinct blobs (one each) and Lloyd must
    # recover the planted partition exactly (arbitrary seeds can
    # correctly settle in a merged-blob local optimum instead). The
    # single-partition rank window is fixture-only, not operator cost.
    rn = F.row_number().over(
        Window.orderBy(F.md5(F.col("id").cast("string")), "id")
    )
    base = spark.range(n, numPartitions=32).select(
        F.col("id").alias("vec_id"), ((rn - 1) % 8).alias("blob")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda j: F.col("blob").cast("double") * 10.0
        + (
            F.pmod(F.xxhash64(F.col("vec_id"), j), F.lit(1000)).cast(
                "double"
            )
        )
        / 1000.0
        - 0.5,
    )
    df = base.select("vec_id", "blob", vec.alias("embedding")).repartition(
        32, "vec_id"
    )
    blob_of = {
        r["vec_id"]: r["blob"]
        for r in base.select("vec_id", "blob").collect()
    }
    t0 = time.time()
    a = sorted(
        (r["vec_id"], r["cluster_id"], r["dist"])
        for r in kmeans_lloyd(df, k=8, iters=2).collect()
    )
    wall = time.time() - t0
    b = sorted(
        (r["vec_id"], r["cluster_id"], r["dist"])
        for r in kmeans_lloyd(df.repartition(257), k=8, iters=2).collect()
    )
    # every planted blob maps to exactly one recovered cluster
    # (separation 10 >> jitter 1, one seed per blob by construction).
    blob_cids: dict[int, set] = {}
    for vid, cid, _ in a:
        blob_cids.setdefault(blob_of[vid], set()).add(cid)
    pure = all(len(s) == 1 for s in blob_cids.values())
    return {
        "rows": n,
        "scale_vs_sf0.1": "200x embeddings, 32 dims",
        "sec": round(wall, 2),
        "invariant": a == b,
        "blob_pure": pure,
        "ok": a == b and pure and len(a) == n,
    }


def case_markov_16m(spark):
    """160x sf0.1 events through the Markov transition estimator and
    the per-user micro-nat likelihood scorer (200k users): transition
    matrix and decile histogram invariant under a prime repartition."""
    from pyspark.sql.window import Window

    ev = _events_16m(spark)

    def run(e):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = e.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        upair = (
            seq.where(F.col("prev_type").isNotNull())
            .groupBy("user_id", "prev_type", "next_type")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=False)
        )
        trans = upair.groupBy("prev_type", "next_type").agg(
            F.sum("c").alias("cnt")
        )
        tot = trans.groupBy("prev_type").agg(F.sum("cnt").alias("total"))
        lp = trans.join(tot, "prev_type").select(
            "prev_type",
            "next_type",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("total")) * 1e6,
                0,
            )
            .cast("long")
            .alias("micro"),
        )
        per_user = (
            upair.join(F.broadcast(lp), ["prev_type", "next_type"])
            .groupBy("user_id")
            .agg(
                F.sum("c").alias("n_trans"),
                F.sum(F.col("c") * F.col("micro")).alias("micro_sum"),
            )
            .where(F.col("n_trans") >= 2)
        )
        tmat = sorted(map(tuple, trans.collect()))
        nw = Window.orderBy(
            F.col("micro_sum").cast("double") / F.col("n_trans"), "user_id"
        )
        dec_hist = sorted(
            map(
                tuple,
                per_user.select(
                    F.ntile(10).over(nw).alias("decile")
                )
                .groupBy("decile")
                .count()
                .collect(),
            )
        )
        return tmat, dec_hist

    t0 = time.time()
    tmat_a, dec_a = run(ev)
    wall = time.time() - t0
    tmat_b, dec_b = run(ev.repartition(257))
    inv = tmat_a == tmat_b and dec_a == dec_b
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "160x events, 200k users",
        "sec": round(wall, 2),
        "invariant": inv,
        "n_transitions": len(tmat_a),
        "ok": inv and len(tmat_a) >= 4 and len(dec_a) == 10,
    }


def case_gsp_16m(spark):
    """160x sf0.1 events through the Apriori-pruned 3-step sequential
    pattern miner (greedy earliest-occurrence chains as keyed
    join+MIN steps): the surviving pattern set and supports must be
    invariant under a prime repartition."""
    from pyspark.sql.window import Window

    ev = _events_16m(spark)

    def run(e):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ee = e.select(
            "user_id",
            F.col("event_type").alias("t"),
            F.row_number().over(w).cast("long").alias("rn"),
        ).localCheckpoint(eager=False)
        nu = ee.select("user_id").distinct().count()
        first = ee.groupBy("user_id", F.col("t").alias("a")).agg(
            F.min("rn").alias("p1")
        )
        pair = (
            first.join(ee, "user_id")
            .where(F.col("rn") > F.col("p1"))
            .groupBy("user_id", "a", F.col("t").alias("b"))
            .agg(F.min("rn").alias("p2"))
        )
        sup2 = pair.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support2")
        )
        keep2 = sup2.where(F.col("support2") * 20 >= nu).select("a", "b")
        triple = (
            pair.join(F.broadcast(keep2), ["a", "b"])
            .join(ee, "user_id")
            .where(F.col("rn") > F.col("p2"))
            .select("user_id", "a", "b", F.col("t").alias("c"))
            .distinct()
        )
        sup3 = triple.groupBy("a", "b", "c").agg(
            F.count(F.lit(1)).alias("support")
        )
        return sorted(
            map(tuple, sup3.where(F.col("support") * 20 >= nu).collect())
        )

    t0 = time.time()
    a = run(ev)
    wall = time.time() - t0
    b = run(ev.repartition(257))
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "160x events, 200k users",
        "sec": round(wall, 2),
        "invariant": a == b,
        "n_patterns": len(a),
        "ok": a == b and len(a) >= 4,
    }




def case_ann_ivf_lattice_100k(spark):
    """Round-5 default IVF path at 50x: the exact-replay lattice
    quantizer (integer Lloyd + int64 Arrow assignment) on 100k
    xxhash-random 64-dim vectors. Checks the recall floor AND the
    property the DuckDB oracle certifies at sf0.01 — the trained
    integer centroid matrix is bit-identical under repartitioning."""
    from covid_data_pipeline_spark.operators.clustering import (
        train_centroids_lattice,
    )
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce_np,
        cosine_topk_ivf_lattice,
    )

    n = 100_000
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), "
            "j -> pmod(xxhash64(id, j), 10000) / 10000.0 - 0.5)"
        ).alias("embedding"),
    )
    queries = corpus.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    cents = train_centroids_lattice(corpus, k=64, iters=2)
    t_train = time.time() - t0
    t0 = time.time()
    approx = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_ivf_lattice(
            corpus, queries, k=5, n_centroids=64, nprobe=16,
            centroids=cents,
        ).collect()
    }
    t_query = time.time() - t0
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce_np(corpus, queries, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    cents2 = train_centroids_lattice(corpus.repartition(13), k=64, iters=2)
    return {
        "rows": n,
        "scale_vs_sf0.1": "50x embeddings",
        "sec": round(t_train + t_query, 2),
        "train_sec": round(t_train, 2),
        "query_sec": round(t_query, 2),
        "recall_vs_exact": round(recall, 4),
        "centroids_partitioning_invariant": cents == cents2,
        # same floor rationale as the float case: xxhash-random vectors
        # are the no-cluster worst case; 16/64 probes measured ~0.7
        "ok": recall >= 0.5 and cents == cents2,
    }


def case_winnowing_100k(spark):
    """Winnowing fingerprints at 100k docs (+100k append-mutants):
    every planted mutant pair must surface at containment >= 0.5 (the
    'zq' tail only perturbs the final windows), and fingerprint density
    must sit near the theoretical 2/(w+1) sampling rate."""
    from covid_data_pipeline_spark.harness.registry import QUERIES  # noqa: F401
    from covid_data_pipeline_spark.operators.features import (
        portable_token_hash,
    )
    from pyspark.sql.window import Window

    n = 100_000
    docs = _synthetic_docs(spark, n)  # 2n rows incl. mutants
    t0 = time.time()
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 8 + 1),
                lambda i: portable_token_hash(
                    F.col("text").substr(i, F.lit(8))
                ),
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    sel = (
        grams.withColumn(
            "m",
            F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w),
        )
        .where(F.col("pos") >= 4)
        .select("doc_id", F.col("m.h").alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cnt = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    # planted pair check: base doc d vs mutant d+n share fingerprints
    a = sel
    b = sel.select((F.col("doc_id") - n).alias("doc_id"), "h")
    shared = (
        a.join(b, ["doc_id", "h"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    pairs = (
        cnt.where(F.col("doc_id") < n)
        .join(shared, "doc_id", "left")
        .select(
            F.when(
                F.coalesce(F.col("shared"), F.lit(0))
                >= F.col("nfp") * 0.5,
                1,
            )
            .otherwise(0)
            .alias("hit")
        )
        .agg(F.sum("hit").alias("hits"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    stats = (
        cnt.join(
            docs.select("doc_id", F.length("text").alias("len")), "doc_id"
        )
        .agg(
            F.avg(F.col("nfp") / (F.col("len") - 10)).alias("density")
        )
        .collect()[0]
    )
    sec = time.time() - t0
    planted_recall = pairs["hits"] / pairs["n"]
    density = float(stats["density"])
    return {
        "rows": 2 * n,
        "scale_vs_sf0.1": "~33x documents",
        "sec": round(sec, 2),
        "planted_pair_recall": round(planted_recall, 4),
        # robust winnowing samples ~2/(w+1) = 0.4 of positions
        "fingerprint_density": round(density, 4),
        "ok": planted_recall >= 0.999 and 0.25 <= density <= 0.55,
    }



def case_mmr_rerank_100k(spark):
    """MMR diversity rerank at 50x the bench corpus: 50 queries against
    100k xxhash-random vectors, one EXACT clone of each query planted at
    id+500000. Checks: (a) planted answer — the clone's cosine is the
    maximum possible, so it must be every query's rank-1 pick; (b) the
    full integer greedy trajectory is invariant under an adversarial
    prime repartition (the -0.0/ordering bug class sf0.01 can't see)."""
    from covid_data_pipeline_spark.operators.similarity import mmr_rerank

    n = 100_000
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), "
            "j -> pmod(xxhash64(id, j), 10000) / 10000.0 - 0.5)"
        ).alias("embedding"),
    )
    clones = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 500_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    queries = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    out = mmr_rerank(corpus, queries, k=8, shortlist=24)
    a = sorted(map(tuple, out.collect()))
    wall = time.time() - t0
    b = sorted(
        map(
            tuple,
            mmr_rerank(
                corpus.repartition(37), queries, k=8, shortlist=24
            ).collect(),
        )
    )
    rank1 = {r[0]: r[2] for r in a if r[1] == 1}
    planted_ok = all(rank1[q] == q + 500_000 for q in range(50))
    return {
        "rows": n + 50,
        "scale_vs_sf0.1": "50x embeddings, 50 queries",
        "sec": round(wall, 2),
        "planted_rank1_ok": planted_ok,
        "partition_invariant": a == b,
        "ok": planted_ok and a == b and len(a) == 50 * 8,
    }


def case_mann_whitney_16m(spark):
    """Rank-sum U over 16M synthetic events (160x sf0.1): treatment
    values get a planted +80 shift on a 0..9999 base, so AUC must land
    clearly above 0.5; the exact integer outputs (u2, tie moments) must
    be bit-identical under a prime repartition — the value-compressed
    cumulative construction never ranks rows, so the distinct-value
    window stays ~10k rows at ANY event count."""
    from covid_data_pipeline_spark.operators.experiment import mann_whitney_u

    ev = _events_16m(spark)
    units = ev.select(
        (
            F.pmod(F.xxhash64("event_id"), F.lit(10000))
            + F.when(F.pmod(F.col("user_id"), F.lit(2)) == 1, 80).otherwise(0)
        ).alias("value_cents"),
        (F.pmod(F.col("user_id"), F.lit(2)) == 1).alias("treat"),
    )
    t0 = time.time()
    a = mann_whitney_u(units).collect()[0]
    wall = time.time() - t0
    b = mann_whitney_u(units.repartition(53)).collect()[0]
    shifted = a["auc"] > 0.5 and a["z"] > 10
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "auc": a["auc"],
        "z": a["z"],
        "partition_invariant": tuple(a) == tuple(b),
        "ok": shifted and tuple(a) == tuple(b),
    }


def case_nb_classifier_1m(spark):
    """Naive Bayes at 1M documents (2000x sf0.01 docs): two planted
    vocab-disjoint classes (tokens 'a<h>' vs 'b<h>') must classify the
    500k held-out docs perfectly, and the confusion matrix must be
    bit-identical under a prime repartition. The sparse unseen-token
    decomposition keeps the model |observed (class, token) pairs|-sized
    — no vocab x class grid materializes at any corpus size."""
    from covid_data_pipeline_spark.operators.classifier import (
        naive_bayes_confusion,
    )

    n = 1_000_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "alpha").otherwise("beta").alias("lang"),
        F.expr(
            "array_join(transform(sequence(0, 7), j -> concat("
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, "
            "pmod(xxhash64(id, j), 50))), ' ')"
        ).alias("text"),
    )
    # class = id parity, so the split must NOT be the default id parity
    # (that would train on one class only): train = id % 4 in {0, 1}.
    split = F.pmod(F.col("doc_id"), F.lit(4)) < 2
    t0 = time.time()
    a = sorted(map(tuple, naive_bayes_confusion(docs, train_col=split).collect()))
    wall = time.time() - t0
    b = sorted(
        map(
            tuple,
            naive_bayes_confusion(
                docs.repartition(41), train_col=split
            ).collect(),
        )
    )
    perfect = a == [("alpha", "alpha", 250_000), ("beta", "beta", 250_000)]
    return {
        "rows": n,
        "scale_vs_sf0.1": "2000x documents (8-token docs)",
        "sec": round(wall, 2),
        "confusion": a,
        "partition_invariant": a == b,
        "ok": perfect and a == b,
    }




def case_hll_sketch_16m(spark):
    """Portable HLL over 16M events / 200k distinct users (160x sf0.1):
    one corpus pass builds the 16384-register sketch; the estimate must
    land within HLL's error envelope of the exact distinct count and be
    BIT-identical under a prime repartition (register max is
    order-free). State/verification artifact is the register relation,
    never the corpus."""
    from covid_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = _events_16m(spark)
    exact = ev.select("user_id").distinct().count()
    # p=14 (16384 registers, SE 0.8%) is the realistic production p for
    # ~200k cardinalities; the 5% gate is >6 standard errors. (p=12 on
    # this exact id set draws +5.2% — a 3-sigma md5 artifact, verified
    # unbiased across other id sets in tests.)
    t0 = time.time()
    est = hll_estimate(
        hll_registers(ev, "user_id", [], p=14), [], p=14
    ).collect()[0]["distinct_est"]
    wall = time.time() - t0
    est2 = hll_estimate(
        hll_registers(ev.repartition(53), "user_id", [], p=14), [], p=14
    ).collect()[0]["distinct_est"]
    rel = abs(est - exact) / exact
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "exact_distinct": exact,
        "estimate": est,
        "rel_err": round(rel, 4),
        "partition_invariant": est == est2,
        "ok": rel < 0.05 and est == est2,
    }


def case_theta_overlap_16m(spark):
    """KMV/theta pairwise distinct-user overlap over 16M events: all
    event-type pairs answered from one corpus pass + sketch-row work;
    estimates within the k=4096 error envelope of the exact overlaps
    (computed once via a per-user type rollup), bit-identical under a
    prime repartition."""
    from covid_data_pipeline_spark.operators.sketches import (
        bottomk_hashes,
        theta_pair_overlap,
    )

    ev = _events_16m(spark)
    # exact pairwise overlap via one per-user rollup (200k rows)
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.selectExpr("user_id", "event_type AS ta")
    b = ut.selectExpr("user_id", "event_type AS tb")
    exact = {
        (r["ta"], r["tb"]): r["n"]
        for r in a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    t0 = time.time()
    sk = bottomk_hashes(ev, "user_id", ["event_type"], k=4096)
    got = {
        (r["group_a"], r["group_b"]): r["overlap_est"]
        for r in theta_pair_overlap(sk, "event_type", k=4096).collect()
    }
    wall = time.time() - t0
    got2 = {
        (r["group_a"], r["group_b"]): r["overlap_est"]
        for r in theta_pair_overlap(
            bottomk_hashes(
                ev.repartition(53), "user_id", ["event_type"], k=4096
            ),
            "event_type",
            k=4096,
        ).collect()
    }
    rels = [
        abs(got[k] - exact[k]) / exact[k] for k in exact if k in got
    ]
    worst = max(rels) if rels else 1.0
    return {
        "rows": 16_000_000,
        "pairs": len(exact),
        "sec": round(wall, 2),
        "worst_rel_err": round(worst, 4),
        "partition_invariant": got == got2,
        "ok": len(got) == len(exact) and worst < 0.10 and got == got2,
    }


def case_geo_radius_1m(spark):
    """1M md5-scattered points (5.2-degree box) through the
    cell-bucketed radius self-join (~1.45M pairs at r=5000 udeg):
    exactly-once pair emission is partition-invariant (count + exact
    BIGINT sum of dist2), and 100 planted pairs at known distance-3
    offsets are all recovered."""
    from covid_data_pipeline_spark.operators.geo import radius_pairs

    box = 5_200_001
    base = spark.range(0, 1_000_000).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.concat(F.lit("x:"), F.col("id"))), F.lit(box)).alias("x"),
        F.pmod(F.xxhash64(F.concat(F.lit("y:"), F.col("id"))), F.lit(box)).alias("y"),
    )
    planted = spark.range(0, 100).select(
        (F.col("id") + 3_000_000).alias("id"),
        (F.col("id") * 50_000 + 10).alias("x"),
        F.lit(7_777).alias("y"),
    ).unionByName(
        spark.range(0, 100).select(
            (F.col("id") + 3_500_000).alias("id"),
            (F.col("id") * 50_000 + 10).alias("x"),
            F.lit(7_780).alias("y"),
        )
    )
    pts = base.unionByName(planted)
    t0 = time.time()
    pairs = radius_pairs(pts, "id", "x", "y", radius=5_000)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist2").alias("sd")
    ).collect()[0]
    wall = time.time() - t0
    agg2 = radius_pairs(pts.repartition(97), "id", "x", "y", radius=5_000).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist2").alias("sd")
    ).collect()[0]
    invariant = (agg["n"], agg["sd"]) == (agg2["n"], agg2["sd"])
    found = pairs.where(
        (F.col("id_a") >= 3_000_000)
        & (F.col("id_b") >= 3_500_000)
        & (F.col("id_b") - F.col("id_a") == 500_000)
    ).count()
    return {
        "rows": 1_000_200,
        "pairs": int(agg["n"]),
        "scale_vs_sf0.1": "67x customers",
        "sec": round(wall, 2),
        "invariant": invariant,
        "planted_found": found,
        "ok": invariant and found == 100 and agg["n"] > 1_000_000,
    }


def case_interval_overlap_16m(spark):
    """16M event activity intervals (30-min pad) merged per user
    (~15.86M islands — verified against the gap-count identity
    |islands| = |users| + |gaps > pad|), then overlap-joined against
    ~3.1k merged error windows; engine pairs equal a brute-force
    broadcast inequality join on a 2k-user subset, and the full join is
    partition-invariant on (count, exact overlap sum)."""
    from covid_data_pipeline_spark.operators.intervals import (
        interval_overlap_join,
        merge_intervals,
    )
    from pyspark.sql.window import Window as W

    ev = _events_16m(spark)
    s = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    act_iv = ev.select(
        "user_id", s.alias("s"), (s + F.lit(1_800_000_000)).alias("e")
    )
    err_iv = ev.where(
        (F.col("event_type") == "error") & (F.col("event_id") % 997 == 0)
    ).select(
        F.lit(1).alias("g"),
        (s - F.lit(30_000_000)).alias("es"),
        (s + F.lit(30_000_000)).alias("ee"),
    )
    t0 = time.time()
    act = merge_intervals(act_iv, ["user_id"], "s", "e").select(
        "user_id", "island_no",
        F.col("s").alias("a_s"), F.col("e").alias("a_e"),
    ).localCheckpoint()
    err = merge_intervals(err_iv, ["g"], "es", "ee", island_col="err_no").select(
        "err_no", F.col("es").alias("b_s"), F.col("ee").alias("b_e")
    ).localCheckpoint()
    n_act = act.count()
    ov = interval_overlap_join(
        act, err, "a_s", "a_e", "b_s", "b_e", cell_size=3_600_000_000
    )
    agg = ov.agg(
        F.count(F.lit(1)).alias("n"), F.sum("overlap").alias("so")
    ).collect()[0]
    wall = time.time() - t0
    # islands identity: fixed pad over point events
    w = W.partitionBy("user_id").orderBy("s")
    gaps = act_iv.withColumn("prev", F.lag("s").over(w)).where(
        F.col("prev").isNotNull() & (F.col("s") - F.col("prev") > 1_800_000_000)
    ).count()
    users = act_iv.select("user_id").distinct().count()
    identity_ok = n_act == users + gaps
    agg2 = interval_overlap_join(
        act.repartition(97), err, "a_s", "a_e", "b_s", "b_e",
        cell_size=3_600_000_000,
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("overlap").alias("so")).collect()[0]
    invariant = (agg["n"], agg["so"]) == (agg2["n"], agg2["so"])
    sub = act.where(F.col("user_id") < 2000)
    brute = (
        sub.crossJoin(F.broadcast(err))
        .where((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .select("user_id", "island_no", "err_no",
                (F.least("a_e", "b_e") - F.greatest("a_s", "b_s")).alias("overlap"))
    )
    eng = ov.where(F.col("user_id") < 2000).select(
        "user_id", "island_no", "err_no", "overlap"
    )
    brute_rows = sorted(map(tuple, brute.collect()))
    eng_rows = sorted(map(tuple, eng.collect()))
    return {
        "rows": 16_000_000,
        "islands": n_act,
        "overlap_pairs": int(agg["n"]),
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "identity_ok": identity_ok,
        "invariant": invariant,
        "brute_equal": brute_rows == eng_rows,
        "ok": identity_ok and invariant and brute_rows == eng_rows
        and len(brute_rows) > 10_000,
    }


def case_bloom_16m_probes(spark):
    """16M probe keys through the portable bloom prefilter (1000
    members, 16,128 bits, k=3): zero false negatives, and the measured
    false-positive rate sits on the analytic fill^k curve
    (1-e^(-3000/16128))^3 ~ 0.48% — the filter is a pure codegen map
    over the probe scan (no join, no shuffle)."""
    from covid_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
    )

    members = spark.range(0, 1000).select((F.col("id") * 37 + 5).alias("k"))
    t0 = time.time()
    words = bloom_build(members, "k", m_words=256, k=3)
    probes = spark.range(0, 16_000_000).select(F.col("id").alias("k"))
    passed = probes.where(bloom_contains(F.col("k"), words, k=3)).count()
    wall = time.time() - t0
    missed = members.where(~bloom_contains(F.col("k"), words, k=3)).count()
    fp_rate = (passed - 1000) / 16_000_000
    theory = (1 - 2.718281828459045 ** (-3000 / 16128)) ** 3
    return {
        "rows": 16_000_000,
        "passed": int(passed),
        "fp_rate_pct": round(fp_rate * 100, 4),
        "theory_pct": round(theory * 100, 4),
        "sec": round(wall, 2),
        "ok": missed == 0 and abs(fp_rate - theory) < 0.002,
    }


def case_pca_power_100k(spark):
    """100k x 64 synthetic embeddings through the exact-lattice PCA:
    one Arrow X^T X corpus pass + driver-side big-int power iteration;
    the BIGINT projection sum is partition-invariant (exact integers
    end to end)."""
    from covid_data_pipeline_spark.operators.clustering import (
        pca_power_scores,
    )

    base = spark.range(0, 100_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: (
                F.pmod(
                    F.xxhash64(
                        F.concat(
                            F.lit("e:"),
                            F.col("id").cast("string"),
                            F.lit(":"),
                            d.cast("string"),
                        )
                    ),
                    F.lit(2001),
                )
                - 1000
            ).cast("float")
            / 1000.0,
        ).alias("embedding"),
    )
    w = [6, 3] + [1] * 62
    t0 = time.time()
    agg = (
        pca_power_scores(base, dim=64, iters=6, dim_weights=w)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pc1_score").alias("s"))
        .collect()[0]
    )
    wall = time.time() - t0
    agg2 = (
        pca_power_scores(
            base.repartition(97), dim=64, iters=6, dim_weights=w
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pc1_score").alias("s"))
        .collect()[0]
    )
    invariant = (agg["n"], agg["s"]) == (agg2["n"], agg2["s"])
    return {
        "rows": 100_000,
        "scale_vs_sf0.1": "50x embeddings",
        "sec": round(wall, 2),
        "invariant": invariant,
        "ok": invariant and agg["n"] == 100_000 and agg["s"] != 0,
    }


def case_global_merge_16m_sparse(spark):
    """VERDICT r7 ask #7: 16M fully-sparse intervals (nothing merges,
    |islands| == |input|) through merge_intervals_global — the exact
    regime where the r7 partition-less island rank would have funneled
    16M rows through one task. The start lattice makes the expected
    numbering closed-form (island_no == start/1000 + 1, checked
    exactly over the whole relation); the executed plan must show
    every row_number window partitioned."""
    from covid_data_pipeline_spark.operators.intervals import (
        merge_intervals_global,
    )

    n = 16_000_000
    iv = spark.range(0, n, numPartitions=64).select(
        (F.col("id") * 1000).alias("s"),
        (F.col("id") * 1000 + 10).alias("e"),
    )
    t0 = time.time()
    out = merge_intervals_global(iv, "s", "e", cell_size=100_000)
    bad = out.where(
        F.col("island_no") != (F.col("s") / 1000 + 1).cast("bigint")
    ).count()
    n_out = out.count()
    wall = time.time() - t0
    plan = out._jdf.queryExecution().executedPlan().toString()
    rn_partitioned = all(
        line.count("], [") >= 2
        for line in plan.splitlines()
        if "row_number" in line and "Window" in line
    )
    agg2 = merge_intervals_global(
        iv.repartition(97), "s", "e", cell_size=100_000
    ).where(
        F.col("island_no") != (F.col("s") / 1000 + 1).cast("bigint")
    ).count()
    return {
        "rows": n,
        "islands": n_out,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "numbering_exact": bad == 0,
        "invariant": agg2 == 0,
        "rank_partitioned": rn_partitioned,
        "ok": bad == 0 and agg2 == 0 and n_out == n and rn_partitioned,
    }


def case_geo_lattice_1m_moran_geary(spark):
    """VERDICT r7 ask #7: Moran's I / Geary's C on a 1.05M-cell queen
    lattice (1024x1024). Hashed values must read as spatial noise
    (I ~ 0, C ~ 1); a planted x-gradient lattice must read as strong
    positive autocorrelation (I > 0.9, C < 0.1); both statistics are
    exact-integer until one division, so a repartition must reproduce
    them bit-for-bit."""
    from covid_data_pipeline_spark.operators.geo import gearys_c, morans_i

    side = 1024
    lattice = spark.range(0, side * side, numPartitions=64).select(
        (F.col("id") % side).alias("cell_x"),
        (F.col("id") / side).cast("bigint").alias("cell_y"),
        F.pmod(F.xxhash64(F.concat(F.lit("v:"), F.col("id"))), F.lit(1000))
        .alias("n_points"),
    )
    grad = spark.range(0, side * side, numPartitions=64).select(
        (F.col("id") % side).alias("cell_x"),
        (F.col("id") / side).cast("bigint").alias("cell_y"),
        (F.col("id") % side).alias("n_points"),
    )
    t0 = time.time()
    mi = morans_i(lattice).collect()[0]
    gc = gearys_c(lattice).collect()[0]
    mi_g = morans_i(grad).collect()[0]
    gc_g = gearys_c(grad).collect()[0]
    wall = time.time() - t0
    mi2 = morans_i(lattice.repartition(97)).collect()[0]
    invariant = (
        mi["morans_i"] == mi2["morans_i"] and mi["w_pairs"] == mi2["w_pairs"]
    )
    noise_ok = abs(mi["morans_i"]) < 0.01 and abs(gc["gearys_c"] - 1.0) < 0.01
    grad_ok = mi_g["morans_i"] > 0.9 and gc_g["gearys_c"] < 0.1
    return {
        "cells": side * side,
        "w_pairs": int(mi["w_pairs"]),
        "morans_noise": mi["morans_i"],
        "gearys_noise": gc["gearys_c"],
        "morans_gradient": mi_g["morans_i"],
        "gearys_gradient": gc_g["gearys_c"],
        "sec": round(wall, 2),
        "invariant": invariant,
        "ok": invariant and noise_ok and grad_ok
        and mi["n_cells"] == side * side,
    }


def case_hot_cell_salt(spark):
    """VERDICT r7 ask #5: the documented pathological single-hot-cell
    regime, now executable. Interval side: 40k short intervals inside
    ONE oversized cell (1.6e9 candidate pairs, ~0 true overlaps — the
    quadratic-candidates case AQE cannot split because it is one map
    key) probed with salt=32; result must equal the unsalted join
    (checked on a 4k-row subset) and the salted full run must beat the
    unsalted full run. Geo side: 10k co-located points (90% of the
    corpus) in one radius cell, salted vs unsalted pair counts equal,
    and salt on UNIFORM data must not cost 2x."""
    from covid_data_pipeline_spark.operators.geo import radius_pairs
    from covid_data_pipeline_spark.operators.intervals import (
        interval_overlap_join,
    )

    # --- intervals: quadratic candidates, sparse output ---
    # Broadcast is what saves a SMALL hot side (a broadcast hash join
    # probes in parallel on the streamed side); the 100 TB pathology is
    # a hot key on two SHUFFLE-sized relations — force that regime by
    # disabling auto-broadcast for the skewed measurements.
    hot_a = spark.range(0, 40_000).select(
        F.col("id").alias("aid"),
        (F.col("id") * 20).alias("a_s"),
        (F.col("id") * 20 + 5).alias("a_e"),
    )
    hot_b = spark.range(0, 40_000).select(
        F.col("id").alias("bid"),
        (F.col("id") * 20 + 4).alias("b_s"),
        (F.col("id") * 20 + 9).alias("b_e"),
    )
    cell = 1_000_000_000  # every interval in cell 0
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        n_salted = interval_overlap_join(
            hot_a, hot_b, "a_s", "a_e", "b_s", "b_e", cell_size=cell, salt=32
        ).count()
        t_salted = time.time() - t0
        t0 = time.time()
        n_plain = interval_overlap_join(
            hot_a, hot_b, "a_s", "a_e", "b_s", "b_e", cell_size=cell
        ).count()
        t_plain = time.time() - t0
        sub_salt = interval_overlap_join(
            hot_a.where(F.col("aid") < 4000), hot_b.where(F.col("bid") < 4000),
            "a_s", "a_e", "b_s", "b_e", cell_size=cell, salt=8,
        )
        sub_plain = interval_overlap_join(
            hot_a.where(F.col("aid") < 4000), hot_b.where(F.col("bid") < 4000),
            "a_s", "a_e", "b_s", "b_e", cell_size=cell,
        )
        sub_equal = sorted(map(tuple, sub_salt.collect())) == sorted(
            map(tuple, sub_plain.collect())
        )

        # --- geo: 90% of points in one radius cell ---
        hot = spark.range(0, 10_000).select(
            F.col("id"),
            (F.col("id") % 100 * 10).alias("x"),
            (F.col("id") / 100).cast("bigint").alias("y"),
        )
        cold = spark.range(10_000, 11_112).select(
            F.col("id"),
            (F.col("id") * 7919 % 5_000_000).alias("x"),
            (F.col("id") * 104_729 % 5_000_000).alias("y"),
        )
        pts = hot.unionByName(cold)
        t0 = time.time()
        g_salted = radius_pairs(
            pts, "id", "x", "y", radius=1000, salt=32
        ).count()
        tg_salted = time.time() - t0
        t0 = time.time()
        g_plain = radius_pairs(pts, "id", "x", "y", radius=1000).count()
        tg_plain = time.time() - t0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)

    # --- uniform data: salt must not cost 2x ---
    uni = spark.range(0, 500_000).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.concat(F.lit("x:"), F.col("id"))), F.lit(5_000_001)).alias("x"),
        F.pmod(F.xxhash64(F.concat(F.lit("y:"), F.col("id"))), F.lit(5_000_001)).alias("y"),
    ).localCheckpoint()
    t0 = time.time()
    u_plain = radius_pairs(uni, "id", "x", "y", radius=5000).count()
    tu_plain = time.time() - t0
    t0 = time.time()
    u_salted = radius_pairs(uni, "id", "x", "y", radius=5000, salt=4).count()
    tu_salted = time.time() - t0
    uniform_ok = u_plain == u_salted and tu_salted <= 2 * max(tu_plain, 0.5)
    return {
        "interval_candidates": 40_000 * 40_000,
        "interval_pairs": n_salted,
        "interval_sec_salted": round(t_salted, 2),
        "interval_sec_plain": round(t_plain, 2),
        "geo_pairs": g_salted,
        "geo_sec_salted": round(tg_salted, 2),
        "geo_sec_plain": round(tg_plain, 2),
        "uniform_pairs": u_plain,
        "uniform_sec_plain": round(tu_plain, 2),
        "uniform_sec_salted": round(tu_salted, 2),
        "sec": round(t_salted + tg_salted + tu_salted, 2),
        "sub_equal": sub_equal,
        "counts_equal": n_salted == n_plain and g_salted == g_plain,
        "salt_speedup_intervals": round(t_plain / max(t_salted, 1e-9), 2),
        "uniform_no_regression": uniform_ok,
        "ok": sub_equal and n_salted == n_plain and n_salted == 40_000
        and g_salted == g_plain and uniform_ok and t_salted < t_plain,
    }


def case_snm_1m(spark):
    """1M synthetic texts through sorted-neighborhood blocking
    (round-8 family): distributed rank + 1-D neighbor-bucket join at
    60x the query's corpus. 1000 planted exact-duplicate texts must
    land at adjacent ranks (identical sort key, id tiebreak) and be
    recovered as candidates; the candidate count is
    partition-invariant."""
    from covid_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
        sortkey_prefix7,
    )

    base = spark.range(0, 1_000_000, numPartitions=64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("t:"), F.col("id"))))),
            F.lit(" "),
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("u:"), F.col("id"))))),
        ).alias("text"),
    )
    planted = spark.range(0, 1_000).select(
        (F.col("id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("t:"), F.col("id"))))),
            F.lit(" "),
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("u:"), F.col("id"))))),
        ).alias("text"),
    )
    docs = base.unionByName(planted)
    keyed = docs.withColumn("_k", sortkey_prefix7("text")).localCheckpoint()
    t0 = time.time()
    cand = sorted_neighborhood_pairs(keyed, "doc_id", "_k", window=10)
    n = cand.count()
    found = cand.where(
        (F.col("id_b") - F.col("id_a") == 2_000_000)
        | (F.col("id_a") - F.col("id_b") == 2_000_000)
    ).count()
    wall = time.time() - t0
    n2 = sorted_neighborhood_pairs(
        keyed.repartition(97), "doc_id", "_k", window=10
    ).count()
    return {
        "rows": 1_001_000,
        "candidates": n,
        "scale_vs_sf0.1": "200x documents",
        "sec": round(wall, 2),
        "planted_found": found,
        "invariant": n == n2,
        "ok": n == n2 and found >= 990 and n >= 9_000_000,
    }


def case_t_closeness_10m(spark):
    """Round-8 privacy family at 1000x the query's class count: 10M
    rows x 10k equivalence classes x 16 ordered sensitive buckets.
    Classes 0-9 are planted fully-degenerate (all mass in the last
    bucket -> EMD ~0.5); every other class draws near-uniform buckets
    (hash), so with t = 1/5 EXACTLY the 10 planted classes must fail.
    Flag set is partition-invariant."""
    from covid_data_pipeline_spark.operators.privacy import t_closeness

    df = spark.range(0, 10_000_000, numPartitions=64).select(
        (F.col("id") % 10_000).alias("cls"),
        F.when(F.col("id") % 10_000 < 10, F.lit(15))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(16)))
        .alias("bucket"),
    )
    t0 = time.time()
    out = t_closeness(df, ["cls"], "bucket", t_num=1, t_den=5)
    bad = sorted(
        r["cls"] for r in out.where(~F.col("meets_t")).collect()
    )
    wall = time.time() - t0
    n_classes = out.count()
    bad2 = sorted(
        r["cls"]
        for r in t_closeness(
            df.repartition(97), ["cls"], "bucket", t_num=1, t_den=5
        ).where(~F.col("meets_t")).collect()
    )
    return {
        "rows": 10_000_000,
        "classes": n_classes,
        "scale_vs_sf0.1": "1000x classes, 80x rows",
        "sec": round(wall, 2),
        "flagged": len(bad),
        "invariant": bad == bad2,
        "ok": bad == list(range(10)) and bad == bad2
        and n_classes == 10_000,
    }


def case_fd_profile_10m(spark):
    """Round-8 FD audit at 10M rows / 1M lhs groups: a -> b holds by
    construction (b is a pure function of a); a -> c is violated in
    EXACTLY the 5000 planted groups, each with one minority row, so
    the exact g3 repair cost is 5000. Counts are partition-invariant."""
    from covid_data_pipeline_spark.operators.quality import fd_profile

    df = spark.range(0, 10_000_000, numPartitions=64).select(
        (F.col("id") % 1_000_000).alias("a"),
        ((F.col("id") % 1_000_000) * 31 % 997).alias("b"),
        (
            (F.col("id") % 1_000_000) * 31 % 997
            + F.when(
                (F.col("id") % 1_000_000 < 5_000)
                & (F.col("id") >= 9_000_000),
                1,
            ).otherwise(0)
        ).alias("c"),
    )
    fds = [(("a",), "b"), (("a",), "c")]
    t0 = time.time()
    got = {r["fd"]: r.asDict() for r in fd_profile(df, fds).collect()}
    wall = time.time() - t0
    got2 = {
        r["fd"]: r.asDict()
        for r in fd_profile(df.repartition(97), fds).collect()
    }
    ab, ac = got["a -> b"], got["a -> c"]
    return {
        "rows": 10_000_000,
        "lhs_groups": ab["n_groups"],
        "scale_vs_sf0.1": "80x rows",
        "sec": round(wall, 2),
        "g3_repair_rows": ac["violating_rows"],
        "invariant": got == got2,
        "ok": got == got2
        and ab["holds"] and ab["violating_rows"] == 0
        and ab["n_groups"] == 1_000_000
        and not ac["holds"]
        and ac["violating_groups"] == 5_000
        and ac["violating_rows"] == 5_000,
    }


def case_woe_iv_10m(spark):
    """Round-8 WOE/IV at 10M rows x 1000 category values with counts
    in CLOSED FORM: value c sees exactly 100*(30 + c%40) good rows of
    10000 (the label cycles through a size-100 residue wheel), so
    every per-value count, each micro-nat WOE, and the summed IV are
    recomputed exactly in Python. Model is partition-invariant."""
    import math

    from covid_data_pipeline_spark.operators.features import woe_encoding

    df = spark.range(0, 10_000_000, numPartitions=64).select(
        (F.col("id") % 1_000).alias("cat"),
        (
            (F.col("id") / 1_000).cast("bigint") % 100
            < 30 + (F.col("id") % 1_000) % 40
        ).alias("y"),
    )
    t0 = time.time()
    rows = {r["cat"]: r.asDict() for r in woe_encoding(df, "cat", "y").collect()}
    wall = time.time() - t0
    g = sum(r["n_good"] for r in rows.values())
    b = sum(r["n_bad"] for r in rows.values())
    exact = True
    iv = 0.0
    for c, r in rows.items():
        ng = 100 * (30 + c % 40)
        nb = 10_000 - ng
        wm = round(math.log((ng + 1) * (b + 2) / ((nb + 1) * (g + 2))) * 1e6)
        if (r["n_good"], r["n_bad"], r["woe_micro"]) != (ng, nb, wm):
            exact = False
        iv += r["iv_term"]
    rows2 = {
        r["cat"]: (r["n_good"], r["n_bad"], r["woe_micro"], r["iv_term"])
        for r in woe_encoding(df.repartition(97), "cat", "y").collect()
    }
    invariant = rows2 == {
        c: (r["n_good"], r["n_bad"], r["woe_micro"], r["iv_term"])
        for c, r in rows.items()
    }
    return {
        "rows": 10_000_000,
        "values": len(rows),
        "scale_vs_sf0.1": "80x rows",
        "sec": round(wall, 2),
        "iv": round(iv, 4),
        "invariant": invariant,
        "ok": exact and invariant and len(rows) == 1_000 and iv > 0,
    }


def case_entity_resolution_1m(spark):
    """Round-8 linkage stack END-TO-END at 1M records (SNM blocking
    alone was proven at 1M in r8): sorted-neighborhood blocking ->
    Fellegi-Sunter scoring on (length, prefix, Jaccard) agreements ->
    accept score > 0 -> connected components. 1000 planted
    exact-duplicate records must each merge with their source and
    nothing else may merge, so the entity count is EXACTLY
    1,001,000 - 1,000; invariant under repartition."""
    from covid_data_pipeline_spark.functions.text import word_shingles
    from covid_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
        sortkey_prefix7,
    )
    from covid_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from covid_data_pipeline_spark.operators.linkage import (
        fs_linkage_scores,
    )

    def mk_text(idc):
        return F.concat(
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("t:"), idc)))),
            F.lit(" "),
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("u:"), idc)))),
            F.lit(" "),
            F.lower(F.hex(F.xxhash64(F.concat(F.lit("v:"), idc)))),
        )

    base = spark.range(0, 1_000_000, numPartitions=64).select(
        F.col("id").alias("doc_id"), mk_text(F.col("id")).alias("text")
    )
    planted = spark.range(0, 1_000).select(
        (F.col("id") + 2_000_000).alias("doc_id"),
        mk_text(F.col("id")).alias("text"),
    )
    docs = base.unionByName(planted).localCheckpoint()

    def resolve(d):
        keyed = d.withColumn("_k", sortkey_prefix7("text"))
        cand = sorted_neighborhood_pairs(keyed, "doc_id", "_k", window=10)
        attr = d.select(
            "doc_id",
            F.length("text").alias("_ln"),
            F.substring("text", 1, 5).alias("_pf"),
            word_shingles(F.col("text"), 2).alias("_sh"),
        )
        a = attr.select(
            F.col("doc_id").alias("id_a"), F.col("_ln").alias("_ln_a"),
            F.col("_pf").alias("_pf_a"), F.col("_sh").alias("_sh_a"),
        )
        b = attr.select(
            F.col("doc_id").alias("id_b"), F.col("_ln").alias("_ln_b"),
            F.col("_pf").alias("_pf_b"), F.col("_sh").alias("_sh_b"),
        )
        inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
        union = F.size(F.array_union("_sh_a", "_sh_b"))
        pairs = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                (F.abs(F.col("_ln_a") - F.col("_ln_b")) <= 3).alias("f_len"),
                (F.col("_pf_a") == F.col("_pf_b")).alias("f_prefix"),
                (inter * 2 >= union).alias("f_jac"),
                (
                    F.abs(F.col("id_a") - F.col("id_b")) == 2_000_000
                ).alias("is_match"),
            )
        )
        edges = (
            fs_linkage_scores(
                pairs, "is_match", ["f_len", "f_prefix", "f_jac"]
            )
            .where(F.col("score_micro") > 0)
            .select("id_a", "id_b")
        )
        comps = connected_components(
            edges, src="id_a", dst="id_b", nodes=d.select("doc_id")
        )
        merged = comps.groupBy("component").agg(
            F.count(F.lit(1)).alias("_sz")
        )
        n_entities = merged.count()
        planted_merged = comps.alias("x").join(
            comps.selectExpr(
                "node - 2000000 AS node", "component AS comp_src"
            ).where(F.col("node") >= 0).alias("y"),
            "node",
        ).where(F.col("component") == F.col("comp_src")).count()
        return n_entities, planted_merged

    t0 = time.time()
    n_entities, planted_merged = resolve(docs)
    wall = time.time() - t0
    n2, _ = resolve(docs.repartition(97))
    return {
        "rows": 1_001_000,
        "scale_vs_sf0.1": "6700x the query corpus (150 docs)",
        "sec": round(wall, 2),
        "entities": n_entities,
        "planted_merged": planted_merged,
        "invariant": n_entities == n2,
        "ok": planted_merged == 1_000
        and n_entities == 1_000_000
        and n_entities == n2,
    }


def case_bh_fdr_100k(spark):
    """Round-9 multiple-testing at 100k hypotheses: planted signal =
    the 1000 hypotheses with p_micro <= 1000 (vs ~uniform null
    p-values elsewhere); at q=0.05 BH must reject EXACTLY a
    Python-computable step-up set, identically under repartition. The
    distributed rank path (value_order_rank) carries the whole
    battery."""
    from covid_data_pipeline_spark.operators.experiment import (
        benjamini_hochberg,
    )

    m = 100_000
    # planted signal: 1000 hypotheses at p = 0 (at m = 1e5 and q=.05
    # the rank-r threshold is p_micro <= r/2, so any "small" nonzero
    # plant would need p_micro < 500 anyway); null: ~uniform p_micro
    df = spark.range(0, m, numPartitions=32).select(
        F.concat(F.lit("h"), F.col("id")).alias("hyp"),
        F.when(F.col("id") < 1_000, F.lit(0))
        .otherwise((F.xxhash64("id") % 1_000_000 + 1_000_000) % 1_000_000 + 1)
        .cast("bigint")
        .alias("p_micro"),
    ).localCheckpoint()
    t0 = time.time()
    out = benjamini_hochberg(df, "p_micro", "hyp", 5, 100)
    rejected = {r["hyp"] for r in out.where("reject").collect()}
    wall = time.time() - t0
    # Python reference on the collected battery
    ps = sorted(
        (r["p_micro"], r["hyp"]) for r in df.collect()
    )
    kstar = 0
    for i, (pm, _) in enumerate(ps, start=1):
        if pm * m * 100 <= i * 5 * 1_000_000:
            kstar = i
    want = {h for _, h in ps[:kstar]}
    rejected2 = {
        r["hyp"]
        for r in benjamini_hochberg(
            df.repartition(97), "p_micro", "hyp", 5, 100
        ).where("reject").collect()
    }
    return {
        "hypotheses": m,
        "scale_vs_sf0.1": "2000x the query battery (50)",
        "sec": round(wall, 2),
        "rejected": len(rejected),
        "invariant": rejected == rejected2,
        "ok": rejected == want and rejected == rejected2
        and len(rejected) >= 1_000,
    }


def case_lof_1m_edges(spark):
    """Round-9 LOF at 1M nodes through the SCALE path (lof_from_edges
    consuming a constructed kNN edge relation — keyed shuffles over
    |V|*k edges, no brute-force pass): points sit on an integer line
    at spacing 10 with k=2 line-neighbor edges; 1000 planted outliers
    sit mid-gap but far off-line so their reach distances are ~25x a
    line point's. Every planted outlier must exceed LOF 3; line
    points (away from the planted columns) stay ~1."""
    from covid_data_pipeline_spark.operators.similarity import (
        lof_from_edges,
    )

    n = 1_000_000
    # line nodes 0..n-1 at x = 10*i: kNN edges to i-1, i+1 (d2 = 100)
    ids = spark.range(0, n, numPartitions=64)
    line_edges = (
        ids.select(F.col("id").alias("src"),
                   (F.col("id") + 1).alias("nbr"),
                   F.lit(100).cast("long").alias("d2"))
        .where(F.col("nbr") < n)
        .unionAll(
            ids.select(F.col("id").alias("src"),
                       (F.col("id") - 1).alias("nbr"),
                       F.lit(100).cast("long").alias("d2"))
            .where(F.col("nbr") >= 0)
        )
    )
    # outlier o_j (id n+j, j < 1000) hovers off-line above x = 10*(1000*j+500):
    # its 2 nearest are that line point (d2 = 2500^2... use planted d2)
    out_ids = spark.range(0, 1_000).select(
        (F.col("id") + n).alias("oid"),
        (F.col("id") * 1_000 + 500).alias("anchor"),
    )
    out_edges = (
        out_ids.select(F.col("oid").alias("src"),
                       F.col("anchor").alias("nbr"),
                       F.lit(6_250_000).cast("long").alias("d2"))
        .unionAll(
            out_ids.select(F.col("oid").alias("src"),
                           (F.col("anchor") + 1).alias("nbr"),
                           F.lit(6_250_100).cast("long").alias("d2"))
        )
    )
    edges = line_edges.unionAll(out_edges).localCheckpoint()
    t0 = time.time()
    scores = lof_from_edges(edges, k=2)
    outlier_lofs = scores.where(F.col("vec_id") >= n)
    n_high = outlier_lofs.where(F.col("lof") > 3.0).count()
    wall = time.time() - t0
    # line points far from any planted column must stay near 1
    clean_max = (
        scores.where(
            (F.col("vec_id") < n) & (F.col("vec_id") % 1_000 < 400)
        ).agg(F.max("lof")).collect()[0][0]
    )
    n2 = (
        lof_from_edges(edges.repartition(97), k=2)
        .where((F.col("vec_id") >= n) & (F.col("lof") > 3.0)).count()
    )
    return {
        "nodes": n + 1_000,
        "edges": 2 * n + 2_000 - 2,
        "scale_vs_sf0.1": "2000x vectors (edge-core path)",
        "sec": round(wall, 2),
        "outliers_flagged": n_high,
        "clean_max_lof": float(clean_max),
        "invariant": n_high == n2,
        "ok": n_high == 1_000 and n_high == n2 and clean_max <= 1.5,
    }


def case_hilbert_16m(spark):
    """Round-9 Hilbert fold at 16M points: pure projection throughput
    (no shuffle until the audit rollup), exact match to the Python
    xy2d reference on a 1k sample, and bucket counts partition-
    invariant."""
    from covid_data_pipeline_spark.operators.geo import hilbert_key

    df = spark.range(0, 16_000_000, numPartitions=64).select(
        ((F.xxhash64("id") % 262_144 + 262_144) % 262_144).alias("x"),
        ((F.xxhash64("id", F.lit(7)) % 262_144 + 262_144) % 262_144
         ).alias("y"),
    )
    t0 = time.time()
    keyed = df.withColumn("h", hilbert_key("x", "y", bits=18))
    buckets = keyed.groupBy(F.shiftright("h", 30).alias("b")).count()
    n_buckets = buckets.count()
    wall = time.time() - t0

    def rot(n, x, y, rx, ry):
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        return x, y

    def xy2d(order, x, y):
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x, y = rot(s, x, y, rx, ry)
            s //= 2
        return d

    sample = keyed.where(F.col("x") % 16_000 == 0).limit(1_000).collect()
    exact = all(r["h"] == xy2d(18, r["x"], r["y"]) for r in sample)
    b2 = (
        df.repartition(97)
        .withColumn("h", hilbert_key("x", "y", bits=18))
        .groupBy(F.shiftright("h", 30).alias("b")).count().count()
    )
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "10000x the audit's points",
        "sec": round(wall, 2),
        "buckets": n_buckets,
        "sample_exact": exact,
        "invariant": n_buckets == b2,
        "ok": exact and n_buckets == 64 and n_buckets == b2
        and len(sample) >= 100,
    }


def case_corr_16m(spark):
    """Round-9 correlation moments at 16M rows with a CLOSED-FORM
    answer: (x, y, z) cycle through a deterministic period-1000
    pattern, so the exact moments are 16000x the one-period moments
    and the expected r is computable in Python to the same 6dp."""
    from covid_data_pipeline_spark.operators.quality import corr_matrix

    df = spark.range(0, 16_000_000, numPartitions=64).select(
        (F.col("id") % 1_000).cast("double").alias("x"),
        (((F.col("id") % 1_000) * 7) % 1_000).cast("double").alias("y"),
        ((F.col("id") % 1_000) * 3 + 5).cast("double").alias("z"),
    )
    t0 = time.time()
    got = {(r["col_x"], r["col_y"]): r["r"]
           for r in corr_matrix(df, ["x", "y", "z"], quant=1.0).collect()}
    wall = time.time() - t0
    import math

    def ref_r(xs, ys):
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(a * a for a in xs)
        syy = sum(a * a for a in ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        return round((n * sxy - sx * sy)
                     / (math.sqrt(n * sxx - sx * sx)
                        * math.sqrt(n * syy - sy * sy)), 6)

    xs = [float(i % 1000) for i in range(1000)]
    ys = [float((i % 1000) * 7 % 1000) for i in range(1000)]
    zs = [float((i % 1000) * 3 + 5) for i in range(1000)]
    want = {("x", "y"): ref_r(xs, ys), ("x", "z"): ref_r(xs, zs),
            ("y", "z"): ref_r(ys, zs)}
    got2 = {(r["col_x"], r["col_y"]): r["r"]
            for r in corr_matrix(df.repartition(97), ["x", "y", "z"],
                                 quant=1.0).collect()}
    close = all(abs(got[k] - want[k]) <= 1e-6 for k in want)
    return {
        "rows": 16_000_000,
        "scale_vs_sf0.1": "266x lineitem",
        "sec": round(wall, 2),
        "r_xz": got[("x", "z")],
        "invariant": got == got2,
        "ok": close and got == got2 and got[("x", "z")] == 1.0,
    }


def case_seasonal_100k_keys(spark):
    """Round-9 seasonal strength at 100k keys x 56 days (5.6M rows):
    even keys carry a pure weekly pattern (strength exactly 1.0),
    odd keys an aperiodic residue pattern (strength well below);
    the per-(key, phase) median windows parallelize across the key
    space. Verdicts are partition-invariant."""
    from covid_data_pipeline_spark.operators.temporal import (
        seasonal_strength,
    )

    df = spark.range(0, 5_600_000, numPartitions=64).select(
        (F.col("id") % 100_000).alias("k"),
        (F.col("id") / 100_000).cast("bigint").alias("t"),
    ).select(
        "k",
        "t",
        F.when(F.col("k") % 2 == 0, 100 + 50 * (F.col("t") % 7))
        .otherwise(100 + (F.col("t") * 37 + F.col("k")) % 11)
        .alias("v"),
    )
    t0 = time.time()
    out = seasonal_strength(df, ["k"], "t", "v", period=7)
    agg = out.agg(
        F.sum(F.when((F.col("k") % 2 == 0)
                     & (F.col("strength") == 1.0), 1).otherwise(0)
              ).alias("pure"),
        F.sum(F.when((F.col("k") % 2 == 1)
                     & (F.col("strength") < 0.8), 1).otherwise(0)
              ).alias("weak"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    wall = time.time() - t0
    agg2 = seasonal_strength(
        df.repartition(97), ["k"], "t", "v", period=7
    ).agg(
        F.sum(F.when(F.col("strength") == 1.0, 1).otherwise(0)).alias("p")
    ).collect()[0]
    return {
        "rows": 5_600_000,
        "keys": 100_000,
        "scale_vs_sf0.1": "20000x the query's key count",
        "sec": round(wall, 2),
        "pure_weekly": agg["pure"],
        "invariant": agg["pure"] == agg2["p"],
        "ok": agg["pure"] == 50_000 and agg["weak"] == 50_000
        and agg["n"] == 100_000 and agg["pure"] == agg2["p"],
    }


def case_spearman_16m_distinct(spark):
    """VERDICT r9 ask #5: spearman_corr on 16M rows whose value domain
    is FULLY DISTINCT (16M distinct x and y values) — the rank-map
    worst case its docstring names: the two-level range-bucket rank
    must never put the corpus-sized distinct domain through one flat
    window. y = x² is strictly monotone on x >= 0, so rho = 1.0
    EXACTLY (closed form), and a reversed pairing gives rho = -1.0.
    Verdicts are partition-invariant under a prime repartition."""
    from covid_data_pipeline_spark.operators.quality import spearman_corr

    n = 16_000_000
    df = spark.range(0, n, numPartitions=64).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * F.col("id")).cast("double").alias("y"),
        (F.lit(n - 1) - F.col("id")).cast("double").alias("yr"),
    )
    t0 = time.time()
    up = spearman_corr(df, "x", "y", quant=1.0).collect()[0]
    wall = time.time() - t0
    down = spearman_corr(df, "x", "yr", quant=1.0).collect()[0]
    up2 = spearman_corr(
        df.repartition(97), "x", "y", quant=1.0
    ).collect()[0]
    return {
        "rows": n,
        "distinct_values": n,
        "scale_vs_sf0.1": "266x lineitem, fully-distinct domain",
        "sec": round(wall, 2),
        "rho_up": up["rho"],
        "rho_down": down["rho"],
        "invariant": (up["rho"], up["n"]) == (up2["rho"], up2["n"]),
        "ok": up["rho"] == 1.0 and down["rho"] == -1.0
        and up["n"] == n and (up["rho"], up["n"]) == (up2["rho"],
                                                      up2["n"]),
    }


def case_ransac_skew_1m(spark):
    """VERDICT r9 ask #5: ransac_trend under extreme per-key skew —
    ONE key holding 1M points (planted line y = 5x + 11 with gross
    outliers shifted +1e6 at x ≡ 3 mod 7) next to 10k ten-point keys.
    Full consensus on the big key would be 5·10¹¹ rows; the
    deterministic max_candidates=32 stride cap makes it 32M. The
    candidate ids are k·15625 (stride 15625 ≡ 1 mod 7; pair offset
    500000 ≡ 4 mod 7), so candidates with k ≢ 3 and k ≢ 6 (mod 7)
    have BOTH endpoints clean — the winner must recover slope 5.0
    with EXACTLY 1,000,000 − 142,857 = 857,143 inliers (an outlier-
    endpoint candidate would cap at 142,857, which is also the alias
    trap this case's first draft fell into: outliers at i ≡ 0 mod 5
    alias with 15625 ≡ 0 mod 5 and EVERY thinned candidate lands on
    the shifted line). Small keys keep their exact fits; result is
    partition-invariant."""
    from covid_data_pipeline_spark.operators.temporal import ransac_trend

    big = spark.range(0, 1_000_000, numPartitions=64).select(
        F.lit("big").alias("k"),
        F.col("id").alias("x"),
        (
            5 * F.col("id") + 11
            + F.when(F.col("id") % 7 == 3, 1_000_000).otherwise(0)
        ).alias("y"),
    )
    small = spark.range(0, 100_000, numPartitions=32).select(
        F.concat(F.lit("s"), (F.col("id") % 10_000).cast("string")
                 ).alias("k"),
        (F.col("id") / 10_000).cast("bigint").alias("x"),
        ((F.col("id") / 10_000).cast("bigint") * 3 + 7).alias("y"),
    )
    df = big.unionByName(small)
    t0 = time.time()
    out = ransac_trend(
        df, ["k"], "x", "y", eps=0, min_span=1, max_candidates=32
    )
    rows = {r["k"]: r for r in out.where(
        F.col("k").isin("big", "s0", "s9999")
    ).collect()}
    n_keys = out.count()
    wall = time.time() - t0
    b = rows["big"]
    b2 = ransac_trend(
        df.repartition(97), ["k"], "x", "y", eps=0, min_span=1,
        max_candidates=32,
    ).where(F.col("k") == "big").collect()[0]
    return {
        "rows": 1_100_000,
        "big_key_points": 1_000_000,
        "scale_vs_sf0.1": "one key = 10x the whole sf0.1 events table",
        "sec": round(wall, 2),
        "big_slope": b["slope"],
        "big_inliers": b["n_inliers"],
        "invariant": b.asDict() == b2.asDict(),
        "ok": b["slope"] == 5.0 and b["n_inliers"] == 857_143
        and b["n_points"] == 1_000_000
        and rows["s0"]["slope"] == 3.0 and rows["s0"]["n_inliers"] == 10
        and rows["s9999"]["slope"] == 3.0
        and n_keys == 10_001
        and b.asDict() == b2.asDict(),
    }


def case_fk_audit_16m(spark):
    """VERDICT r9 ask #5: fk_audit at 16M child rows against a 990k
    parent, with planted NULLs and orphans whose exact counts are
    closed-form. The single-pass shape (per-FK rollup -> distinct
    join) must shuffle |distinct fk| = 1M rows, not 16M, and the
    counts must be partition-invariant."""
    from covid_data_pipeline_spark.operators.quality import fk_audit

    n, dom, pmax = 16_000_000, 1_000_000, 990_000
    child = spark.range(0, n, numPartitions=64).select(
        F.col("id").alias("cid"),
        F.when((F.col("id") % dom) % 101 == 0, F.lit(None)).otherwise(
            F.col("id") % dom
        ).cast("bigint").alias("fk"),
    )
    parent = spark.range(0, pmax, numPartitions=16).select(
        F.col("id").alias("pk")
    )
    # closed form: 16 full blocks of the [0, 1M) fk domain
    per_block_null = len(range(0, dom, 101))
    per_block_orphan = sum(
        1 for v in range(pmax, dom) if v % 101 != 0
    )
    want_null = 16 * per_block_null
    want_orphan = 16 * per_block_orphan
    t0 = time.time()
    r = fk_audit([("child.fk -> parent", child, "fk", parent, "pk")]
                 ).collect()[0]
    wall = time.time() - t0
    r2 = fk_audit(
        [("child.fk -> parent", child.repartition(97), "fk", parent,
          "pk")]
    ).collect()[0]
    return {
        "rows": n,
        "scale_vs_sf0.1": "106x orders as the child",
        "sec": round(wall, 2),
        "n_null_fk": r["n_null_fk"],
        "n_orphans": r["n_orphans"],
        "invariant": r.asDict() == r2.asDict(),
        "ok": r["n_child"] == n and r["n_null_fk"] == want_null
        and r["n_orphans"] == want_orphan and r["holds"] is False
        and r.asDict() == r2.asDict(),
    }


def case_eval_trio_10m(spark):
    """VERDICT r9 ask #5: the model-evaluation trio — classification
    report, calibration + Brier, Mann-Whitney AUC — at 10M scored
    rows, each checked against an exact integer reference computed
    from the same residue arithmetic (scores are a deterministic
    micro-prob lattice; labels flip on a 5% residue class). All three
    are one-rollup shapes, so 10M rows must cost seconds, and the
    report/calibration outputs must be partition-invariant."""
    from covid_data_pipeline_spark.operators.calibrate import (
        calibration_report,
    )
    from covid_data_pipeline_spark.operators.experiment import (
        mann_whitney_u,
    )
    from covid_data_pipeline_spark.operators.retrieval import (
        classification_report,
    )

    n, scale = 10_000_000, 1_000_000
    # score: uniform-ish lattice walk; label: score >= mid XOR 5% noise
    df = spark.range(0, n, numPartitions=64).select(
        ((F.col("id") * 9973) % (scale + 1)).alias("s"),
        (
            (((F.col("id") * 9973) % (scale + 1)) * 2 >= scale)
            != (F.col("id") % 20 == 0)
        ).alias("lab"),
    )
    t0 = time.time()
    rep = {
        r["class"]: r.asDict()
        for r in classification_report(
            df.withColumn("pred", F.col("s") * 2 >= scale), "lab", "pred"
        ).collect()
    }
    cal = {r["bin"]: r.asDict() for r in
           calibration_report(df, "s", "lab", bins=10,
                              scale=scale).collect()}
    auc_row = mann_whitney_u(df, "lab", "s").collect()[0]
    wall = time.time() - t0

    # exact integer reference via the period structure: score cycles
    # with period scale+1 in id (gcd(9973, 1000001) = 1), noise with
    # period 20 — reference over lcm is too big, so accumulate counts
    # with numpy in chunks (exact int64 -> Python int).
    import numpy as np

    tp = fp = fn = tn = 0
    pos_bins = np.zeros(10, dtype=np.int64)
    bin_n = np.zeros(10, dtype=np.int64)
    se_sum = 0
    # AUC reference accumulators over the value-compressed domain
    treat_hist = np.zeros(scale + 1, dtype=np.int64)
    ctrl_hist = np.zeros(scale + 1, dtype=np.int64)
    for lo in range(0, n, 2_000_000):
        ids = np.arange(lo, min(lo + 2_000_000, n), dtype=np.int64)
        s = (ids * 9973) % (scale + 1)
        pred = s * 2 >= scale
        lab = pred ^ (ids % 20 == 0)
        tp += int(np.sum(pred & lab))
        fp += int(np.sum(pred & ~lab))
        fn += int(np.sum(~pred & lab))
        tn += int(np.sum(~pred & ~lab))
        b = np.minimum(9, s * 10 // scale)
        np.add.at(bin_n, b, 1)
        np.add.at(pos_bins, b[lab], 1)
        err = s - lab.astype(np.int64) * scale
        se_sum += int(np.sum(err * err))
        np.add.at(treat_hist, s[lab], 1)
        np.add.at(ctrl_hist, s[~lab], 1)
    cum_c_less = np.concatenate(([0], np.cumsum(ctrl_hist)[:-1]))
    u2 = int(2 * np.sum(treat_hist * cum_c_less)
             + np.sum(treat_hist * ctrl_hist))
    n_t, n_c = int(treat_hist.sum()), int(ctrl_hist.sum())
    want_auc = round(u2 / (2.0 * n_t * n_c), 6)
    want_brier = round(se_sum / (n * float(scale) * float(scale)), 6)

    rep_ok = (
        rep[True]["tp"] == tp and rep[True]["fp"] == fp
        and rep[True]["fn"] == fn and rep[False]["tp"] == tn
        and rep[True]["support"] == tp + fn
    )
    cal_ok = all(
        cal[k]["n"] == int(bin_n[k]) and cal[k]["n_pos"] == int(
            pos_bins[k])
        for k in range(10)
    ) and abs(cal[0]["brier"] - want_brier) <= 1e-9
    auc_ok = (
        auc_row["u2_treat"] == u2
        and abs(auc_row["auc"] - want_auc) <= 1e-9
        and (auc_row["n_treat"], auc_row["n_ctrl"]) == (n_t, n_c)
    )
    rep2 = {
        r["class"]: r.asDict()
        for r in classification_report(
            df.repartition(97).withColumn(
                "pred", F.col("s") * 2 >= scale
            ),
            "lab",
            "pred",
        ).collect()
    }
    return {
        "rows": n,
        "scale_vs_sf0.1": "2000x the documents scoring surface",
        "sec": round(wall, 2),
        "auc": auc_row["auc"],
        "brier": cal[0]["brier"],
        "invariant": rep == rep2,
        "ok": rep_ok and cal_ok and auc_ok and rep == rep2,
    }


def case_robust_trim_100k_keys(spark):
    """Round-10 robust statistics at 100k keys x 56 points (5.6M
    rows) with CLOSED-FORM answers: every key carries the repeating
    pattern 100 + (t mod 7); odd keys swap their t=55 point for a
    100000 whale. Modified z must flag EXACTLY the 50k whales (the
    steady pattern's max |M| is 1.349·6/8 ≈ 1.01, far under 3.5, on
    even and odd keys alike — median/MAD don't move), and the
    10%-trimmed AND winsorized means must equal 103.0 EXACTLY for all
    100k keys, whale or not (the whale-proof property, key by key).
    Both ops are per-key rank windows — parallel across the key
    space. Partition-invariant."""
    from covid_data_pipeline_spark.operators.temporal import (
        robust_zscore,
        trimmed_stats,
    )

    df = spark.range(0, 5_600_000, numPartitions=64).select(
        (F.col("id") % 100_000).alias("k"),
        (F.col("id") / 100_000).cast("bigint").alias("t"),
    ).select(
        "k",
        "t",
        F.when(
            (F.col("t") == 55) & (F.col("k") % 2 == 1), 100_000
        ).otherwise(100 + F.col("t") % 7).alias("v"),
    )
    t0 = time.time()
    rz = robust_zscore(df, ["k"], "t", "v")
    rz_agg = rz.agg(
        F.sum(F.col("is_outlier").cast("long")).alias("flagged"),
        F.sum(
            (F.col("is_outlier") & (F.col("k") % 2 == 0)).cast("long")
        ).alias("flagged_even"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    tm = trimmed_stats(df, ["k"], "v", 1, 10)
    tm_agg = tm.agg(
        F.sum((F.col("trimmed_mean") == 103.0).cast("long")).alias("t_ok"),
        F.sum(
            (F.col("winsorized_mean") == 103.0).cast("long")
        ).alias("w_ok"),
        F.count(F.lit(1)).alias("keys"),
    ).collect()[0]
    wall = time.time() - t0
    rz2 = robust_zscore(df.repartition(97), ["k"], "t", "v").agg(
        F.sum(F.col("is_outlier").cast("long")).alias("flagged")
    ).collect()[0]
    return {
        "rows": 5_600_000,
        "keys": 100_000,
        "scale_vs_sf0.1": "10000x the daily-volume query's key count",
        "sec": round(wall, 2),
        "flagged": rz_agg["flagged"],
        "trimmed_exact": tm_agg["t_ok"],
        "invariant": rz_agg["flagged"] == rz2["flagged"],
        "ok": rz_agg["flagged"] == 50_000
        and rz_agg["flagged_even"] == 0
        and rz_agg["n"] == 5_600_000
        and tm_agg["t_ok"] == 100_000 and tm_agg["w_ok"] == 100_000
        and tm_agg["keys"] == 100_000
        and rz_agg["flagged"] == rz2["flagged"],
    }




def case_kruskal_16m(spark):
    """Round-10 batch-B: Kruskal-Wallis H over 16M rows, 8 groups,
    ~10k distinct values (160x sf0.1). Group 7 gets a planted +500
    shift, so H must be astronomically significant; the exact lattice
    output h_micro must match an integer reference computed from the
    LCG's residue structure, bit-identical under a prime repartition
    (the value-compressed construction never ranks a row)."""
    from covid_data_pipeline_spark.operators.experiment import kruskal_wallis

    n, p_, shift = 16_000_000, 10_007, 500
    df = spark.range(0, n, numPartitions=64).select(
        (F.col("id") % 8).alias("g"),
        (
            (F.col("id") * 9973) % p_
            + F.when(F.col("id") % 8 == 7, shift).otherwise(0)
        ).alias("v"),
    )
    t0 = time.time()
    a = kruskal_wallis(df, "g", "v").collect()[0]
    wall = time.time() - t0
    b = kruskal_wallis(df.repartition(53), "g", "v").collect()[0]

    # exact reference off the residue structure (numpy chunked)
    import numpy as np

    hist = {}
    for lo in range(0, n, 2_000_000):
        ids = np.arange(lo, min(lo + 2_000_000, n), dtype=np.int64)
        g = ids % 8
        v = (ids * 9973) % p_ + np.where(g == 7, shift, 0)
        for gi in range(8):
            h = np.bincount(v[g == gi], minlength=p_ + shift)
            hist[gi] = hist.get(gi, 0) + h
    vals = np.arange(p_ + shift, dtype=np.int64)
    nv = sum(hist.values())
    mask = nv > 0
    cum_less = np.concatenate(([0], np.cumsum(nv)[:-1]))
    r2 = 2 * cum_less + nv + 1
    N = int(nv.sum())
    sum_micro = 0
    for gi in range(8):
        ng = int(hist[gi].sum())
        R2 = int(np.sum(hist[gi][mask].astype(object) * r2[mask]))
        term = 3.0 * float(R2) * float(R2) / (float(ng) * float(N) * (float(N) + 1.0))
        import math as _m
        sum_micro += int(_m.floor(term * 1e6 + 0.5))
    want_h_micro = sum_micro - 3 * (N + 1) * 1000000
    del vals
    return {
        "rows": n,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "h": a["h"],
        "h_micro_exact": a["h_micro"] == want_h_micro,
        "partition_invariant": a.asDict() == b.asDict(),
        "ok": (
            a["h_micro"] == want_h_micro
            and a["h"] > 10_000
            and a.asDict() == b.asDict()
        ),
    }


def case_brown_forsythe_16m(spark):
    """Round-10 batch-B: Brown-Forsythe over 16M rows, 8 groups;
    group 7's values are scaled 3x so its spread dominates and F must
    be huge; the per-group exact-median windows must survive 2M-row
    groups, and the output must be bit-identical under a prime
    repartition."""
    from covid_data_pipeline_spark.operators.experiment import brown_forsythe

    n, p_ = 16_000_000, 10_007
    df = spark.range(0, n, numPartitions=64).select(
        (F.col("id") % 8).alias("g"),
        (
            ((F.col("id") * 9973) % p_)
            * F.when(F.col("id") % 8 == 7, 3).otherwise(1)
        ).alias("v"),
    )
    t0 = time.time()
    a = brown_forsythe(df, "g", "v").collect()[0]
    wall = time.time() - t0
    b = brown_forsythe(df.repartition(53), "g", "v").collect()[0]
    return {
        "rows": n,
        "scale_vs_sf0.1": "160x events; 2M-row per-group medians",
        "sec": round(wall, 2),
        "f_bf": a["f_bf"],
        "partition_invariant": a.asDict() == b.asDict(),
        "ok": (
            a["n"] == n and a["k"] == 8
            and a["f_bf"] is not None and a["f_bf"] > 10_000
            and a.asDict() == b.asDict()
        ),
    }


def case_wasserstein_16m(spark):
    """Round-10 batch-B: W1 drift at 16M rows with a CLOSED-FORM
    answer: both 8M-row cohorts sweep the full 10000-value LCG cycle
    the same number of times (800 whole periods each), and the
    treated cohort is shifted by exactly +80 — identical shapes, so
    W1 == 80.0 exactly. Bit-identical under a prime repartition."""
    from covid_data_pipeline_spark.operators.experiment import wasserstein_1d

    n, half, period, shift = 16_000_000, 8_000_000, 10_000, 80
    df = spark.range(0, n, numPartitions=64).select(
        (F.col("id") < half).alias("a"),
        (
            (F.col("id") * 9973) % period
            + F.when(F.col("id") < half, shift).otherwise(0)
        ).alias("v"),
    )
    t0 = time.time()
    a = wasserstein_1d(df, "a", "v").collect()[0]
    wall = time.time() - t0
    b = wasserstein_1d(df.repartition(53), "a", "v").collect()[0]
    return {
        "rows": n,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "w1": a["w1"],
        "ok": (
            a["w1"] == float(shift)
            and (a["n_a"], a["n_b"]) == (half, half)
            and a.asDict() == b.asDict()
        ),
    }


def case_lift_ap_10m(spark):
    """Round-10 batch-B: the ranking-evaluation pair at 10M scored
    rows. Lift deciles ride value_order_rank (the distributed global
    rank) — every per-decile count must equal the numpy lexsort
    reference EXACTLY; average precision's nano-lattice AP must match
    the histogram reference to 1e-6. Both bit-identical under a prime
    repartition."""
    from covid_data_pipeline_spark.operators.retrieval import (
        average_precision,
        score_lift_deciles,
    )

    n, scale = 10_000_000, 1_000_000
    df = spark.range(0, n, numPartitions=64).select(
        ((F.col("id") * 9973) % (scale + 1)).alias("s"),
        (
            (((F.col("id") * 9973) % (scale + 1)) * 2 >= scale)
            != (F.col("id") % 20 == 0)
        ).alias("lab"),
        F.col("id"),
    )
    t0 = time.time()
    lift = {r["decile"]: r.asDict()
            for r in score_lift_deciles(df, "s", "lab", "id").collect()}
    ap = average_precision(df, "s", "lab").collect()[0]
    wall = time.time() - t0

    import numpy as np

    ids = np.arange(n, dtype=np.int64)
    s = (ids * 9973) % (scale + 1)
    lab = ((s * 2 >= scale) != (ids % 20 == 0))
    order = np.lexsort((ids, -s))
    lab_sorted = lab[order]
    decile = (np.arange(n, dtype=np.int64) * 10) // n + 1
    want_n = np.bincount(decile, minlength=11)[1:]
    want_pos = np.bincount(decile, weights=lab_sorted.astype(np.int64),
                           minlength=11)[1:].astype(np.int64)
    counts_ok = all(
        lift[d + 1]["n"] == int(want_n[d])
        and lift[d + 1]["n_pos"] == int(want_pos[d])
        for d in range(10)
    )
    # AP histogram reference (value-compressed, descending)
    pos_h = np.bincount(s[lab], minlength=scale + 1)
    tot_h = np.bincount(s, minlength=scale + 1)
    pos_d, tot_d = pos_h[::-1], tot_h[::-1]
    cum_pos = np.cumsum(pos_d)
    cum_tot = np.cumsum(tot_d)
    P = int(pos_h.sum())
    nz = tot_d > 0
    want_ap = float(np.sum(
        pos_d[nz] * cum_pos[nz] / (cum_tot[nz] * float(P))
    ))
    lift2 = {r["decile"]: r.asDict()
             for r in score_lift_deciles(
                 df.repartition(97), "s", "lab", "id").collect()}
    return {
        "rows": n,
        "scale_vs_sf0.1": "2000x documents scoring surface",
        "sec": round(wall, 2),
        "ap": ap["average_precision"],
        "lift_d1": lift[1]["lift"],
        "counts_exact": counts_ok,
        "ok": (
            counts_ok
            and abs(ap["average_precision"] - want_ap) < 5e-6
            and lift[1]["lift"] > 1.5
            and lift == lift2
        ),
    }


def case_fleiss_1m_items(spark):
    """Round-10 batch-D: Fleiss' kappa at 1M items x 3 raters (3M
    rating rows). Raters agree except on planted residue classes, so
    kappa must land strictly between 0.5 and 1; A/B/N are exact
    moments, so the output must be bit-identical under a prime
    repartition."""
    from covid_data_pipeline_spark.operators.experiment import fleiss_kappa

    n = 1_000_000
    base = spark.range(0, n, numPartitions=32)
    votes = []
    for j, (m, off) in enumerate(((11, 5), (7, 3), (13, 6))):
        votes.append(
            base.select(
                F.col("id").alias("i"),
                F.when(
                    ((F.col("id") * 9973) % 100 + (F.col("id") % m) - off)
                    < 50,
                    "neg",
                ).otherwise("pos").alias("c"),
            )
        )
    rated = votes[0].unionAll(votes[1]).unionAll(votes[2])
    t0 = time.time()
    a = fleiss_kappa(rated, "i", "c", 3).collect()[0]
    wall = time.time() - t0
    b = fleiss_kappa(rated.repartition(53), "i", "c", 3).collect()[0]
    return {
        "rows": 3 * n,
        "scale_vs_sf0.1": "1M annotated items",
        "sec": round(wall, 2),
        "kappa": a["kappa"],
        "ok": (
            a["n_items"] == n and a["n_excluded"] == 0
            and a["kappa"] is not None and 0.5 < a["kappa"] < 1.0
            and a.asDict() == b.asDict()
        ),
    }


def case_log_odds_100k_vocab(spark):
    """Round-10 batch-D: Monroe log-odds keywords over a 4M-token
    stream with a ~100k-term vocabulary across 4 groups — the
    per-group ranking window runs over the pruned 100k-term candidate
    sets, the documented scale shape. Each group has one planted
    high-frequency exclusive token that must rank #1; the full top-10
    result must be bit-identical under a prime repartition."""
    from covid_data_pipeline_spark.operators.langmodel import (
        log_odds_keywords,
    )

    n = 4_000_000
    base = spark.range(0, n, numPartitions=32).select(
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("g"),
        F.when(
            F.col("id") % 25 == 0,
            F.concat(F.lit("plant_"), (F.col("id") % 4).cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("t"),
                (F.pmod(F.xxhash64("id"), F.lit(100_000))).cast("string"),
            )
        )
        .alias("w"),
    )
    t0 = time.time()
    a = log_odds_keywords(base, "g", "w", min_count=5, top_k=10).collect()
    wall = time.time() - t0
    b = log_odds_keywords(
        base.repartition(53), "g", "w", min_count=5, top_k=10
    ).collect()
    top1 = {r["g"]: r["w"] for r in a if r["rank"] == 1}
    planted_ok = all(
        top1.get(f"g{i}") == f"plant_{i}" for i in range(4)
    )
    key = lambda r: (r["g"], r["rank"])  # noqa: E731
    return {
        "rows": n,
        "scale_vs_sf0.1": "~100k-term vocabulary, 4M tokens",
        "sec": round(wall, 2),
        "planted_rank1": planted_ok,
        "ok": planted_ok and sorted(map(tuple, a), key=str)
        == sorted(map(tuple, b), key=str),
    }




def case_friedman_1m_blocks(spark):
    """Round-10 batch-E: Friedman over 1M complete blocks x 5
    treatments (5M rows). Values follow a 23-periodic residue pattern,
    so the exact chi-square is computable from the 23 block classes in
    Python ints — the Spark output must match it through round(4), and
    be bit-identical under a prime repartition (per-block windows are
    5 rows each; nothing global)."""
    from covid_data_pipeline_spark.operators.experiment import friedman_test

    n_blocks, k, p_ = 1_000_000, 5, 23
    df = spark.range(0, n_blocks * k, numPartitions=32).select(
        (F.col("id") % n_blocks).alias("blk"),
        (F.col("id") / n_blocks).cast("bigint").alias("trt"),
        (
            ((F.col("id") % n_blocks) * 31
             + (F.col("id") / n_blocks).cast("bigint") * 17) % p_
        ).alias("v"),
    )
    t0 = time.time()
    a = friedman_test(df, "blk", "trt", "v").collect()[0]
    wall = time.time() - t0
    b = friedman_test(df.repartition(53), "blk", "trt", "v").collect()[0]

    # exact reference over the 23 block classes
    cls_count = {c: 0 for c in range(p_)}
    for blk in range(n_blocks):
        cls_count[(blk * 31) % p_] += 1
    R2 = [0] * k
    tie3 = 0
    for c, cnt in cls_count.items():
        vals = [(c + 17 * t) % p_ for t in range(k)]
        for t in range(k):
            less = sum(1 for u in vals if u < vals[t])
            ties = sum(1 for u in vals if u == vals[t])
            R2[t] += cnt * (2 * less + ties + 1)
        from collections import Counter
        for tc in Counter(vals).values():
            if tc > 1:
                tie3 += cnt * (tc ** 3 - tc)
    sr2 = sum(r * r for r in R2)
    want = round(
        3.0 * float(sr2) / (float(n_blocks) * k * (k + 1.0))
        - 3.0 * n_blocks * (k + 1.0),
        4,
    ) + 0.0
    return {
        "rows": n_blocks * k,
        "scale_vs_sf0.1": "1M complete blocks",
        "sec": round(wall, 2),
        "chi2_f": a["chi2_f"],
        "exact_match": a["chi2_f"] == want,
        "ok": (
            a["chi2_f"] == want
            and a["n_blocks"] == n_blocks and a["n_excluded"] == 0
            and a.asDict() == b.asDict()
        ),
    }




def case_jonckheere_16m(spark):
    """Round-10 batch-E: Jonckheere-Terpstra over 16M rows, 8 ordered
    groups with a planted +50/step monotone shift on a ~10k-value
    domain. The DOUBLED statistic jt2 must equal the exact numpy
    histogram reference integer-for-integer, z must be hugely
    positive, and the whole row bit-identical under a prime
    repartition (dense-grid prefix windows are |V| x k rows)."""
    from covid_data_pipeline_spark.operators.experiment import (
        jonckheere_terpstra,
    )

    n, p_, step = 16_000_000, 10_007, 50
    df = spark.range(0, n, numPartitions=64).select(
        (F.col("id") % 8).alias("g"),
        ((F.col("id") * 9973) % p_ + (F.col("id") % 8) * step).alias("v"),
    )
    t0 = time.time()
    a = jonckheere_terpstra(df, "g", "v").collect()[0]
    wall = time.time() - t0
    b = jonckheere_terpstra(df.repartition(53), "g", "v").collect()[0]

    import numpy as np

    width = p_ + 7 * step
    hist = np.zeros((8, width), dtype=np.int64)
    for lo in range(0, n, 2_000_000):
        ids = np.arange(lo, min(lo + 2_000_000, n), dtype=np.int64)
        g = ids % 8
        v = (ids * 9973) % p_ + g * step
        for gi in range(8):
            hist[gi] += np.bincount(v[g == gi], minlength=width)
    # S(v, j) = sum_{i<j} c_{v,i}; CL(v, j) = sum_{v'<v} S(v', j)
    S = np.cumsum(hist, axis=0) - hist  # prefix over groups, exclusive
    CL = np.concatenate(
        [np.zeros((8, 1), dtype=np.int64), np.cumsum(S, axis=1)[:, :-1]],
        axis=1,
    )
    want_jt2 = int(np.sum(
        hist.astype(object) * (2 * CL.astype(object) + S.astype(object))
    ))
    return {
        "rows": n,
        "scale_vs_sf0.1": "160x events",
        "sec": round(wall, 2),
        "jt2_exact": a["jt2"] == want_jt2,
        "z": a["z"],
        "ok": (
            a["jt2"] == want_jt2 and a["z"] > 100
            and a.asDict() == b.asDict()
        ),
    }


CASES = {
    "funnel_16m": case_funnel_16m,
    "token_budget_12m": case_token_budget_12m,
    "dedup_minhash_200k": case_dedup_minhash_200k,
    "dedup_keep_best_500k": case_dedup_keep_best_500k,
    "knn_graph_lsh_100k": case_knn_graph_lsh_100k,
    "heavy_hitters_16m": case_heavy_hitters_16m,
    "curation_chain_220k": case_curation_chain_220k,
    "ann_ivf_100k": case_ann_ivf_100k,
    "graph_cc_1m": case_graph_cc_1m,
    "ann_pq_100k": case_ann_pq_100k,
    "bpe_learn_16m": case_bpe_learn_16m,
    "dsir_weights_400k": case_dsir_weights_400k,
    "skyline_10m": case_skyline_10m,
    "kcore_1m_edges": case_kcore_1m_edges,
    "quantile_normalize_5m": case_quantile_normalize_5m,
    "isotonic_10k_groups": case_isotonic_10k_groups,
    "ktruss_1m_edges": case_ktruss_1m_edges,
    "kmeans_100k": case_kmeans_100k,
    "markov_16m": case_markov_16m,
    "gsp_16m": case_gsp_16m,
    "ann_ivf_lattice_100k": case_ann_ivf_lattice_100k,
    "winnowing_100k": case_winnowing_100k,
    "mmr_rerank_100k": case_mmr_rerank_100k,
    "mann_whitney_16m": case_mann_whitney_16m,
    "nb_classifier_1m": case_nb_classifier_1m,
    "hll_sketch_16m": case_hll_sketch_16m,
    "theta_overlap_16m": case_theta_overlap_16m,
    "geo_radius_1m": case_geo_radius_1m,
    "interval_overlap_16m": case_interval_overlap_16m,
    "bloom_16m_probes": case_bloom_16m_probes,
    "pca_power_100k": case_pca_power_100k,
    "global_merge_16m_sparse": case_global_merge_16m_sparse,
    "geo_lattice_1m_moran_geary": case_geo_lattice_1m_moran_geary,
    "hot_cell_salt": case_hot_cell_salt,
    "snm_1m": case_snm_1m,
    "t_closeness_10m": case_t_closeness_10m,
    "fd_profile_10m": case_fd_profile_10m,
    "woe_iv_10m": case_woe_iv_10m,
    "entity_resolution_1m": case_entity_resolution_1m,
    "bh_fdr_100k": case_bh_fdr_100k,
    "lof_1m_edges": case_lof_1m_edges,
    "hilbert_16m": case_hilbert_16m,
    "corr_16m": case_corr_16m,
    "seasonal_100k_keys": case_seasonal_100k_keys,
    "spearman_16m_distinct": case_spearman_16m_distinct,
    "ransac_skew_1m": case_ransac_skew_1m,
    "fk_audit_16m": case_fk_audit_16m,
    "eval_trio_10m": case_eval_trio_10m,
    "robust_trim_100k_keys": case_robust_trim_100k_keys,
    "kruskal_16m": case_kruskal_16m,
    "brown_forsythe_16m": case_brown_forsythe_16m,
    "wasserstein_16m": case_wasserstein_16m,
    "lift_ap_10m": case_lift_ap_10m,
    "fleiss_1m_items": case_fleiss_1m_items,
    "log_odds_100k_vocab": case_log_odds_100k_vocab,
    "friedman_1m_blocks": case_friedman_1m_blocks,
    "jonckheere_16m": case_jonckheere_16m,
}


def main() -> int:
    out_path = "STRESS_r04.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
        unknown = [n for n in only if n not in CASES]
        assert not unknown, f"unknown cases: {unknown}"

    from covid_data_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="stress-report", driver_memory="16g",
                      master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict[str, dict] = {}
    t_all = time.time()
    for name, fn in CASES.items():
        if only is not None and name not in only:
            continue
        t0 = time.time()
        try:
            report[name] = fn(spark)
        except Exception as e:  # noqa: BLE001
            report[name] = {"ok": False, "error": str(e)[:300]}
        report[name]["case_sec"] = round(time.time() - t0, 2)
        print(f"{'ok  ' if report[name].get('ok') else 'FAIL'} {name} "
              f"({report[name]['case_sec']}s)", flush=True)

    n_fail = sum(1 for c in report.values() if not c.get("ok"))
    line = {
        "metric": "stress_total_sec",
        "value": round(time.time() - t_all, 2),
        "unit": "sec",
        "cases": report,
        "cpus": int(cpus),
        "fail": n_fail,
    }
    print(json.dumps(line))
    with open(out_path, "w") as f:
        json.dump(line, f, indent=1)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
