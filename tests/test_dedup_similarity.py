"""Recall/correctness tests for the near-dup and similarity operators
(the rows-only driver checks get real assertions here)."""

from __future__ import annotations

import pytest

# r11 fast-tier marking (VERDICT r10 ask #3): the full suite runs ~52
# min, which times out the driver's verify window; this module's tests
# are in the SLOW tier (fast tier = `pytest tests/` with the default
# addopts, full suite = `pytest tests/ -m ""` — run per round).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from covid_data_pipeline_spark.harness.queries_dedup import MUTANT_OFFSET, _with_mutants
from covid_data_pipeline_spark.harness.registry import QUERIES, table
from covid_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
)
from covid_data_pipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)


def test_exact_dedup_finds_planted_doubles(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = exact_dedup(d.unionByName(d)).collect()
    assert len(out) == d.count()
    assert all(r["dup_count"] == 2 for r in out)


def test_exact_dedup_null_text_not_dropped(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 2}


def test_minhash_recall_on_planted_neardups(spark, sf_dir):
    d = _with_mutants(table(spark, sf_dir, "documents"))
    n_docs = table(spark, sf_dir, "documents").count()
    pairs = minhash_dedup(d, threshold=0.6).collect()
    planted = {
        (r["id_a"], r["id_b"])
        for r in pairs
        if r["id_b"] == r["id_a"] + MUTANT_OFFSET
    }
    # One appended token on a ~50-token doc → jaccard ≈ 0.94; banded LSH
    # with 8 bands × 4 rows catches ≥ 90% of such pairs.
    assert len(planted) >= 0.9 * n_docs
    # Verified jaccard must actually be high for planted pairs.
    assert all(r["jaccard"] >= 0.6 for r in pairs)


def test_simhash_finds_planted_neardups(spark, sf_dir):
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in QUERIES["dedup_simhash"].fn(spark, sf_dir).collect()
    }
    n_docs = table(spark, sf_dir, "documents").count()
    planted = [k for k in out if k[1] == k[0] + MUTANT_OFFSET]
    # One appended token flips few bits on long docs, more on short ones
    # (~15-token docs shift several bit votes): measured 74% of planted
    # pairs land at hamming ≤ 3 on this corpus. Banding guarantees every
    # d≤3 pair is a candidate, so this floor tests the operator, not luck.
    assert len(planted) >= 0.7 * n_docs
    assert all(out[k] <= 3 for k in planted)


def test_ngram_jaccard_exact_pairs(spark, sf_dir):
    d = _with_mutants(table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20))
    pairs = ngram_jaccard_pairs(d, shingle_k=3, threshold=0.6).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs}
    # Exact method: every planted pair must be found.
    expected = {(i, i + MUTANT_OFFSET) for i in range(20)}
    assert expected <= planted


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(e, queries, k=5)
    approx = cosine_topk_lsh(e, queries, dim=64, k=5, num_planes=4, multiprobe_bits=1)
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # This corpus's top-5 neighbors sit at cosine ≈ 0.3 (weak clusters):
    # P(bit agree) ≈ 0.6, so 4 planes + 1-bit multiprobe predicts ~47%
    # recall while scoring ~30% of the corpus. Assert a floor well under
    # the expectation; exactness is the bruteforce path's job.
    assert len(ex & ap) >= 0.25 * len(ex)


def test_lsh_bucket_cap_bounds_boilerplate(spark):
    from covid_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        with_minhash,
    )

    # 200 identical boilerplate docs + 2 genuine near-dups.
    boiler = [(i, "lorem ipsum dolor sit amet consetetur") for i in range(200)]
    pair = [
        (1000, "a quick brown fox jumps over the lazy dog today"),
        (1001, "a quick brown fox jumps over the lazy dog now"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    signed = with_minhash(df)
    capped = lsh_candidate_pairs(signed, max_bucket_size=50)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # The boilerplate cluster (19,900 potential pairs) is dropped by the
    # cap; the genuine pair survives via its own selective buckets.
    assert (1000, 1001) in got
    assert not any(a < 200 and b < 200 for a, b in got)
    uncapped = lsh_candidate_pairs(signed, max_bucket_size=None)
    assert uncapped.count() >= 19_900


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivf,
        train_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(e, queries, k=5)
    cents = train_centroids(e, n_centroids=16, iters=2)
    assert len(cents) == 16 and all(len(c) == 64 for c in cents)
    approx = cosine_topk_ivf(e, queries, k=5, nprobe=4, centroids=cents)
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # nprobe 4/16 scans ~25% of a weakly-clustered corpus; measured
    # recall 60% — assert a floor well below the expectation.
    assert len(ex & ap) >= 0.4 * len(ex)


def test_ivf_cell_np_equals_hof(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        train_centroids,
        with_ivf_cell,
        with_ivf_cell_np,
    )

    e = table(spark, sf_dir, "embeddings")
    cents = train_centroids(e, n_centroids=16, iters=1)
    hof = {r["vec_id"]: r["cid"] for r in with_ivf_cell(e, cents).collect()}
    vec = {r["vec_id"]: r["cid"] for r in with_ivf_cell_np(e, cents).collect()}
    assert hof == vec and len(hof) == e.count()


def test_np_bruteforce_equals_hof_bruteforce(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce_np,
    )

    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hof = {tuple(r) for r in cosine_topk_bruteforce(e, queries, k=5).collect()}
    vec = {tuple(r) for r in cosine_topk_bruteforce_np(e, queries, k=5).collect()}
    assert hof == vec and len(hof) == 25


def test_resize_stub_rewrites_meta_keeps_payload(spark, sf_dir):
    import pytest

    from covid_data_pipeline_spark.harness.queries_similarity import _media_df
    from covid_data_pipeline_spark.operators.multimodal import resize_images

    media = _media_df(spark, sf_dir).limit(20)
    out = resize_images(media, width=224, height=224, fake=True)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["meta"]["width"] == 224 and r["meta"]["height"] == 224 for r in rows)
    orig = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert all(bytes(r["payload"]) == orig[r["media_id"]] for r in rows)
    # Real decode path is explicitly stubbed.
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        resize_images(media, 10, 10, fake=False).collect()


def test_media_features_deterministic(spark, sf_dir):
    a = QUERIES["media_features_fake"].fn(spark, sf_dir).collect()
    b = QUERIES["media_features_fake"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r["payload_sha"] is not None and r["n_bytes"] > 0 for r in a)


def test_simhash_bucket_cap_bounds_boilerplate(spark):
    from covid_data_pipeline_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    # 300 identical boilerplate docs collapse to ONE signature — every
    # chunk bucket holds all 300 rows, so the uncapped self-join is
    # quadratic (44,850 pairs). The cap drops those buckets; a genuine
    # near-dup pair keeps its own selective buckets. The pair is a
    # 41-token doc with one token swapped (measured hamming 6, inside
    # the bands=8 d<=7 guarantee).
    boiler = [(i, "lorem ipsum dolor sit amet consetetur sadipscing") for i in range(300)]
    body = " ".join(f"tok{i}" for i in range(40))
    pair = [(1000, body + " today"), (1001, body + " now")]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    sigs = df.select("doc_id", simhash("text").alias("simhash"))
    capped = simhash_candidate_pairs(
        sigs, max_hamming=7, bands=8, max_bucket_size=50
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1000, 1001) in got
    assert not any(a < 300 and b < 300 for a, b in got)
    uncapped = simhash_candidate_pairs(
        sigs, max_hamming=7, bands=8, max_bucket_size=None
    )
    assert uncapped.count() >= 300 * 299 // 2


def test_simhash_band_guarantee_and_envelope(spark):
    import pytest

    from covid_data_pipeline_spark.operators.dedup import simhash_candidate_pairs

    # One differing bit per 16-bit chunk (positions 0/16/32/48): with
    # bands=4 every chunk differs — outside the d<=3 pigeonhole
    # guarantee, and the assertion refuses the unsound request. With
    # bands=8 the odd 8-bit chunks are untouched, so d=4 is guaranteed.
    sig_a = 0
    sig_b = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    df = spark.createDataFrame(
        [(1, sig_a), (2, sig_b)], "doc_id long, simhash long"
    )
    with pytest.raises(AssertionError, match="pigeonhole"):
        simhash_candidate_pairs(df, max_hamming=4, bands=4)
    found = simhash_candidate_pairs(df, max_hamming=4, bands=8).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in found] == [(1, 2, 4)]
    # bands=8 guarantee extends to d=7 (7 bits, at least one clean chunk).
    sig_c = sum(1 << (8 * i) for i in range(7))
    df2 = spark.createDataFrame(
        [(1, sig_a), (2, sig_c)], "doc_id long, simhash long"
    )
    assert simhash_candidate_pairs(df2, max_hamming=7, bands=8).count() == 1


def test_embedding_neardup_bucket_cap(spark):
    from covid_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    # A broken upstream encoder emitting one constant embedding piles
    # every row into one LSH bucket; the cap drops that bucket while a
    # genuine duplicate pair (distinct vector) survives in its own.
    dim = 8
    const = [(i, [1.0] * dim) for i in range(300)]
    dup_vec = [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]
    dups = [(1000, dup_vec), (1001, dup_vec)]
    df = spark.createDataFrame(
        const + dups, "vec_id long, embedding array<double>"
    )
    capped = embedding_neardup_pairs(
        df, dim=dim, threshold=0.99, max_bucket_size=50
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(1000, 1001)}
    uncapped = embedding_neardup_pairs(
        df, dim=dim, threshold=0.99, max_bucket_size=None
    )
    assert uncapped.count() >= 300 * 299 // 2


def test_train_centroids_corpus_smaller_than_k(spark):
    from covid_data_pipeline_spark.operators.similarity import train_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    # 3-row corpus, 16 requested centroids: must not IndexError; returns
    # one centroid per available row.
    cents = train_centroids(df, n_centroids=16, iters=2)
    assert len(cents) == 3
    assert all(len(c) == 2 for c in cents)


def test_ivf_pretrained_query_matches_recall_floor(spark, sf_dir):
    from covid_data_pipeline_spark.harness.registry import QUERIES

    exact = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir).collect()
    }
    pre = QUERIES["similarity_topk_ivf_pretrained"].fn(spark, sf_dir)
    rows = pre.collect()
    assert len(rows) == 25
    ap = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(exact & ap) >= 0.4 * len(exact)
    # Second invocation reuses the memoized quantizer — identical result.
    again = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["similarity_topk_ivf_pretrained"].fn(spark, sf_dir).collect()
    }
    assert again == ap


def test_passage_dedup_planted(spark):
    from covid_data_pipeline_spark.operators.dedup import passage_dedup

    # Doc 1: spans A B. Doc 2 repeats span A then adds C. Doc 3 is all
    # repeats. 4-word passages; keep-first is (doc_id, passage_idx) order.
    a = "alpha beta gamma delta"
    b = "epsilon zeta eta theta"
    c = "iota kappa lambda mu"
    df = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{a} {c}"), (3, f"{b} {a}")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in passage_dedup(df, passage_words=4).collect()
    }
    assert rows[1]["kept_passages"] == 2 and rows[1]["clean_text"] == f"{a} {b}"
    assert rows[2]["kept_passages"] == 1 and rows[2]["clean_text"] == c
    assert rows[3]["kept_passages"] == 0 and rows[3]["clean_text"] == ""
    assert all(r["total_passages"] == 2 for r in rows.values())


def test_passage_dedup_idempotent(spark, sf_dir):
    from covid_data_pipeline_spark.operators.dedup import passage_dedup

    d = table(spark, sf_dir, "documents").limit(50)
    once = passage_dedup(d)
    again = passage_dedup(
        once.select("doc_id", F.col("clean_text").alias("text"))
    )
    # A deduped corpus has no remaining cross-doc duplicate passages of
    # full width; allow boundary re-slicing to differ only on short tails.
    dropped = again.filter(F.col("kept_passages") < F.col("total_passages"))
    assert dropped.count() == 0


def test_random_projection_matches_numpy_and_bounds_distortion(spark, sf_dir):
    import numpy as np

    from covid_data_pipeline_spark.operators.similarity import (
        project_embeddings,
        random_projection_matrix,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = sorted(e.collect(), key=lambda r: r["vec_id"])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)

    # 1) The Spark plan computes exactly <vec, row_j> (vs BLAS, up to
    #    summation-order noise).
    R16 = np.array(random_projection_matrix(64, 16, seed=97))
    got = {
        r["vec_id"]: np.array(r["proj"])
        for r in project_embeddings(e, R16.tolist()).collect()
    }
    want = M @ R16.T
    for i, r in enumerate(rows):
        assert np.allclose(got[r["vec_id"]], want[i], atol=1e-9)

    # 2) JL contract: mean |cos distortion| shrinks like 1/sqrt(out_dim)
    #    — wider projections must distort less, and 16 dims stays under
    #    2x the theoretical 1/sqrt(16)=0.25.
    def cosmat(X):
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        return Xn @ Xn.T

    iu = np.triu_indices(len(M), 1)
    S = cosmat(M)[iu]

    def mean_dist(out_dim):
        R = np.array(random_projection_matrix(64, out_dim, seed=97))
        return float(np.abs(cosmat(M @ R.T)[iu] - S).mean())

    d8, d32 = mean_dist(8), mean_dist(32)
    assert d32 < d8
    assert mean_dist(16) < 0.5


def test_quantize_int8_bounds_and_reconstruction(spark):
    from pyspark.sql import functions as F

    from covid_data_pipeline_spark.operators.similarity import quantize_int8

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [100.0, -50.0, 0.001, 99.9]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = quantize_int8(df, "embedding").collect()
    by_id = {r["vec_id"]: r for r in out}

    for r in out:
        assert all(-127 <= q <= 127 for q in r["qvec"])
    assert by_id[3]["qvec"] == [0, 0, 0, 0]

    # reconstruction error per coordinate <= max|x|/127 (half a step)
    for vid, vec in rows:
        r = by_id[vid]
        maxabs = max(abs(x) for x in vec)
        if maxabs == 0:
            continue
        for x, q in zip(vec, r["qvec"]):
            assert abs(x - q / r["scale"]) <= maxabs / 127 / 2 + 1e-9
    # extremes hit the full range
    assert min(by_id[1]["qvec"]) == -127 and max(by_id[2]["qvec"]) == 127


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 quantization must barely disturb brute-force top-k: >= 80%
    of the exact float neighbors survive per query."""
    from covid_data_pipeline_spark.harness.registry import QUERIES

    exact = QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir).collect()
    quant = QUERIES["similarity_topk_quantized"].fn(spark, sf_dir).collect()
    exact_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    quant_sets: dict = {}
    for r in quant:
        quant_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(exact_sets) == set(quant_sets)
    hits = sum(len(exact_sets[q] & quant_sets[q]) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.8, f"quantized recall {hits}/{total}"


def test_knn_graph_lsh_recall_vs_exact(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        knn_graph_exact,
        knn_graph_lsh,
    )

    e = table(spark, sf_dir, "embeddings")
    exact = knn_graph_exact(e, k=5)
    approx = knn_graph_lsh(e, dim=64, k=5, num_planes=4, multiprobe_bits=1)
    ex = {(r["src_id"], r["nbr_id"]) for r in exact.collect()}
    ap = {(r["src_id"], r["nbr_id"]) for r in approx.collect()}
    assert len(ex) == 5 * e.count()
    # Same weak-cluster corpus as the top-k LSH test (neighbors at
    # cosine ≈ 0.3): 4 planes + 1-bit multiprobe predicts ~47% recall.
    # Floor well under the expectation.
    assert len(ex & ap) >= 0.25 * len(ex)
    # every approx edge must be a real scored pair, ranked within k
    assert all(s != n for s, n in ap)


def _arrow_and_hof(monkeypatch, build):
    """``build()``'s rows on the Arrow path (integral ids), then on the
    HOF path (``_is_integral`` patched to say no)."""
    from covid_data_pipeline_spark.operators import similarity

    arrow = sorted(map(tuple, build().collect()))
    with monkeypatch.context() as m:
        m.setattr(similarity, "_is_integral", lambda df, col: False)
        hof = sorted(map(tuple, build().collect()))
    return arrow, hof


def test_knn_graph_lsh_arrow_equals_hof(spark, sf_dir, monkeypatch):
    """The cogrouped numpy scorer must be BIT-identical to the HOF fold
    (same dim-sequential accumulation order, rounding left in the JVM,
    margin prune a strict superset of the rounded top-k) — in both the
    plain and the label (hard-negative / bitext) modes."""
    from covid_data_pipeline_spark.operators.similarity import knn_graph_lsh

    e = table(spark, sf_dir, "embeddings")
    for kwargs in (
        {},
        {"label_col": "label"},
        {"num_planes": 4, "multiprobe_bits": 1},
    ):
        arrow, hof = _arrow_and_hof(
            monkeypatch, lambda: knn_graph_lsh(e, dim=64, k=5, **kwargs)
        )
        assert hof == arrow and len(hof) > 0, kwargs


def test_string_ids_take_the_hof_path(spark, sf_dir, monkeypatch):
    """Non-integral ids never reach the cogrouped scorers (their output
    schema is ``long``): zero-padded string ids sort like the integers,
    so both operators return the integral-id result, relabelled."""
    from covid_data_pipeline_spark.operators import similarity

    e = table(spark, sf_dir, "embeddings")
    s = e.withColumn("vec_id", F.format_string("%08d", "vec_id"))

    def pad(rows):
        return sorted((f"{a:08d}", f"{b:08d}", sim) for a, b, sim in rows)

    want_knn = pad(similarity.knn_graph_lsh(e, dim=64, k=5).collect())
    want_dup = pad(
        similarity.embedding_neardup_pairs(e, dim=64, threshold=0.3).collect()
    )

    def refuse(*args, **kwargs):
        raise AssertionError("string ids reached a cogrouped scorer")

    monkeypatch.setattr(similarity, "_cogroup_bucket_scores", refuse)
    monkeypatch.setattr(similarity, "_cogroup_neardup_scores", refuse)
    got_knn = sorted(map(tuple, similarity.knn_graph_lsh(s, dim=64, k=5).collect()))
    got_dup = sorted(
        map(tuple, similarity.embedding_neardup_pairs(s, dim=64, threshold=0.3).collect())
    )
    assert got_knn == want_knn and len(want_knn) > 0
    assert got_dup == want_dup and len(want_dup) > 0


def test_embedding_neardup_arrow_equals_hof(spark, sf_dir, monkeypatch):
    """The cogrouped within-bucket pair scorer must be BIT-identical to
    the HOF cosine join (same dot/norm fold order, division op order,
    ROUND + threshold in the JVM). Low threshold so real pairs exist."""
    from covid_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    e = table(spark, sf_dir, "embeddings")
    arrow, hof = _arrow_and_hof(
        monkeypatch, lambda: embedding_neardup_pairs(e, dim=64, threshold=0.3)
    )
    assert hof == arrow and len(hof) > 0


def test_knn_graph_lsh_caps_degenerate_bucket(spark):
    import math

    from covid_data_pipeline_spark.operators.similarity import knn_graph_lsh

    # 300 identical unit vectors collapse into ONE bucket; the cap must
    # bound candidate generation instead of producing 300² pairs.
    dim = 8
    rows = [(i, [1.0] + [0.0] * (dim - 1)) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = knn_graph_lsh(
        df, dim=dim, k=5, num_planes=4, max_bucket_size=100
    )
    assert capped.count() == 0  # whole mega-bucket dropped, no blowup
    uncapped = knn_graph_lsh(
        df, dim=dim, k=5, num_planes=4, max_bucket_size=None
    )
    # k neighbors per item still come out when uncapped
    assert uncapped.count() == 300 * 5


def test_cogroup_scorer_chunked_path_equals_hof(spark, monkeypatch):
    """Force the Arrow scorer's 1024-row chunk boundary (sf0.01 buckets
    are ~40 rows, so oracle parity alone never exercises chunking): a
    2.5k-vector corpus collapsed into few buckets must still equal the
    HOF path exactly, across chunk seams."""
    from covid_data_pipeline_spark.operators.similarity import knn_graph_lsh

    dim = 8
    # few distinct sign patterns -> buckets of ~1.25k rows each; with
    # 9 probe masks the l-side per bucket crosses several 1024-chunks
    rows = [
        (i, [(1.0 if (i >> b) & 1 else -1.0) for b in range(2)]
            + [0.1 * (i % 7 - 3)] * (dim - 2))
        for i in range(2500)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    arrow, hof = _arrow_and_hof(
        monkeypatch, lambda: knn_graph_lsh(df, dim=dim, k=5, num_planes=4)
    )
    assert hof == arrow and len(hof) == 2500 * 5


def test_standardize_embeddings_pretrained_stats_zero_shuffle(spark):
    from covid_data_pipeline_spark.operators.similarity import (
        standardize_embeddings,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 10.0]), (1, [3.0, 30.0]), (2, [5.0, 50.0])],
        "vec_id long, embedding array<double>",
    )
    # stats derived by hand: dim0 mean 3 sd 2, dim1 mean 30 sd 20
    out = standardize_embeddings(df, stats=[(3.0, 2.0), (30.0, 20.0)])
    got = {r["vec_id"]: r["z_embedding"] for r in out.collect()}
    assert got[0] == [-1.0, -1.0] and got[2] == [1.0, 1.0]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # apply phase is purely map-side


def test_standardize_embeddings_computed_stats_center_corpus(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        standardize_embeddings,
    )

    e = table(spark, sf_dir, "embeddings")
    z = standardize_embeddings(e)
    stats = z.select(F.posexplode("z_embedding").alias("pos", "v")).agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
    ).collect()[0]
    # standardized corpus is ~zero-mean unit-variance overall
    assert abs(stats["mu"]) < 0.01 and abs(stats["sd"] - 1.0) < 0.01


def test_knn_graph_on_quantized_vectors_recall(spark, sf_dir):
    """The memory-lean composition for 100 TB graph builds: int8
    vectors (4x fewer shuffle bytes) dequantized on the fly feeding the
    LSH kNN graph — edge recall vs the float graph stays high because
    int8 reconstruction error (~1e-2 cosine) rarely reorders top-5
    neighbors, and bucket assignment is sign-based (robust to it)."""
    from covid_data_pipeline_spark.operators.similarity import (
        knn_graph_lsh,
        quantize_int8,
    )

    e = table(spark, sf_dir, "embeddings")
    q = quantize_int8(e.select("vec_id", "embedding"), "embedding")
    deq = q.select(
        "vec_id",
        F.transform(
            "qvec", lambda x: x.cast("double") / F.col("scale")
        ).alias("embedding"),
    )
    float_graph = knn_graph_lsh(e, dim=64, k=5, num_planes=4)
    int8_graph = knn_graph_lsh(deq, dim=64, k=5, num_planes=4)
    fg = {(r["src_id"], r["nbr_id"]) for r in float_graph.collect()}
    ig = {(r["src_id"], r["nbr_id"]) for r in int8_graph.collect()}
    assert len(ig) > 0
    # same LSH candidates, scores perturbed ≤ ~1e-2 → high edge overlap
    assert len(fg & ig) >= 0.8 * len(fg)


def test_pagerank_lsh_agrees_with_exact_graph(spark):
    """The LSH-edge PageRank approximates the exact-graph rank; on a
    corpus with real cluster structure the two must agree on who the
    central items are. (The sf testdata's embeddings are near-random —
    cosine ≈ 0.3 neighbors — where centrality is noise by construction,
    so the corpus here is planted: tight clusters rank high, scattered
    outliers rank low, in BOTH graphs.)"""
    import numpy as np

    from covid_data_pipeline_spark.operators.graph import pagerank_int
    from covid_data_pipeline_spark.operators.similarity import (
        knn_graph_exact,
        knn_graph_lsh,
    )

    rng = np.random.RandomState(7)
    dim, rows = 16, []
    vid = 0
    for _ in range(10):  # 10 tight clusters of 10
        center = rng.randn(dim)
        center /= np.linalg.norm(center)
        for _ in range(10):
            v = center + 0.02 * rng.randn(dim)
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    for _ in range(60):  # scattered outliers
        v = rng.randn(dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    pr_ex = pagerank_int(
        knn_graph_exact(e, k=5), src="src_id", dst="nbr_id", iters=5
    ).collect()
    pr_ap = pagerank_int(
        knn_graph_lsh(e, dim=dim, k=5, num_planes=6),
        src="src_id", dst="nbr_id", iters=5,
    ).collect()
    top = 50  # > #cluster-members/2, < #cluster-members
    def _top(rows_):
        return {
            r["node"]
            for r in sorted(rows_, key=lambda r: (-r["rank"], r["node"]))[:top]
        }
    clustered = set(range(100))
    # cluster members dominate the head of BOTH rankings...
    assert len(_top(pr_ex) & clustered) >= 0.9 * top
    assert len(_top(pr_ap) & clustered) >= 0.8 * top
    # ...so the two heads mostly agree
    assert len(_top(pr_ex) & _top(pr_ap)) >= 0.5 * top
    # both distributions conserve mass up to floor leakage
    for rows_ in (pr_ex, pr_ap):
        assert 0 <= 10**12 - sum(r["rank"] for r in rows_) < 10**7


# --- jaccard_join_prefix ---------------------------------------------------


def _brute_jaccard(rows, k, num, den):
    """Pure-Python exact reference: all pairs with den·I ≥ num·U."""
    def shingles(text):
        toks = text.lower().split()
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingles(t) for i, t in rows}
    ids = sorted(sets)
    out = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and den * i >= num * u:
                out.add((a, b))
    return out


def test_prefix_jaccard_matches_bruteforce_exactly(spark):
    from covid_data_pipeline_spark.operators.dedup import jaccard_join_prefix

    import random

    rng = random.Random(11)
    vocab = [f"w{j}" for j in range(60)]
    rows = []
    for i in range(30):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(25))))
    # planted mutant near-dups: copy with a few token swaps
    for i in range(30, 40):
        base = rows[i - 30][1].split()
        base[3] = "zz"
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_join_prefix(
            df, shingle_k=3, threshold=0.6
        ).collect()
    }
    assert got == _brute_jaccard(rows, 3, 3, 5)
    assert got  # non-vacuous: the mutants must actually pair


def test_prefix_jaccard_short_docs_and_invariance(spark):
    from covid_data_pipeline_spark.operators.dedup import jaccard_join_prefix

    rows = [
        (1, "tiny doc"),
        (2, "tiny doc"),
        (3, "other text"),
        (4, "alpha beta gamma delta epsilon zeta"),
        (5, "alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_join_prefix(df.repartition(1), threshold=0.5).collect()
    }
    b = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_join_prefix(df.repartition(16), threshold=0.5).collect()
    }
    assert a == b
    assert (1, 2, 1.0) in a
    # 4 vs 5: shingles of 6 tokens → 4 each, sharing 3 → J = 3/5 = 0.6
    assert (4, 5, 0.6) in a


def test_prefix_jaccard_caps_degenerate_corpus(spark):
    from covid_data_pipeline_spark.operators.dedup import jaccard_join_prefix

    rows = [(i, "same exact boilerplate text here") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = jaccard_join_prefix(df, threshold=0.9, max_token_bucket=50)
    # every posting bucket exceeds the cap: bounded result, no n² blowup
    assert out.count() == 0
    uncapped = jaccard_join_prefix(df.limit(20), threshold=0.9, max_token_bucket=None)
    assert uncapped.count() == 190  # 20 choose 2


def test_margin_mutual_pairs_exact_properties(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        knn_graph_exact,
        margin_mutual_pairs,
    )

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "side", F.pmod(F.col("vec_id"), F.lit(2))
    )
    edges = knn_graph_exact(emb, k=5, label_col="side")
    pairs = margin_mutual_pairs(edges, threshold_bp=10_000).collect()
    assert len(pairs) > 0
    sides = {
        r["vec_id"]: r["side"] for r in emb.select("vec_id", "side").collect()
    }
    seen = set()
    for r in pairs:
        a, b, m = r["id_a"], r["id_b"], r["margin_bp"]
        assert a < b
        # cross-side only, mutual-best margin is always >= 1.0
        assert sides[a] != sides[b]
        assert m >= 10_000
        assert (a, b) not in seen
        seen.add((a, b))
    # each node participates in at most one mutual-best pair
    nodes = [x for ab in seen for x in ab]
    assert len(nodes) == len(set(nodes))


def test_margin_mutual_pairs_lsh_edges_recall(spark, sf_dir):
    from covid_data_pipeline_spark.operators.similarity import (
        knn_graph_exact,
        knn_graph_lsh,
        margin_mutual_pairs,
    )

    emb = table(spark, sf_dir, "embeddings").withColumn(
        "side", F.pmod(F.col("vec_id"), F.lit(2))
    )
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in margin_mutual_pairs(
            knn_graph_exact(emb, k=5, label_col="side")
        ).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in margin_mutual_pairs(
            knn_graph_lsh(
                emb, dim=64, k=5, num_planes=4, multiprobe_bits=1,
                label_col="side",
            )
        ).collect()
    }
    # the LSH-edge miner is the corpus-scale twin: weak-cluster corpus
    # (see test_knn_graph_lsh_recall_vs_exact) predicts ~50% edge
    # recall; mined mutual pairs keep a comparable floor
    assert len(lsh_pairs & exact_pairs) >= 0.2 * len(exact_pairs)


def test_margin_cancels_hub_bias(spark):
    from covid_data_pipeline_spark.operators.similarity import (
        knn_graph_exact,
        margin_mutual_pairs,
    )

    # Planted geometry: (1,2) are a genuine parallel pair (cos ~0.999);
    # node 0 is a HUB near everything on the other side (cos ~0.9 to
    # all) — raw cosine would pair the hub eagerly, but its margin
    # stays ~1 because its own top-k average is just as high.
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, unit(0.40), 0),          # hub side 0
        (1, unit(0.03), 1),          # parallel pair member (side 1)
        (2, unit(0.05), 0),          # its side-0 match
        (3, unit(0.45), 1),
        (4, unit(0.50), 1),
        (5, unit(0.35), 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, side int"
    )
    edges = knn_graph_exact(df, k=3, label_col="side")
    pairs = {
        (r["id_a"], r["id_b"]): r["margin_bp"]
        for r in margin_mutual_pairs(edges).collect()
    }
    assert (1, 2) in pairs
    # the genuine pair's margin clears the hub's by a real gap
    hub_margins = [m for (a, b), m in pairs.items() if a == 0 or b == 0]
    assert all(pairs[(1, 2)] > m for m in hub_margins)


def test_media_phash_neardup_pairs(spark):
    """Perceptual near-dup for media: block-mean pHash (real hash math,
    fake locality-preserving decode) + the generic 64-bit banded
    Hamming join — small payload edits stay within the Hamming budget,
    different payloads don't."""
    import random

    from covid_data_pipeline_spark.operators.dedup import (
        simhash_candidate_pairs,
    )
    from covid_data_pipeline_spark.operators.multimodal import media_phash

    rng = random.Random(21)
    base = bytes(rng.randrange(256) for _ in range(1024))
    # m1 edit: flip a handful of bytes (small visual edit)
    edit = bytearray(base)
    for pos in rng.sample(range(1024), 12):
        edit[pos] = (edit[pos] + 7) % 256
    other = bytes(rng.randrange(256) for _ in range(1024))
    rows = [
        ("m0", base),
        ("m1", bytes(edit)),
        ("m2", other),
        ("m3", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    ph = media_phash(df, fake=True)
    got = {r["media_id"]: r["phash"] for r in ph.collect()}
    assert got["m3"] is None
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(got["m0"], got["m1"]) <= 7      # near-dup stays close
    assert ham(got["m0"], got["m2"]) > 7       # unrelated stays far
    # determinism under repartitioning
    again = {
        r["media_id"]: r["phash"]
        for r in media_phash(df.repartition(3), fake=True).collect()
    }
    assert {k: v for k, v in got.items() if v is not None} == {
        k: v for k, v in again.items() if v is not None
    }
    # composed banded join finds exactly the planted pair
    pairs = simhash_candidate_pairs(
        ph.filter(F.col("phash").isNotNull()),
        id_col="media_id",
        sig_col="phash",
        max_hamming=7,
        bands=8,
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {("m0", "m1")}


def test_portable_minhash_recall_matches_default_path(spark, sf_dir):
    """The portable (md5-prefix) MinHash path is a different hash family,
    not a different algorithm: planted-pair recall must hold exactly like
    the xxhash64 default, and the verified-Jaccard values for pairs BOTH
    paths emit must agree (Jaccard is over the shingle SET — same
    set-cardinality arithmetic whichever 'names' the hashes use, modulo
    hash collisions, which the distinct-count assertion bounds)."""
    d = _with_mutants(table(spark, sf_dir, "documents"))
    n_docs = table(spark, sf_dir, "documents").count()
    default_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup(d, threshold=0.6).collect()
    }
    portable_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup(d, threshold=0.6, portable=True).collect()
    }
    for pairs in (default_pairs, portable_pairs):
        planted = [k for k in pairs if k[1] == k[0] + MUTANT_OFFSET]
        assert len(planted) >= 0.9 * n_docs
    shared = set(default_pairs) & set(portable_pairs)
    assert len(shared) >= 0.95 * max(len(default_pairs), len(portable_pairs))
    diffs = [k for k in shared if abs(default_pairs[k] - portable_pairs[k]) > 1e-9]
    assert not diffs, f"jaccard drift on {len(diffs)} pairs: {diffs[:3]}"


def test_portable_simhash_close_to_default_hamming(spark, sf_dir):
    """Portable simhash signatures come from a different token-hash
    family, so individual bits differ — but the STRUCTURE is the same:
    planted one-token mutants must still land at small Hamming distance
    at the same floor the default path passes."""
    from covid_data_pipeline_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    d = _with_mutants(table(spark, sf_dir, "documents"))
    n_docs = table(spark, sf_dir, "documents").count()
    for portable in (False, True):
        sigs = d.select(
            "doc_id", simhash("text", portable=portable).alias("simhash")
        )
        out = simhash_candidate_pairs(sigs, id_col="doc_id", max_hamming=3)
        planted = out.filter(
            F.col("id_b") == F.col("id_a") + MUTANT_OFFSET
        ).count()
        assert planted >= 0.7 * n_docs, f"portable={portable}: {planted}"


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """A prefix insertion shifts every token, yet rolling-hash
    boundaries realign: the shifted doc must share most chunk hashes
    with the original — the property fixed-window chunking lacks."""
    import random

    from covid_data_pipeline_spark.operators.chunking import (
        chunk_by_tokens,
        content_defined_chunks,
    )

    rng = random.Random(7)
    words = [f"w{rng.randrange(500)}" for _ in range(3000)]
    base = " ".join(words)
    shifted = "zzz qqq " + base
    df = spark.createDataFrame(
        [(0, base), (1, shifted)], "doc_id long, text string"
    )
    cdc = content_defined_chunks(df, divisor=32)
    rows = cdc.collect()
    h0 = {r["chunk_hash"] for r in rows if r["doc_id"] == 0}
    h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
    shared_cdc = len(h0 & h1) / len(h0)
    assert shared_cdc > 0.9, shared_cdc  # only the first chunk differs

    # fixed windows at the same granularity share (almost) nothing
    import pyspark.sql.functions as F

    fixed = chunk_by_tokens(df, "text", chunk_size=32).select(
        "doc_id", F.md5("chunk_text").alias("h")
    )
    frows = fixed.collect()
    f0 = {r["h"] for r in frows if r["doc_id"] == 0}
    f1 = {r["h"] for r in frows if r["doc_id"] == 1}
    assert len(f0 & f1) / len(f0) < 0.1


def test_cdc_chunks_cover_and_partition_invariant(spark):
    from covid_data_pipeline_spark.operators.chunking import (
        content_defined_chunks,
    )

    df = spark.createDataFrame(
        [(i, " ".join(f"t{(i * 31 + j) % 97}" for j in range(200)))
         for i in range(20)],
        "doc_id long, text string",
    )
    import pyspark.sql.functions as F

    out = content_defined_chunks(df)
    # chunks tile each document exactly: token counts sum to doc tokens
    per_doc = {
        r["doc_id"]: r["s"]
        for r in out.groupBy("doc_id")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    }
    assert all(v == 200 for v in per_doc.values())
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, content_defined_chunks(df.repartition(7)).collect()))
    assert a == b


def test_ivf_lattice_recall_and_determinism(spark, sf_dir):
    """The exact-replay lattice IVF (round 5): recall floor vs brute
    force, plus partitioning-independence of the trained integer
    centroids — the property the DuckDB oracle hash certifies."""
    from covid_data_pipeline_spark.operators.clustering import (
        train_centroids_lattice,
    )
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_ivf_lattice,
    )

    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(e, queries, k=5).collect()
    }
    ap = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_ivf_lattice(
            e, queries, k=5, n_centroids=16, nprobe=4, iters=2
        ).collect()
    }
    assert len(exact & ap) >= 0.4 * len(exact)

    cents = train_centroids_lattice(e, k=16, iters=2)
    cents2 = train_centroids_lattice(e.repartition(7), k=16, iters=2)
    assert cents == cents2  # exact integer trajectory
    # pretrained centroids reproduce the cold-path result exactly
    pre = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_ivf_lattice(
            e, queries, k=5, nprobe=4, centroids=cents
        ).collect()
    }
    assert pre == ap


def test_lof_planted_outlier(spark):
    """A tight 3-D cluster + one far point: the far point's LOF is
    >> 1, cluster members sit near 1; an exact-duplicate pile (the
    reach-sum-0 degeneracy) scores exactly 1 via the greatest(.,1)
    guard."""
    from covid_data_pipeline_spark.operators.similarity import lof_scores

    cluster = [
        (i, [float(i % 3) * 0.01, float(i % 5) * 0.01, 0.0])
        for i in range(20)
    ]
    rows = cluster + [(99, [5.0, 5.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = {r["vec_id"]: r["lof"] for r in lof_scores(df, k=3).collect()}
    assert got[99] > 10.0, got[99]
    assert all(v < 2.0 for k, v in got.items() if k != 99)

    dups = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(6)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    got2 = {r["vec_id"]: r["lof"] for r in lof_scores(dups, k=3).collect()}
    assert all(v == 1.0 for v in got2.values()), got2
