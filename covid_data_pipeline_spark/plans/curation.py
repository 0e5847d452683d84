"""End-to-end training-corpus curation: the LLM-data pipeline the
north-star brief asks for, assembled from the engine's own operators.

    quality filter → exact dedup → near-dup grouping (MinHash/LSH →
    connected components → canonical keep) → benchmark decontamination
    → deterministic train/valid/test split → token-budget packing

Every stage is one of the already-tested operators; this module only
owns the composition and the stage-count report. Shuffle budget at
scale: quality is a pushed-down filter (no shuffle); exact dedup one
hash shuffle on the fingerprint; minhash one band-bucket shuffle plus
log-n star rounds; decontamination a broadcast semi-join (no corpus
shuffle); split a pure filter-free projection; packing one window
shuffle on the split key. Nothing collects to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import bpe_token_count, quality_score
from covid_data_pipeline_spark.operators.decontam import contaminated_ids
from covid_data_pipeline_spark.operators.dedup import exact_dedup, minhash_dedup
from covid_data_pipeline_spark.operators.graph import connected_components
from covid_data_pipeline_spark.operators.sampling import hash_split, pack_greedy_bins

__all__ = ["CurationConfig", "curate_documents"]


@dataclass(frozen=True)
class CurationConfig:
    text_col: str = "text"
    id_col: str = "doc_id"
    min_quality: float = 0.3
    min_tokens: int = 5
    shingle_k: int = 3
    num_hashes: int = 16
    bands: int = 4
    jaccard_threshold: float = 0.6
    decontam_ngram: int = 8
    train_pct: int = 80
    valid_pct: int = 10
    pack_budget_tokens: int = 2048


def curate_documents(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    cfg: CurationConfig = CurationConfig(),
    metrics: dict[str, Observation] | None = None,
) -> DataFrame:
    """Run the full curation chain; returns the curated corpus with
    ``split`` (train/valid/test), ``n_tokens``, and ``bin_id`` (packing
    bin within the split). Deterministic end-to-end: every stage keys
    off content hashes or id hashes, never rand() — a re-run on any
    partitioning reproduces the same corpus bit-for-bit.

    Pass an empty dict as ``metrics`` to get per-stage row counts FOR
    FREE: each stage is tagged with ``df.observe`` (Spark's Observation
    API), whose aggregates ride the existing job — no second pass per
    stage, unlike calling ``count()`` after the fact, which re-executes
    the chain once per stage. After the first action on the returned
    frame, ``metrics[stage].get["rows"]`` holds the count that flowed
    through each stage boundary.
    """
    t, i = cfg.text_col, cfg.id_col

    def obs(df: DataFrame, stage: str) -> DataFrame:
        if metrics is None:
            return df
        o = Observation()
        metrics[stage] = o
        return df.observe(o, F.count(F.lit(1)).alias("rows"))

    docs = obs(docs, "input")

    # 1. Quality gate — pure filter, pushes to the scan.
    q = obs(
        docs.filter(
            (quality_score(t) >= cfg.min_quality)
            & (bpe_token_count(t) >= cfg.min_tokens)
        ),
        "quality",
    )

    # 2. Exact dedup (min-id representative per canonical text).
    exact = obs(exact_dedup(q, text_col=t, id_col=i).select(i, t), "exact_dedup")

    # 3. Near-dup: LSH candidate pairs → transitive groups → keep the
    #    canonical (minimum-id) member of each duplicate cluster.
    #    Persist: the deduped relation feeds the pair generator AND the
    #    keep-join below (Catalyst does not share subtrees). persist(),
    #    NOT localCheckpoint: a lazy checkpoint truncates the plan the
    #    Observation metrics ride on (stage counts report 0 — caught by
    #    test_observation_metrics_match_recomputed_counts). An eager
    #    localCheckpoint keeps the metrics (traced curation_corpus: 18
    #    jobs, rows 5000/5000/5000/4759/4659, as with persist) but is
    #    slower: over 4 interleaved curation_corpus pairs at local[4]
    #    (ABBENCH_r17_persist.json) persist won 3 and tied 1 on
    #    ops_per_s (median 0.212 against 0.186) and won all 4 on
    #    op_p50_s (4.13-5.12 s against 5.03-5.48 s). The cached relation is the post-dedup
    #    (id, text) slice, small relative to the corpus, but nothing
    #    unpersists it: that leak is still open, and a caller with a
    #    long-lived session must clear it via spark.catalog.clearCache().
    exact = exact.persist()
    pairs = minhash_dedup(
        exact,
        text_col=t,
        id_col=i,
        shingle_k=cfg.shingle_k,
        num_hashes=cfg.num_hashes,
        bands=cfg.bands,
        threshold=cfg.jaccard_threshold,
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    # Docs in no near-dup cluster keep themselves; clustered docs
    # survive only if they ARE the cluster minimum.
    drop = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(i)
    )
    kept = obs(exact.join(drop, i, "left_anti"), "neardup_kept")

    # 4. Benchmark decontamination (broadcast semi-join on hashed grams).
    if benchmark is not None:
        dirty = contaminated_ids(
            kept, benchmark, text_col=t, id_col=i, ngram=cfg.decontam_ngram
        )
        kept = obs(kept.join(dirty, i, "left_anti"), "decontaminated")

    # 5. Deterministic split + 6. token-budget packing within each split
    #    (packing order = id hash order via the id itself — stable).
    split = hash_split(kept, i, cfg.train_pct, cfg.valid_pct)
    sized = split.withColumn("n_tokens", bpe_token_count(t))
    return pack_greedy_bins(
        sized,
        group_col="split",
        order_col=i,
        size_col="n_tokens",
        budget=cfg.pack_budget_tokens,
    )
