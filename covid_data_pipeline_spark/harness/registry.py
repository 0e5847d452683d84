"""Query registry: the driver contract's backing store.

Each :class:`QuerySpec` pairs a PySpark implementation (``fn(spark,
sf_dir) -> DataFrame``) with the equivalent ANSI SQL for the DuckDB
oracle (``oracle``), per the __spark_entry__ contract. Column names are
aliased identically on both sides (the driver sorts columns by name and
hashes values). ``oracle=None`` marks genuinely non-SQL-expressible
operators — the driver records a rows-only check for those.

Float policy: any aggregated/derived DOUBLE is ROUNDed (usually to 2) on
BOTH sides so cross-engine summation-order noise cannot flip the value
hash. Window ORDER BYs always carry a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from covid_data_pipeline_spark.harness.tables import load_tables, table  # noqa: F401

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL, or None for rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py's headline set
    # Required for oracle=None: one line on WHY the query cannot be
    # SQL-replayed (rendered in QUERIES.md; tripwire in _load_all).
    rows_only_reason: str | None = None


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    rows_only_reason: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench,
            rows_only_reason=rows_only_reason,
        )
        return fn

    return deco


# The external driver verifies a 50-query window in registration order.
# Round-10 FINAL rotation (VERDICT r9 ask #1 == VERIFIED.json::
# window_r10): keep the 8-query regression core as a drift canary,
# then every never-driver-verified oracle query — the 12 round-9
# additions (LOO encoding, classification report, calibration+Brier,
# BH FDR, Hilbert, LOF, FK audit, corr matrix, seasonal strength,
# Spearman, ROC-AUC, RANSAC), the 10 early round-10 additions (Cohen's
# kappa, JSD, Cramér's V, entropy profile, ECE, G² collocations,
# Theil U, robust anomalies, McNemar, trimmed means), and the 14 late
# round-10 additions (Kruskal-Wallis, Brown-Forsythe, Welch t, average
# precision, lift deciles, Wasserstein drift, TV+Hellinger, Fleiss
# kappa, Cronbach alpha, Monroe log-odds keywords, CMH, weighted
# kappa, Friedman, Jonckheere-Terpstra — each mirror-green at sf0.01 +
# sf0.001 when added) — landing EVERY oracle-backed query
# driver-proven, and spend the remaining 6 slots on drift re-checks
# of the oldest remaining greens (r2-r3 era; the 14 displaced
# re-checks rejoin in r11 per VERIFIED.json::suggested_window_r11).
# Everything not listed keeps its module registration order after
# these; oracle-less (rows-only) queries always sort last.
WINDOW_PRIORITY: tuple[str, ...] = (
    # --- regression core (driver-proven r1-r9; canary against drift) ---
    "mart_analytics",
    "agg_rollup",
    "filter_project",
    "join_left_composite",
    "surrogate_key_dim",
    "window_lag_alert",
    "curation_pipeline_docs",
    "tpch_q12_priority_shipping",
    # --- never-driver-verified fills (VERIFIED.json::suggested_window_r10:
    #     the 12 round-9 additions; completes 334/334 driver-proven) ---
    "orders_loo_target_encoding",
    "langid_classification_report",
    "docs_quality_calibration",
    "events_bh_fdr_cohorts",
    "geo_hilbert_layout",
    "embeddings_lof_scores",
    "referential_integrity_audit",
    "lineitem_corr_matrix",
    "events_seasonal_strength",
    "lineitem_spearman_corr",
    "quality_score_auc",
    "events_ransac_trend",
    # --- round-10 additions (never driver-verified; mirror-green) ---
    "events_annotator_kappa",
    "events_js_divergence",
    "orders_cramers_v_matrix",
    "lineitem_entropy_profile",
    "docs_quality_ece",
    "docs_bigram_collocations",
    "orders_theil_u",
    "events_robust_anomalies",
    "events_mcnemar_raters",
    "orders_trimmed_prices",
    "events_kruskal_wallis",
    "events_brown_forsythe",
    "orders_welch_ttest",
    "quality_score_avg_precision",
    "quality_score_lift_deciles",
    "events_wasserstein_drift",
    "docs_tv_hellinger_by_source",
    "events_fleiss_kappa",
    "docs_cronbach_quality",
    "docs_log_odds_keywords",
    "orders_cmh_priority_status",
    "events_weighted_kappa",
    "events_friedman_daily",
    "orders_jonckheere_priority",
    # --- drift re-checks: oldest remaining greens (r2-r3 era) ---
    "pack_sequences_greedy",
    "pivot_event_type",
    "range_join_clicks_before_purchase",
    "regexp_extract_props",
    "rollup_lineitem",
    "running_total",
)

# Every query module must import cleanly: a blanket try/except here once
# let an ImportError silently drop whole modules (and shrink the driver's
# verification surface). The count assertion is the tripwire for any
# regression that swallows registrations some other way.
MIN_EXPECTED_QUERIES = 362


def _load_all() -> None:
    # Import for side effect: each module registers its QuerySpecs.
    from covid_data_pipeline_spark.harness import (  # noqa: F401
        queries_core,
        queries_dedup,
        queries_events,
        queries_geo,
        queries_olap,
        queries_similarity,
        queries_temporal,
        queries_text,
        queries_tpch,
        queries_training,
    )

    assert len(QUERIES) >= MIN_EXPECTED_QUERIES, (
        f"query registry shrank: {len(QUERIES)} < {MIN_EXPECTED_QUERIES} — "
        "a module stopped registering"
    )
    missing = [n for n in WINDOW_PRIORITY if n not in QUERIES]
    assert not missing, f"WINDOW_PRIORITY names unknown queries: {missing}"
    no_oracle_in_window = [
        n for n in WINDOW_PRIORITY if QUERIES[n].oracle is None
    ]
    assert not no_oracle_in_window, (
        f"driver-window queries must be oracle-backed: {no_oracle_in_window}"
    )
    unjustified = [
        n for n, s in QUERIES.items()
        if s.oracle is None and not s.rows_only_reason
    ]
    assert not unjustified, (
        f"rows-only queries must carry a rows_only_reason: {unjustified}"
    )

    def _rank(item: tuple[str, QuerySpec]) -> tuple[int, int]:
        name, spec = item
        if name in WINDOW_PRIORITY:
            return (0, WINDOW_PRIORITY.index(name))
        # stable: dict preserves module registration order within ties
        return (1 if spec.oracle is not None else 2, 0)

    ordered = sorted(QUERIES.items(), key=_rank)
    QUERIES.clear()
    QUERIES.update(ordered)


_load_all()
