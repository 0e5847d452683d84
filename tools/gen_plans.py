"""Regenerate PLANS.md: formatted physical plans + scale notes for every
bench=True query. Run from the repo root: ``python tools/gen_plans.py``."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES = {
    "docs_bigram_collocations": "One bigram rollup (map-side combining) + two |vocab|-sized marginal regroups joined back by key + scalar N broadcast; all four G2 terms are nano-rounded BIGINTs; top-k plans TakeOrderedAndProject, never a global sort. At 100 TB the min_count prune keeps the scored relation model-sized.",
    "dedup_sorted_neighborhood": "SNM blocking: distributed global rank (range buckets over broadcast min/max - no single-partition sort) + 1-D neighbor-bucket exactly-once join + Jaccard verify on the O(n*w) candidates. The oracle's plain ROW_NUMBER replays the rank.",
    "events_join_size_cm": "ONE grouped corpus pass builds BOTH model-sized CM counter relations (r10: cm_sketch(group_cols=[event_type]), explode(depth) + map-side-combining agg); the estimate joins 4x1024 counters - the join itself is never run. Exact side is ONE conditional-count rollup (r10: sum c*p where both positive == the inner-join sum), no join.",
    "geo_hilbert_layout": "Hilbert key is one interpreted F.aggregate fold over 18 levels of exact BIGINT state (linear expression size); same 64-bucket map-side rollup as the Morton audit. Write path at 100 TB: repartitionByRange(hkey) + sortWithinPartitions(hkey); tighter extents than Z-order for the same bucket count.",
    "geo_zorder_layout": "Morton key is pure codegen bit arithmetic; one map-side-combining rollup to 64 file buckets. At 100 TB the write path is repartitionByRange(zkey) + sortWithinPartitions(zkey); this audit prices the zone-map tightness.",
    "mart_analytics": "Two broadcast joins (dims) keep the orders scan shuffle-free until the partial+final hash agg; one window shuffle on nation. At 1000x: orders scan parallelizes by file split; dims still broadcast; agg shuffle carries only group rows.",
    "agg_rollup": "Partial aggregation map-side: shuffle carries |groups x partitions| rows, not 600k. Decimal sums keep values partition-order independent.",
    "filter_project": "Predicates and projection pushed into the parquet scan (PushedFilters/ReadSchema) - scan reads 3 of 11 columns.",
    "join_fact_dim": "Customer dim broadcast: fact side never shuffles for the join; single agg shuffle after.",
    "window_lag_alert": "One shuffle on the window key; all lag columns share the single sorted pass.",
    "text_stats": "Pure projection - zero shuffles; regex work let-bound to one pass per row, parallelism = input splits.",
    "dedup_exact": "One hash shuffle on the md5 fingerprint with map-side partial agg: shuffle is O(distinct docs).",
    "bpe_learn_merges": "One corpus-sized aggregation (word histogram, map-side combine) then vocab-sized iterations: pair-count agg + 1-row argmax collect + codegen'd replace rewrite per merge; lineage checkpointed per round. At 100 TB only the histogram pass scales with the corpus.",
    "dedup_minhash": "Signature is a projection (no shuffle; portable md5-prefix hashes so DuckDB replays the whole pipeline); banded self-join is an equi-join on band hash (exchange reused for both sides); verify joins fetch only candidate rows. Hot buckets capped.",
    "similarity_topk_bruteforce": "Query block broadcast; corpus partition-local scoring; WindowGroupLimit bounds the final shuffle to k rows per query per partition.",
    "similarity_topk_lsh": "Bucket equi-join: work proportional to bucket sizes; multiprobe expands the (small) query side only.",
    "similarity_topk_bruteforce_np": "Same shape as bruteforce but Arrow-batched BLAS matmul per partition.",
    "similarity_topk_ivf": "Corpus assignment vectorized; probe join touches nprobe/n_centroids of the corpus; at warehouse scale the cell id becomes a partition column and the probe join becomes partition pruning.",
    "events_tumbling_window": "Keyed agg on (window,event_type) with partial agg; streaming twin bounds state via watermark.",
    "events_session_window": "Session windows merge per user in one keyed pass.",
    "rollup_lineitem": "ROLLUP = one Expand + single hash aggregate; grand-total sums in decimal.",
    "sql_pricing_summary": "SQL-string surface; same plan as the DataFrame form (one scan, partial+final agg).",
    "asof_join_clicks_purchases": "Union + ONE shuffle on user_id + window carry-forward - no range join, linear per key.",
    "tpch_q3_shipping_priority": "Selective filters pushed to all three scans before the joins; customer side broadcast.",
    "tpch_q6_revenue_forecast": "Pure scan-filter-aggregate: all four predicates and the 4-of-11 column projection reach the parquet scan; single partial+final agg, no shuffle of data rows.",
    "tpch_q9_product_profit": "Part filter pushed before the 4-way join chain; part and supplier sides broadcast so lineitem shuffles once (orderkey join), then one agg shuffle on (nation, year). Decimal profit sums.",
    "tpch_q13_customer_distribution": "Left join customer->orders shuffles on custkey with the comment filter pushed to the orders scan; two-level agg (per-customer count, then histogram) - second shuffle carries one row per customer.",
    "tpch_q18_large_volume_customer": "The HAVING subquery is a semi-join against the pre-aggregated lineitem rollup: partial agg shrinks the shuffle to one row per orderkey before any join touches orders/customer.",
    "moving_avg_7d": "Window reuses the daily rollup's event_type hash partitioning: one shuffle total; RANGE frame over epoch-day int = gap-aware without a calendar join. Integer-cent sums avoid a cross-engine rounding hazard, not a perf one.",
    "pivot_event_type": "Explicit pivot value list = no distinct-values pre-scan job; pivot is a single partial+final agg with the column expansion map-side.",
    "curation_pipeline_docs": "End-to-end chain: each stage's output feeds the next without driver collects; the LSH+components stage dominates (iterative joins with localCheckpoint lineage cuts); quality/dedup/decontam stages are single-shuffle each.",
    "dedup_duplicate_groups": "LSH candidate pairs (banded equi-join, hot-bucket cap) feed components: per-partition union-find pre-contraction (Arrow-batched, union-preserving) collapses local paths before the large-star/small-star rounds, then O(log n) bounded-shuffle rounds with lineage checkpoints; canonical map joins back by doc_id.",
    "graph_components_docs": "Per-partition union-find pre-contraction (one Arrow pass, edge set shrinks to local star forests) then large-star/small-star alternation: every round is two self-equi-joins + dedup with monotone-decreasing edge set; localCheckpoint truncates lineage so round N doesn't replan rounds 1..N-1; 1M-node chain converges in ONE round post-contraction (probe-counted).",
    "dedup_passages_global": "Passage explode is shuffle-free; keep-first is a min-struct aggregate on passage hash (map-side combine absorbs hot passages) - no windowed row_number over the full corpus.",
    "decontaminate_docs": "Benchmark 8-gram set is hashed and broadcast; the corpus pass is a shuffle-free semi-join probe per doc - contaminated docs drop map-side.",
    "docs_gopher_filter": "All seven rules evaluate in one codegen'd projection pass (nested let binds the token split once); the per-source rollup is the only shuffle and carries booleans already reduced to ints.",
    "doc_perplexity_bigram": "Bigrams via zip_with: projection only. One shuffle builds bigram counts; context counts regroup FROM those counts (map-side, no second corpus pass); vocab rides a broadcast cross join; scoring joins are hash joins on (w1,w2)/(w1) with the model relation corpus-bounded - prune with min_count to broadcast.",
    "similarity_topk_ivf_pretrained": "Same probe plan as cold IVF minus the k-means training jobs: centroid assignment is Arrow/BLAS map-side, probe equi-join touches nprobe/n_centroids of the corpus.",
    "events_variant_props": "parse_json runs once per row in the projection; every variant_get after it is a binary path lookup, not a re-parse - the agg shuffle carries only (event_type, k) pairs. At 100 TB the VARIANT column would be materialized at ingest and this plan starts at the lookup.",
    "skew_profile_events": "Map-side-combined count per key, then the single-row totals re-enter via a broadcast join - no full-key-set window, so the diagnostic itself cannot straggle on the skew it measures. TakeOrderedAndProject caps the output.",
    "mixture_sample_docs": "Per-group counts reduce to |groups| rows and broadcast back as rates; the hash filter evaluates in the scan projection - the corpus is never shuffled or expanded.",
    "graph_kcore_docs": "Iterative peel: per round a symmetric degree agg (map-side combined) + two endpoint semi-joins, localCheckpoint lineage cut, edge-count fixpoint stop. Round count = peel depth; at 1000x the edge list each round stays two shuffles of the shrinking edge set.",
    "events_holt_winters": "One (type, day) count shuffle, then the seasonal recurrence folds JVM-side inside F.aggregate over the collected per-type series - state O(period + days/type), never O(events). The collect_list window is the only exchange.",
    "pareto_front_parts": "Two-phase skyline: local sweep per partition (one pid exchange + per-partition sort, JVM codegen) discards all locally dominated points; the global sweep sorts only the tiny survivor set in one task. No dominance self-join anywhere - the oracle's NOT EXISTS form is the quadratic plan this operator exists to avoid.",
    "mixture_resample_docs": "Same broadcast-rates shape plus a partition-local explode behind a pushable reps > 0 filter: replication happens where the row lives; dropped groups never expand.",
    "dedup_keep_best": "Single map-side-combining max_by(struct) aggregate per cluster key - no windowed row_number, so a boilerplate mega-cluster collapses per task before the shuffle.",
    "funnel_ordered_steps": "Stage-filtered corpus shuffles ONCE on user_id; the strict-> fold runs inside a codegen'd sorted-struct aggregate - the SQL formulation's k-1 stepwise self-joins never materialize.",
    "vocab_oov_rate": "Top-K vocab is a TakeOrderedAndProject over doc-frequency counts, broadcast back for membership; the occurrence relation is counted map-side and never shuffles for the vocab join.",
    "strip_duplicate_spans_docs": "Two gram-keyed shuffles (distinct doc-gram collapse -> df count; hot-start regroup); the gram projection is recomputed per consumer rather than materialized (cheap codegen map beats persisting the token-mass explode); interval merge + token filtering are in-row HOFs - per-token rows never shuffle.",
    "knn_graph_lsh": "Both-sides-large candidate generation restricted to LSH bucket collisions (work ~ sum of bucket^2, hot buckets capped), scored in a COGROUPED Arrow task per bucket: numpy accumulates every pair's dot dim-sequentially (bitwise equal to the HOF fold - shared oracle), emits a margin-pruned per-src superset of the rounded top-k, and the downstream WindowGroupLimit sees <= (k+ties) rows per (src,bucket) instead of the full fan-out. 12x at 100k vectors vs the per-pair interpreted fold.",
    "similarity_topk_pq": "Codebook training shuffles codebook-sized partial sums only (Arrow batches pre-combine); encode is a zero-shuffle Arrow map; ADC search scans the 32x-compressed code column with per-batch top-k so the window sees O(batches x queries x k) rows; the shortlist rides a broadcast into the exact re-rank join - the full-precision corpus is probed, never scanned.",
    "similarity_topk_pq_pretrained": "Same encode+ADC+rerank plan as the cold PQ query minus the training jobs (codebooks memoized per corpus) - the steady-state number a serving workload pays.",
    "bitext_margin_pairs_lsh": "LSH bucket candidates (sum of bucket^2, hot buckets capped) scored by the cogrouped Arrow scorer replace the quadratic exact graph; the margin miner downstream is bounded by the EDGE LIST either way. Mining cost is bounded by the kNN EDGE LIST, never the vectors: the compact edge projection and the per-node best relation are lineage-cut (r10) so the graph builds ONCE for totals/scored/mutuality consumers; per-node totals re-enter via two node-keyed hash joins; rank-1 windows see <= k rows per key. Swap in knn_graph_lsh edges and the same plan mines a billion-pair graph.",
    "events_mad_outliers": "Domain compression: both medians are selected from the distinct-value COUNT relation (|groups x distinct cents| rows), so no stage sorts or windows raw events; the per-group (median, MAD) pair re-enters through one group-keyed join for a map-side flag.",
    "bm25_search_docs": "One token shuffle builds the posting relation; query terms explode, dedupe and BROADCAST against it; document frequencies are computed over postings semi-joined to the query vocabulary (never |vocab|-wide). Post-match shuffles carry matched postings only; integer-ratio scoring keeps everything codegen'd JVM-side.",
    "market_basket_part_pairs": "Distinct basket relation is lineage-cut (r10) so its scan+distinct shuffle runs once for all four consumers; within-order pair self-join fans out <= basket-size^2 per order (linear in orders, never |parts|^2); singles and the order total re-enter as broadcasts; global top-100 is a TakeOrderedAndProject, not a full sort.",
    "similarity_mmr_rerank": "Shortlist = per-query WindowGroupLimit over one corpus scan against the broadcast query set; pairwise stage is shortlist^2 x |queries| rows (never corpus^2); the greedy loop runs inside ONE applyInPandas keyed by query_id, so any number of queries rerank in a single shuffle. Swap the brute shortlist for the IVF/LSH candidate stage past brute-force scale.",
    "nb_lang_confusion": "Token counts are one map-side-combining groupBy; the |observed (class, token) pairs|-sized model re-enters through a keyed token join (AQE broadcasts while capped vocabs fit); scoring is one (doc, class) groupBy and the argmax a per-doc window. The sparse unseen-token decomposition means no vocab x class grid ever materializes.",
    "events_cuped_experiment": "Per-user unit build is one groupBy; every CUPED moment comes from ONE map-side-combined aggregate into a single-row combine - no per-group re-entry, no window. DECIMAL(38,0) exact moments; ratios are correctly-rounded double divisions.",
    "rfm_customer_segments": "De-weaked r7: NO single-partition NTILE - each quintile is rebuilt from value_order_rank (range buckets over broadcast min/max; the only global windows are the <=256-row bucket-count cumsums) + closed-form NTILE boundaries from a broadcast scalar n. Three bucket-keyed window exchanges of |customers| rows; compact per-customer relations localCheckpointed so the chained ranks never re-run the orders rollup.",
    "dedup_minhash_native": "Production-hash twin of dedup_minhash (xxhash64 instead of md5-prefix): identical plan shape - signature projection, banded equi-join, candidate-only verify; benched to separate oracle-replay hash cost from engine drift.",
    "rolling_distinct_users_7d_hll_portable": "One corpus pass builds per-day HLL registers (map-side-combining max); the 7-day union explodes REGISTERS (<= |days| x 4096 rows), never (day,user) pairs; estimate is a tiny per-day aggregate. At 100 TB the corpus is touched exactly once and every re-windowing reuses the register relation.",
    "embeddings_pca_power": "One Arrow corpus pass emits per-batch int64 X^T X partials (dim^2 rows per BATCH); one map-side-combining DECIMAL aggregate; the 6-step power iteration runs on the collected 64x64 matrix driver-side (centroid pattern); scoring is a zero-shuffle codegen dot product.",
    "events_f2_ams": "depth(16)x explode + one map-side-combining aggregate into 16 BIGINT accumulators; the exact-F2 twin is one per-user rollup. Corpus touched twice total (estimate + verification exact), never joined.",
    "geo_radius_pairs": "3x3 neighbor-cell explode (constant 9x) on one side, home cell on the other, then a plain cell equi-join + BIGINT distance filter: candidate mass is linear at constant point density where the oracle's form is quadratic. AQE skew-splits hot cells like any other join key.",
    "geo_dbscan_clusters": "Same cell-bucketed candidate join feeds neighbor counts (map-side combine), core-core edges, and the O(log n)-round star components; border assignment is one more keyed join + min agg. No all-pairs stage anywhere; every shuffle is bounded by the eps-graph edge count.",
    "interval_overlap_error_windows": "Both merged interval sets explode to 1h cells (explode factor = interval length / cell) and equi-join on the cell key; each overlapping pair matches exactly once at the cell of GREATEST(starts) - no distinct, no cross product. The keyed activity merge is a single-exchange gaps-and-islands window; the KEYLESS error merge uses merge_intervals_global (per-cell merge -> cross-cell CC -> rank over the |islands|-sized result) so no corpus-wide window partition exists anywhere in the plan.",
    "quality_score_lift_deciles": "The regex-scored 3-column base is lineage-cut ONCE (r10: it fed value_order_rank's min/max, bucket-count and rank-join subplans plus the row count - 16 document scans collapsed to 1); grand totals ride the same <=10-row window as the running sums instead of a second per-decile aggregation. Global rank stays the distributed two-level range-bucket construction; the only flat windows are over <=256 bucket rows and <=10 decile rows.",
    "dsir_importance_weights": "Hashed n-gram features are lineage-cut (r10: the md5-explode corpus pass fed model fit AND scoring - 3 executions collapsed to 1), as is the <=n_buckets per-bucket aggregate (totals + domain join). The 1024-row dual model re-enters broadcast; scoring is one groupBy(doc) integer sum.",
}

HEADER = """# PLANS - physical plans of the headline (bench) queries

Generated with `.explain(\"formatted\")` at sf0.001 (plan shape is
scale-invariant; AQE re-plans sizes at runtime). Each plan carries
the 100 TB scale rationale the shape encodes. Regenerate:
`python tools/gen_plans.py`.
"""


def main() -> None:
    from covid_data_pipeline_spark.harness.registry import QUERIES
    from covid_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plans", shuffle_partitions=8)
    out = [HEADER]
    for name, spec in QUERIES.items():
        if not spec.bench:
            continue
        df = spec.fn(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        out.append(f"## {name}\n")
        if name in NOTES:
            out.append(f"**Scale:** {NOTES[name]}\n")
        out.append("```\n" + tree.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({sum(1 for s in out if s.startswith('## '))} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
