"""Training-data curation queries: deterministic split / sample / pack
over the documents table (`operators/sampling.py`). Every query is
oracle-checked — the operators hash with portable integer arithmetic
(Knuth multiplicative), so DuckDB reproduces the exact assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from covid_data_pipeline_spark.functions.text import token_count
from covid_data_pipeline_spark.harness.registry import register, table
from covid_data_pipeline_spark.operators.sampling import (
    hash_split,
    knuth_hash,
    pack_greedy_bins,
    stratified_hash_sample,
)

_KHASH = "(doc_id * 2654435761) % 4294967296"


@register(
    "train_test_hash_split",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_KHASH} % 100 < 80 THEN 'train'
                WHEN {_KHASH} % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("training", "split"),
)
def train_test_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 deterministic split: stable under re-runs, repartitioning
    and incremental appends (unlike randomSplit). Narrow projection —
    no shuffle at any scale."""
    docs = table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "lang", "split")


@register(
    "stratified_hash_sample",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_KHASH} % 10 = 0
    """,
    tags=("training", "sample"),
)
def stratified_hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% subsample; hash independence gives per-stratum
    uniformity with a pure filter (pushes to the scan)."""
    docs = table(spark, sf_dir, "documents")
    return stratified_hash_sample(docs, "doc_id", one_in=10).select(
        "doc_id", "lang", "source"
    )


@register(
    "pack_sequences_greedy",
    """
    WITH sized AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 2048.0) AS BIGINT) AS bin_id
    FROM sized
    """,
    tags=("training", "pack"),
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs → 2048-token greedy bins per language.
    One window = one shuffle on lang; at 100 TB the group key would be
    (lang, shard) to bound window-partition size, same plan shape."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    packed = pack_greedy_bins(
        docs, group_col="lang", order_col="doc_id", size_col="n_tokens", budget=2048
    )
    return packed.select("doc_id", "lang", "n_tokens", "bin_id")


@register(
    "weighted_sample_orders",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS weight
    FROM orders
    WHERE o_totalprice > 0
    ORDER BY ln(((o_orderkey * 2654435761) % 4294967296 + 0.5)
                / 4294967296.0) / o_totalprice DESC,
             o_orderkey
    LIMIT 200
    """,
    tags=("training", "sampling", "weighted"),
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample (Efraimidis–Spirakis, operators/sampling.py):
    200 orders drawn with probability ∝ o_totalprice, reproducible
    across engines because the uniform source is the portable Knuth
    hash, not rand(). TakeOrderedAndProject — per-partition top-k,
    no global sort."""
    from covid_data_pipeline_spark.operators.sampling import weighted_sample

    o = table(spark, sf_dir, "orders")
    return weighted_sample(
        o.select("o_orderkey", "o_totalprice"), "o_orderkey", "o_totalprice", k=200
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("weight"))


_STOPS = ", ".join(
    f"'{w}'"
    for w in ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")
)
_BPE = r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')"

# Stage-by-stage DuckDB twin of plans/curation.curate_documents — each
# fragment is the already-proven oracle pattern of its stage query
# (doc_quality, dedup_exact, dedup_duplicate_groups, decontaminate_docs,
# train_test_hash_split, pack_sequences_greedy), composed.
_CURATION_ORACLE = rf"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t,
         len({_BPE}) AS bpe_cnt
  FROM documents
),
gated AS (  -- stage 1: quality gate (length band + punct + stopwords)
  SELECT doc_id, text, t, bpe_cnt FROM toks
  WHERE (length(text) BETWEEN 50 AND 20000)::INT * 0.4
      + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
      + COALESCE(CASE WHEN len(t) > 0
                 THEN len(list_filter(t, x -> x IN ({_STOPS})))::DOUBLE
                      / len(t) END > 0.01, FALSE)::INT * 0.3 >= 0.3
    AND bpe_cnt >= 5
),
keyed AS (  -- stage 2: exact dedup, min-id representative
  SELECT *, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM gated
),
reps AS (SELECT fp, MIN(doc_id) AS rep FROM keyed GROUP BY fp),
exact AS (
  SELECT k.doc_id, k.text, k.t, k.bpe_cnt
  FROM keyed k JOIN reps r ON k.doc_id = r.rep AND k.fp = r.fp
),
sh AS (  -- stage 3: exact-Jaccard >= 0.9 pairs -> closure -> keep min
  SELECT doc_id,
    CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' ')))
      ELSE [array_to_string(t, ' ')] END AS shingles
  FROM exact
),
g3 AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g3 a JOIN g3 b ON a.g = b.g AND a.doc_id < b.doc_id
),
jac AS (
  SELECT id_a, id_b FROM cand
  JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.9
),
sym AS (SELECT id_a AS src, id_b AS dst FROM jac
        UNION SELECT id_b, id_a FROM jac),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
),
labels AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
kept AS (
  SELECT e.* FROM exact e
  WHERE e.doc_id NOT IN (SELECT node FROM labels WHERE node <> component)
),
bgrams AS (  -- stage 4: 8-gram decontamination vs every-50th-doc bench
  SELECT DISTINCT CASE WHEN len(t) >= 8 THEN array_to_string(t[i:i+7], ' ')
                       ELSE array_to_string(t, ' ') END AS g
  FROM toks, UNNEST(range(1, GREATEST(len(t) - 7, 1) + 1)) AS u(i)
  WHERE doc_id % 50 = 0
),
kgrams AS (
  SELECT doc_id, CASE WHEN len(t) >= 8 THEN array_to_string(t[i:i+7], ' ')
                      ELSE array_to_string(t, ' ') END AS g
  FROM kept, UNNEST(range(1, GREATEST(len(t) - 7, 1) + 1)) AS u(i)
),
clean AS (
  SELECT * FROM kept WHERE doc_id NOT IN (
    SELECT DISTINCT doc_id FROM kgrams WHERE g IN (SELECT g FROM bgrams))
),
split AS (  -- stage 5: deterministic 80/10/10 split
  SELECT doc_id, bpe_cnt AS n_tokens,
         CASE WHEN {_KHASH} % 100 < 80 THEN 'train'
              WHEN {_KHASH} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM clean
)
SELECT doc_id, split, n_tokens,  -- stage 6: token-budget packing
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY split ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 2048.0) AS BIGINT) AS bin_id
FROM split
"""


@register(
    "curation_pipeline_docs",
    _CURATION_ORACLE,
    tags=("training", "curation", "pipeline"),
    bench=True,
)
def curation_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation chain (plans/curation.py): quality gate →
    exact dedup → LSH near-dup grouping with connected-components
    canonicalization → benchmark decontamination (every 50th doc plays
    the eval set) → deterministic split → token-budget packing. Returns
    (doc_id, split, n_tokens, bin_id) for the surviving corpus.

    Oracle-verified END-TO-END: the DuckDB twin composes the proven
    per-stage oracle patterns, with the near-dup stage as exact-Jaccard
    pairs + recursive-CTE closure. Equality holds because the chain
    dedups at threshold 0.9 with 16 hashes in 8 bands of 2 rows —
    per-pair LSH candidate probability ≥ 1-(1-0.81)⁸ ≈ 1-1.7e-6 at the
    minimum qualifying Jaccard, and the exact verify discards every
    sub-threshold candidate, so both engines derive the same edge set
    (same argument as `dedup_duplicate_groups`)."""
    from covid_data_pipeline_spark.plans.curation import (
        CurationConfig,
        curate_documents,
    )

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text")
    out = curate_documents(
        d.select("doc_id", "text"),
        benchmark=bench,
        cfg=CurationConfig(num_hashes=16, bands=8, jaccard_threshold=0.9),
    )
    return out.select("doc_id", "split", "n_tokens", "bin_id")


@register(
    "sample_per_group_docs",
    r"""
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
    tags=("training", "sampling"),
)
def sample_per_group_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-doc quota per language (smallest Knuth-hash ids
    win) — the per-stratum eval-set carve a curation run makes
    reproducibly on any cluster."""
    from covid_data_pipeline_spark.operators.sampling import sample_per_group

    d = table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return sample_per_group(d, ["lang"], "doc_id", n=5)


_MIX_HEAVY = tuple(f"src{i}" for i in range(5))
_MIX_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN 0.11" for s in _MIX_HEAVY)
    + " ELSE 0.03 END"
)


@register(
    "mixture_sample_docs",
    f"""
    WITH n AS (
      SELECT source, COUNT(*) AS grp_n FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, grp_n, {_MIX_CASE} AS wgt FROM n
    )
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN w ON d.source = w.source
    WHERE {_KHASH} < LEAST(1.0, 300.0 * w.wgt / w.grp_n) * 4294967296.0
    """,
    tags=("training", "mixture", "sample"),
    bench=True,
)
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture resampling (`operators/sampling.py::mixture_sample`):
    rebalance the 20 uniform sources toward a 5-heavy / 15-light target
    (0.11 vs 0.03, summing to 1). Heavy sources hit the keep-all cap;
    light sources thin to their hash-threshold rate. Counts are
    broadcast back as rates — the corpus never shuffles."""
    from covid_data_pipeline_spark.operators.sampling import mixture_sample

    docs = table(spark, sf_dir, "documents")
    weights = {f"src{i}": (0.11 if f"src{i}" in _MIX_HEAVY else 0.03) for i in range(20)}
    return mixture_sample(
        docs, "source", weights, target_rows=300, id_col="doc_id"
    ).select("doc_id", "source")


@register(
    "mixture_resample_docs",
    f"""
    WITH n AS (
      SELECT source, COUNT(*) AS grp_n FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, grp_n, {_MIX_CASE} AS wgt FROM n
    ),
    r AS (
      SELECT d.doc_id, d.source,
             CAST(FLOOR(1000.0 * w.wgt / w.grp_n) AS BIGINT)
             + CASE WHEN {_KHASH} <
                 ((1000.0 * w.wgt / w.grp_n)
                  - FLOOR(1000.0 * w.wgt / w.grp_n)) * 4294967296.0
               THEN 1 ELSE 0 END AS reps
      FROM documents d
      JOIN w ON d.source = w.source
    )
    SELECT doc_id, source, CAST(t.rep AS BIGINT) AS replica_idx
    FROM r, UNNEST(range(r.reps)) AS t(rep)
    """,
    tags=("training", "mixture", "upsample"),
    bench=True,
)
def mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-direction mixture (`operators/sampling.py::mixture_resample`):
    target 1000 rows over the 5-heavy / 15-light weights — heavy sources
    replicate ~4.4x (epoch mixing), light ~1.2x, every replica tagged.
    Expected output = the target exactly; realized set a pure function
    of ids."""
    from covid_data_pipeline_spark.operators.sampling import mixture_resample

    docs = table(spark, sf_dir, "documents")
    weights = {f"src{i}": (0.11 if f"src{i}" in _MIX_HEAVY else 0.03) for i in range(20)}
    return mixture_resample(
        docs, "source", weights, target_rows=1000, id_col="doc_id"
    ).select("doc_id", "source", F.col("replica_idx").cast("bigint").alias("replica_idx"))


@register(
    "train_order_shuffle",
    f"""
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (ORDER BY {_KHASH}, doc_id) AS BIGINT)
             AS train_order
    FROM documents
    """,
    tags=("training", "shuffle", "order"),
)
def train_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle
    (`operators/sampling.py::global_hash_order`): dense global rank over
    the Knuth-hash order, computed with range partitioning + offset
    arithmetic instead of the single-partition ORDER BY window the
    oracle uses — same answer, no one-task sort of the corpus."""
    from covid_data_pipeline_spark.operators.sampling import global_hash_order

    docs = table(spark, sf_dir, "documents")
    return global_hash_order(docs, "doc_id").select(
        "doc_id", "source", F.col("train_order").cast("bigint").alias("train_order")
    )


@register(
    "pack_length_bucketed",
    """
    WITH sized AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens
      FROM documents
    ),
    bucketed AS (
      SELECT *, CAST(length(bin(GREATEST(n_tokens, 1))) AS BIGINT)
                  AS len_bucket
      FROM sized
    )
    SELECT doc_id, lang, len_bucket, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY lang, len_bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 2048.0) AS BIGINT) AS bin_id
    FROM bucketed
    """,
    tags=("training", "pack", "length-bucket"),
)
def pack_length_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed packing: co-bin documents of similar length
    (bucket = power-of-two band) so every training batch pads to its
    own band's max, not the global max — the padding-waste fix batched
    LM training needs. The bucket is ``length(bin(n))`` — an
    integer-exact floor(log2) both engines compute identically (no
    float log near power-of-two boundaries). Same single-window plan as
    plain packing, group key (lang, bucket)."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    bucketed = docs.withColumn(
        "len_bucket",
        F.length(F.bin(F.greatest(F.col("n_tokens"), F.lit(1)))).cast("bigint"),
    )
    packed = pack_greedy_bins(
        bucketed,
        group_col=["lang", "len_bucket"],
        order_col="doc_id",
        size_col="n_tokens",
        budget=2048,
    )
    return packed.select("doc_id", "lang", "len_bucket", "n_tokens", "bin_id")


@register(
    "pack_bin_manifest",
    """
    WITH sized AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 2048.0) AS BIGINT) AS bin_id
      FROM sized
    )
    SELECT lang, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS doc_ids
    FROM packed
    GROUP BY lang, bin_id
    """,
    tags=("training", "pack", "manifest"),
)
def pack_bin_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packing as a shard manifest: one row per bin
    with doc count, token total, and the ordered member list — what a
    training loader actually consumes (fetch members, concat in order).
    The member list is sort_array(collect_list) per the repo's
    deterministic list-agg rule, so the string hash-matches the
    oracle's ordered STRING_AGG."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    packed = pack_greedy_bins(
        docs, group_col="lang", order_col="doc_id", size_col="n_tokens",
        budget=2048,
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
            ).alias("doc_ids"),
        )
    )


@register(
    "group_aware_split_docs",
    """
    SELECT doc_id, source,
           CASE WHEN CAST(concat('0x', substr(md5(source), 1, 8)) AS UBIGINT)
                     % 100 < 80 THEN 'train'
                WHEN CAST(concat('0x', substr(md5(source), 1, 8)) AS UBIGINT)
                     % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("training", "split", "leakage"),
)
def group_aware_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-integrity split (`operators/sampling.py::group_aware_split`):
    the split key is the SOURCE, so near-identical documents from one
    source can never straddle train/test — the leakage guard row-level
    hashing can't give. Portable md5-prefix string hash keeps the
    oracle bit-exact."""
    from covid_data_pipeline_spark.operators.sampling import group_aware_split

    docs = table(spark, sf_dir, "documents")
    return group_aware_split(docs, "source").select("doc_id", "source", "split")


@register(
    "cluster_aware_split_docs",
    r"""
    WITH keyed AS (
      SELECT doc_id,
             COALESCE(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                      '__NULL_TEXT__') AS fp
      FROM documents
    ),
    rep AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS cluster_rep
      FROM keyed
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN (cluster_rep * 2654435761) % 4294967296 % 100 < 80
                  THEN 'train'
                WHEN (cluster_rep * 2654435761) % 4294967296 % 100 < 90
                  THEN 'valid'
                ELSE 'test' END AS split
    FROM rep
    """,
    tags=("training", "split", "leakage", "dedup"),
)
def cluster_aware_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster-integrity split: the split key is the exact-dup
    cluster representative (min doc_id per normalized-text
    fingerprint), so byte-identical copies of a document can never land
    on both sides of train/test even BEFORE dedup runs — the
    contamination audit's first fix. One fingerprint window + the
    standard Knuth split; composes with `group_aware_split` (domain
    level) and row-level `hash_split` as the leakage-guard ladder."""
    from covid_data_pipeline_spark.operators.dedup import text_fingerprint
    from covid_data_pipeline_spark.operators.sampling import knuth_hash

    docs = table(spark, sf_dir, "documents")
    keyed = docs.withColumn("__fp", text_fingerprint("text"))
    w = Window.partitionBy("__fp")
    rep = keyed.withColumn("cluster_rep", F.min("doc_id").over(w))
    pct = knuth_hash("cluster_rep") % 100
    return rep.select(
        "doc_id",
        "cluster_rep",
        F.when(pct < 80, "train")
        .when(pct < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "split_token_stats",
    f"""
    WITH sized AS (
      SELECT doc_id,
             CASE WHEN {_KHASH} % 100 < 80 THEN 'train'
                  WHEN {_KHASH} % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens
    FROM sized
    GROUP BY split
    """,
    tags=("training", "split", "audit"),
)
def split_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit: doc and token totals per train/valid/test
    split — the check that hash-splitting balanced token MASS, not just
    document counts (budgets are token-denominated). All-integer
    output; one shuffle on the 3-value split key with map-side
    combine."""
    from covid_data_pipeline_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    return (
        hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


_TB_BUDGETS = {f"src{i}": 800 for i in range(5)} | {
    f"src{i}": 300 for i in range(5, 10)
}
_TB_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {b}" for s, b in _TB_BUDGETS.items()
) + " END"


@register(
    "token_budget_select_docs",
    f"""
    WITH sized AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
             {_KHASH} AS hk
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY hk, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM sized
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= {_TB_CASE}
    """,
    tags=("training", "budget", "selection"),
)
def token_budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: per source, docs are taken
    in Knuth-hash priority order until that source's TOKEN budget fills
    (src0-4: 800 tokens ≈ half the source; src5-9: 300; the rest have
    no budget and are dropped). Rerun/append-stable: earlier picks keep
    their hash priority. One shuffle; streaming running-sum frame
    (operators/sampling.py::token_budget_select)."""
    from covid_data_pipeline_spark.operators.sampling import (
        token_budget_select,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return token_budget_select(docs, _TB_BUDGETS).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


@register(
    "temporal_split_events",
    """
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
      WHERE ts IS NOT NULL),
    ranked AS (
      SELECT day,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS nd
      FROM days),
    cutoff AS (
      SELECT MAX(CASE WHEN rn * 5 <= nd * 4 THEN day END) AS cut FROM ranked)
    SELECT CASE WHEN CAST(e.ts AS DATE) <= c.cut THEN 'train' ELSE 'test' END
             AS split,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           MIN(CAST(e.ts AS DATE)) AS day_min,
           MAX(CAST(e.ts AS DATE)) AS day_max
    FROM events e CROSS JOIN cutoff c
    WHERE e.ts IS NOT NULL
    GROUP BY CASE WHEN CAST(e.ts AS DATE) <= c.cut THEN 'train' ELSE 'test' END
    """,
    tags=("training", "split", "temporal"),
)
def temporal_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal holdout split: train = the first 80% of DISTINCT days,
    test = the rest — the leakage guard for forecasting-style tasks
    where hash splits leak the future into training. The cutoff day is
    computed over the tiny distinct-day relation (domain compression —
    the ranking window never sees the corpus) and re-enters as a
    broadcast single row; the corpus itself is labeled map-side with
    zero extra shuffles beyond the final stats agg."""
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    w = Window.orderBy("day")
    ranked = days.select(
        "day",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nd"),
    )
    # bcast: const(1) scalar cutoff agg
    cutoff = F.broadcast(
        ranked.agg(
            F.max(
                F.when(F.col("rn") * 5 <= F.col("nd") * 4, F.col("day"))
            ).alias("cut")
        )
    )
    return (
        ev.crossJoin(cutoff)
        .select(
            F.when(F.to_date("ts") <= F.col("cut"), "train")
            .otherwise("test")
            .alias("split"),
            "user_id",
            F.to_date("ts").alias("day"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("day").alias("day_min"),
            F.max("day").alias("day_max"),
        )
    )


@register(
    "kfold_assign_docs",
    f"""
    SELECT doc_id, lang, ({_KHASH}) % 5 AS fold
    FROM documents
    """,
    tags=("training", "split", "kfold"),
)
def kfold_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    knuth_hash(doc_id) mod 5 — disjoint, exhaustive, append-stable (new
    docs never move existing rows between folds). Pure projection; no
    shuffle at any scale."""
    from covid_data_pipeline_spark.operators.sampling import kfold_assign

    docs = table(spark, sf_dir, "documents")
    return kfold_assign(docs, "doc_id", k=5).select("doc_id", "lang", "fold")


_VHASH = "(vec_id * 2654435761) % 4294967296"


@register(
    "label_balanced_embeddings",
    f"""
    WITH r AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label ORDER BY {_VHASH}, vec_id) AS rn
      FROM embeddings
    ),
    m AS (
      SELECT MIN(c) AS mc FROM (
        SELECT COUNT(*) AS c FROM embeddings GROUP BY label)
    )
    SELECT vec_id, label FROM r, m WHERE rn <= mc
    """,
    tags=("training", "sample", "balance"),
)
def label_balanced_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of the embeddings table: every label
    keeps exactly min-class-count rows in deterministic hash-priority
    order — no upsampling, no duplicated rows, bit-stable across runs.
    One label-keyed window shuffle; the min count re-enters broadcast."""
    from covid_data_pipeline_spark.operators.sampling import label_balanced_sample

    e = table(spark, sf_dir, "embeddings")
    return label_balanced_sample(e, id_col="vec_id", label_col="label").select(
        "vec_id", "label"
    )


@register(
    "temperature_rebalance_docs",
    f"""
    WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    m AS (SELECT MIN(cnt) AS mc FROM c),
    r AS (
      SELECT source,
             CAST(FLOOR(10000 * sqrt(mc::DOUBLE / cnt)) AS BIGINT)
               AS keep_rate_bp
      FROM c, m
    )
    SELECT d.doc_id, d.source, r.keep_rate_bp
    FROM documents d JOIN r USING (source)
    WHERE ({_KHASH.replace("doc_id", "d.doc_id")}) % 10000 < r.keep_rate_bp
    """,
    tags=("training", "sample", "mixture"),
)
def temperature_rebalance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature rebalance (mBERT/XLM-R-style exponent-smoothed
    source sampling) by deterministic downsampling: source g keeps
    floor(10000·sqrt(min_count/count_g)) basis points of its rows — the
    smallest source keeps 100%, larger sources are flattened toward it.
    sqrt is IEEE-correctly-rounded on both engines and no float SUM
    exists anywhere, so the kept set is bit-identical. The corpus never
    shuffles: rates ride a broadcast join keyed on source."""
    from covid_data_pipeline_spark.operators.sampling import temperature_rebalance

    docs = table(spark, sf_dir, "documents")
    return temperature_rebalance(
        docs, id_col="doc_id", group_col="source", alpha=0.5
    ).select("doc_id", "source", "keep_rate_bp")


@register(
    "temperature_rebalance_tokens",
    f"""
    WITH c AS (
      SELECT source, SUM(n_chars) AS cnt FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(cnt) AS mc FROM c),
    r AS (
      SELECT source,
             CAST(FLOOR(10000 * sqrt(mc::DOUBLE / cnt)) AS BIGINT)
               AS keep_rate_bp
      FROM c, m
    )
    SELECT d.doc_id, d.source, r.keep_rate_bp
    FROM documents d JOIN r USING (source)
    WHERE ({_KHASH.replace("doc_id", "d.doc_id")}) % 10000 < r.keep_rate_bp
    """,
    tags=("training", "sample", "mixture"),
)
def temperature_rebalance_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature rebalance weighted by text MASS (n_chars) —
    the usual α-sampling denominator: a source of few huge documents is
    as over-represented as one of many small ones, which a doc-count
    rebalance misses. Same exact-integer-mass / correctly-rounded-sqrt
    construction as temperature_rebalance_docs, so the kept set is
    bit-identical cross-engine."""
    from covid_data_pipeline_spark.operators.sampling import temperature_rebalance

    docs = table(spark, sf_dir, "documents")
    return temperature_rebalance(
        docs, id_col="doc_id", group_col="source", alpha=0.5,
        weight_col="n_chars",
    ).select("doc_id", "source", "keep_rate_bp")


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/tokenizer.py) — the merge-learning
# loop is histogram-based and every step is engine-portable (plain
# substring replace on sentinel-delimited symbol strings; deterministic
# argmax tiebreak), so the ITERATIVE training replays in DuckDB by
# unrolling merges as chained CTEs — the PageRank-unroll pattern.
# ---------------------------------------------------------------------------

_BPE_MERGES = 4


def _bpe_ctes(num_merges: int) -> str:
    """words_0..words_K / best_1..best_K chain replaying _bpe_train."""
    parts = [
        r"""
    words_0 AS (
      SELECT '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS w,
             COUNT(*) AS f
      FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        FROM documents WHERE text IS NOT NULL
      )
      WHERE regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY word
    )"""
    ]
    for k in range(1, num_merges + 1):
        parts.append(rf"""
    pairs_{k} AS (
      SELECT p[1] AS l, p[2] AS r, SUM(f) AS cnt
      FROM (
        SELECT f,
               unnest(list_transform(range(1, len(arr)),
                                     i -> [arr[i], arr[i + 1]])) AS p
        FROM (SELECT f, regexp_split_to_array(trim(w), '  ') AS arr
              FROM words_{k - 1})
      )
      GROUP BY p[1], p[2]
    ),
    best_{k} AS (
      SELECT l, r, cnt FROM pairs_{k} ORDER BY cnt DESC, l, r LIMIT 1
    ),
    words_{k} AS (
      SELECT replace(w,
                     ' ' || (SELECT l FROM best_{k}) || '  ' ||
                     (SELECT r FROM best_{k}) || ' ',
                     ' ' || (SELECT l FROM best_{k}) ||
                     (SELECT r FROM best_{k}) || ' ') AS w,
             f
      FROM words_{k - 1}
    )""")
    return ",".join(parts)


@register(
    "bpe_learn_merges",
    f"""
    WITH {_bpe_ctes(_BPE_MERGES)}
    {" UNION ALL ".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM best_{k}"
        for k in range(1, _BPE_MERGES + 1)
    )}
    """,
    tags=("training", "tokenizer", "bpe", "iterative"),
    bench=True,
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/tokenizer.py): ONE
    corpus pass builds the word histogram; each of the 4 merge steps is
    a vocab-sized pair-count aggregation + a 1-row argmax collect +
    a codegen'd symbol-string rewrite. The oracle unrolls the identical
    4 steps as chained CTEs — an ITERATIVE trainer that value-hash
    matches a pure-SQL replay (deterministic count/lexi tiebreak, plain
    left-to-right non-overlapping replaces on both engines)."""
    from covid_data_pipeline_spark.operators.tokenizer import learn_bpe_merges

    docs = table(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, text_col="text", num_merges=_BPE_MERGES)


@register(
    "bpe_compression_curve",
    f"""
    WITH {_bpe_ctes(_BPE_MERGES)}
    {" UNION ALL ".join(
        f"SELECT {k} AS step, "
        f"CAST(SUM(len(regexp_split_to_array(trim(w), '  ')) * f) AS BIGINT) "
        f"AS corpus_tokens FROM words_{k}"
        for k in range(0, _BPE_MERGES + 1)
    )}
    """,
    tags=("training", "tokenizer", "bpe", "iterative"),
)
def bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token count after each BPE merge (step 0 = character
    tokenization) — the compression curve that sizes a vocabulary.
    Same unrolled-CTE oracle chain as ``bpe_learn_merges``."""
    from covid_data_pipeline_spark.operators.tokenizer import (
        bpe_compression_curve,
    )

    docs = table(spark, sf_dir, "documents")
    return bpe_compression_curve(docs, text_col="text", num_merges=_BPE_MERGES)


@register(
    "dsir_importance_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, unnest(t) AS g FROM toks
      UNION ALL
      SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      FROM toks, UNNEST(range(1, len(t))) AS u(i)),
    fx AS (
      SELECT doc_id,
             (CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                % 2147483647) % 1024 AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY 1, 2),
    bt AS (
      SELECT f.bucket, SUM(f.cnt) AS raw_cnt,
             SUM(CASE WHEN d.lang = 'en' THEN f.cnt ELSE 0 END) AS tgt_cnt
      FROM fx f JOIN documents d USING (doc_id) GROUP BY 1),
    tot AS (SELECT SUM(raw_cnt) AS raw_tot, SUM(tgt_cnt) AS tgt_tot FROM bt),
    model AS (
      SELECT b.bucket,
        CAST(ROUND(ln((COALESCE(bt.tgt_cnt, 0) + 1.0)
                      / (tot.tgt_tot + 1024.0)) * 1000000, 0) AS BIGINT) AS lpt,
        CAST(ROUND(ln((COALESCE(bt.raw_cnt, 0) + 1.0)
                      / (tot.raw_tot + 1024.0)) * 1000000, 0) AS BIGINT) AS lpr
      FROM (SELECT unnest(range(0, 1024)) AS bucket) b
      LEFT JOIN bt ON b.bucket = bt.bucket CROSS JOIN tot),
    w AS (
      SELECT f.doc_id, SUM(f.cnt * (m.lpt - m.lpr)) AS ws
      FROM fx f JOIN model m USING (bucket) GROUP BY 1)
    SELECT w.doc_id, d.lang,
           ROUND(ws / 1000000.0, 4) + 0 AS dsir_log_weight
    FROM w JOIN documents d USING (doc_id)
    """,
    tags=("training", "selection", "dsir"),
    bench=True,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023) with lang='en' documents as
    the target distribution: hashed unigram+bigram features (1024
    md5-prefix buckets), add-one-smoothed dual bag model fitted in one
    pass, per-document log importance weight accumulated in EXACT
    BIGINT micro-nats (only the display division is float) — so the
    oracle replays the whole selector value-for-value. Scale: one
    bucket-keyed shuffle + a broadcast of 1024 model rows."""
    from covid_data_pipeline_spark.operators.selection import dsir_weights

    docs = table(spark, sf_dir, "documents")
    w = dsir_weights(docs, F.col("lang") == F.lit("en"), n_buckets=1024)
    return w.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "dsir_log_weight"
    )


@register(
    "dsir_select_topk",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, unnest(t) AS g FROM toks
      UNION ALL
      SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      FROM toks, UNNEST(range(1, len(t))) AS u(i)),
    fx AS (
      SELECT doc_id,
             (CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                % 2147483647) % 1024 AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY 1, 2),
    bt AS (
      SELECT f.bucket, SUM(f.cnt) AS raw_cnt,
             SUM(CASE WHEN d.lang = 'en' THEN f.cnt ELSE 0 END) AS tgt_cnt
      FROM fx f JOIN documents d USING (doc_id) GROUP BY 1),
    tot AS (SELECT SUM(raw_cnt) AS raw_tot, SUM(tgt_cnt) AS tgt_tot FROM bt),
    model AS (
      SELECT b.bucket,
        CAST(ROUND(ln((COALESCE(bt.tgt_cnt, 0) + 1.0)
                      / (tot.tgt_tot + 1024.0)) * 1000000, 0) AS BIGINT) AS lpt,
        CAST(ROUND(ln((COALESCE(bt.raw_cnt, 0) + 1.0)
                      / (tot.raw_tot + 1024.0)) * 1000000, 0) AS BIGINT) AS lpr
      FROM (SELECT unnest(range(0, 1024)) AS bucket) b
      LEFT JOIN bt ON b.bucket = bt.bucket CROSS JOIN tot),
    w AS (
      SELECT f.doc_id, SUM(f.cnt * (m.lpt - m.lpr)) AS ws
      FROM fx f JOIN model m USING (bucket) GROUP BY 1)
    SELECT w.doc_id, d.lang, d.source,
           ROUND(ws / 1000000.0, 4) + 0 AS dsir_log_weight
    FROM w JOIN documents d USING (doc_id)
    ORDER BY dsir_log_weight DESC, w.doc_id LIMIT 100
    """,
    tags=("training", "selection", "dsir"),
)
def dsir_select_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DSIR selection: the 100 raw documents most like the
    lang='en' target slice (`operators/selection.py::dsir_select_topk`)
    — ordered on the ROUNDED weight with doc_id tie-break so the
    selected set is engine- and partitioning-reproducible."""
    from covid_data_pipeline_spark.operators.selection import (
        dsir_select_topk,
    )

    docs = table(spark, sf_dir, "documents")
    return dsir_select_topk(
        docs, F.col("lang") == F.lit("en"), k=100, n_buckets=1024
    ).select("doc_id", "lang", "source", "dsir_log_weight")


@register(
    "docs_quantile_normalize",
    """
    WITH nt AS (SELECT COUNT(*) AS n FROM documents),
    s AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM documents),
    ref AS (
      SELECT n_chars AS ref_chars,
             COALESCE(SUM(c) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
             COALESCE(SUM(c) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c
               AS hi
      FROM (SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY 1)),
    m AS (
      SELECT s.doc_id, s.source, s.n_chars,
             CASE WHEN s.n_s = 1 THEN 1 + (nt.n - 1) // 2
                  ELSE 1 + ((s.r - 1) * (nt.n - 1)) // (s.n_s - 1)
             END AS pos
      FROM s CROSS JOIN nt)
    SELECT m.doc_id, m.source, m.n_chars, ref.ref_chars AS norm_chars
    FROM m JOIN ref ON m.pos > ref.lo AND m.pos <= ref.hi
    """,
    tags=("training", "calibration", "quantile"),
)
def docs_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize each source's document-length distribution
    onto the pooled corpus distribution
    (`operators/calibrate.py::quantile_normalize`) — the calibration
    step that makes one global length/quality threshold fair across
    heterogeneous sources. Exact integer position mapping (no float
    quantile interpolation), reference distribution domain-compressed
    into a broadcast range lookup, per-source ranks one hash window —
    no global sort at any scale. The oracle states the same mapping
    with plain windows over the full relation."""
    from covid_data_pipeline_spark.operators.calibrate import (
        quantile_normalize,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(
        docs, group_col="source", val_col="n_chars", id_col="doc_id",
        out_col="norm_chars",
    ).select("doc_id", "source", "n_chars", "norm_chars")


def _pav_oracle_sql() -> str:
    """PDA-style recursive-CTE replay of operators/calibrate.py::
    isotonic_fit: one push or one pool-merge per recursion step over a
    parallel-LIST stack; final state selected by max step; pools
    re-expanded to buckets via a cumulative-count range join. All pool
    arithmetic is exact BIGINT (the violation test is the cross-product
    compare, no float), division happens once at emission."""
    viol = (
        "(len(p.st_s) >= 2 AND p.st_s[len(p.st_s)] * p.st_w[len(p.st_s) - 1]"
        " < p.st_s[len(p.st_s) - 1] * p.st_w[len(p.st_s)])"
    )

    def merged(col: str) -> str:
        return (
            f"p.{col}[1:len(p.{col}) - 2] || "
            f"[p.{col}[len(p.{col}) - 1] + p.{col}[len(p.{col})]]"
        )

    return rf"""
    WITH RECURSIVE b AS (
      SELECT lang, n_chars // 40 AS bucket, COUNT(*) AS w,
             SUM(CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END) AS s
      FROM documents GROUP BY 1, 2),
    arr AS (
      SELECT lang, list(s ORDER BY bucket) AS ss,
             list(w ORDER BY bucket) AS ws, COUNT(*) AS n
      FROM b GROUP BY 1),
    pav(lang, step, i, st_s, st_w, st_n) AS (
      SELECT lang, 1, 1, [ss[1]], [ws[1]], [CAST(1 AS BIGINT)] FROM arr
      UNION ALL
      SELECT p.lang, p.step + 1,
             CASE WHEN {viol} THEN p.i ELSE p.i + 1 END,
             CASE WHEN {viol} THEN {merged('st_s')}
                  ELSE p.st_s || [a.ss[p.i + 1]] END,
             CASE WHEN {viol} THEN {merged('st_w')}
                  ELSE p.st_w || [a.ws[p.i + 1]] END,
             CASE WHEN {viol} THEN {merged('st_n')}
                  ELSE p.st_n || [CAST(1 AS BIGINT)] END
      FROM pav p JOIN arr a USING (lang)
      WHERE {viol} OR p.i < a.n),
    final AS (
      SELECT lang, st_s, st_w, st_n FROM (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY step DESC)
               AS rr
        FROM pav) WHERE rr = 1),
    pools AS (
      SELECT lang, unnest(st_s) AS ps, unnest(st_w) AS pw,
             unnest(st_n) AS pn, generate_subscripts(st_n, 1) AS j
      FROM final),
    pools2 AS (
      SELECT lang, ps, pw,
             SUM(pn) OVER (PARTITION BY lang ORDER BY j) - pn + 1 AS lo,
             SUM(pn) OVER (PARTITION BY lang ORDER BY j) AS hi
      FROM pools),
    idx AS (
      SELECT lang, bucket, s, w,
             row_number() OVER (PARTITION BY lang ORDER BY bucket) AS bi
      FROM b)
    SELECT i.lang, i.bucket, i.w AS n_docs,
           ROUND(CAST(i.s AS DOUBLE) / CAST(i.w AS DOUBLE), 6) AS rate_raw,
           ROUND(CAST(p.ps AS DOUBLE) / CAST(p.pw AS DOUBLE), 6) AS rate_iso
    FROM idx i JOIN pools2 p
      ON i.lang = p.lang AND i.bi BETWEEN p.lo AND p.hi
    """


@register(
    "docs_isotonic_calibration",
    _pav_oracle_sql(),
    tags=("training", "calibration", "isotonic", "iterative"),
)
def docs_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration curve per language: observed rate of
    "doc contains ' the '" per 40-char length bucket, plus the fitted
    non-decreasing rate (`operators/calibrate.py::isotonic_fit`) — the
    classifier-score -> empirical-probability calibration step of a
    curation pipeline. Corpus-scale counting happens in plain groupBys;
    only the domain-compressed bucket curve enters the exact-integer
    PAV stack machine (applyInPandas per group). The oracle replays the
    machine as a PDA recursive CTE — value-hash verified because PAV's
    solution is unique and every pool compare is integer."""
    from covid_data_pipeline_spark.operators.calibrate import isotonic_fit

    docs = table(spark, sf_dir, "documents")
    b = (
        docs.groupBy("lang", F.expr("n_chars div 40").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("text").contains(" the "), 1).otherwise(0)
            ).alias("s"),
        )
    )
    fit = isotonic_fit(
        b, group_col="lang", x_col="bucket", s_col="s", w_col="n_docs",
        out_col="iso_raw",
    )
    return fit.select(
        "lang",
        "bucket",
        "n_docs",
        F.round(F.col("s").cast("double") / F.col("n_docs").cast("double"), 6)
        .alias("rate_raw"),
        F.round("iso_raw", 6).alias("rate_iso"),
    )
