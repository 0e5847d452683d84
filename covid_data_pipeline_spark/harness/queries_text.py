"""Text-analysis queries over the documents table (north-star extras:
language ID, quality scoring, token counting, fingerprinting). All four
are SQL-expressible, so each carries a DuckDB oracle.

Dialect notes: DuckDB ``regexp_replace`` needs the ``'g'`` flag to match
Spark's replace-all default; DuckDB splits/extracts with
``regexp_split_to_array`` / ``regexp_extract_all``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import (
    STOPWORDS_DE,
    STOPWORDS_EN,
    STOPWORDS_FR,
    bpe_token_count,
    char_count,
    content_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from covid_data_pipeline_spark.functions.scalar import round_stable
from covid_data_pipeline_spark.harness.registry import register, table
from pyspark.sql.window import Window

_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"
_BPE = r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')"
_PUNCT = r"regexp_extract_all(text, '[^A-Za-z0-9\s]')"


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len({_TOKS}) AS tok_cnt,
           len({_BPE}) AS bpe_cnt,
           ROUND(CASE WHEN length(text) > 0
                 THEN len({_PUNCT})::DOUBLE / length(text) END, 4) AS punct_ratio,
           ROUND(CASE WHEN len({_TOKS}) > 0
                 THEN len(list_filter({_TOKS},
                          t -> t IN ({_in_list(STOPWORDS_EN)})))::DOUBLE
                      / len({_TOKS}) END, 4) AS stopword_ratio
    FROM documents
    """,
    tags=("text", "quality"),
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        char_count("text").alias("n_chars_actual"),
        token_count("text").alias("tok_cnt"),
        bpe_token_count("text").alias("bpe_cnt"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 4).alias("stopword_ratio"),
    )


@register(
    "lang_id_heuristic",
    f"""
    WITH hits AS (
      SELECT doc_id, lang,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_EN)}))) AS en,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_FR)}))) AS fr,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_DE)}))) AS de
      FROM documents
    )
    SELECT doc_id, lang AS lang_declared,
           CASE WHEN en >= fr AND en >= de AND en > 0 THEN 'en'
                WHEN fr >= de AND fr > 0 THEN 'fr'
                WHEN de > 0 THEN 'de'
                ELSE 'und' END AS lang_guess
    FROM hits
    """,
    tags=("text", "lang-id"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        lang_id("text").alias("lang_guess"),
    )


@register(
    "doc_quality",
    f"""
    WITH sig AS (
      SELECT doc_id, source,
             (length(text) BETWEEN 50 AND 20000) AS len_ok,
             COALESCE(CASE WHEN length(text) > 0
                      THEN len({_PUNCT})::DOUBLE / length(text) END < 0.2,
                      FALSE) AS punct_ok,
             COALESCE(CASE WHEN len({_TOKS}) > 0
                      THEN len(list_filter({_TOKS},
                               t -> t IN ({_in_list(STOPWORDS_EN)})))::DOUBLE
                           / len({_TOKS}) END > 0.01,
                      FALSE) AS stop_ok
      FROM documents
    )
    SELECT source,
           COUNT(*) AS docs_cnt,
           ROUND(AVG(len_ok::INT * 0.4 + punct_ok::INT * 0.3
                     + stop_ok::INT * 0.3), 4) AS avg_quality
    FROM sig GROUP BY source
    """,
    tags=("text", "quality"),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("q", quality_score("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_cnt"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
        )
    )


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 256))
             AS fingerprint
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", content_fingerprint("text", 256).alias("fingerprint"))


@register(
    "top_terms_per_lang",
    r"""
    WITH doc_terms AS (
      SELECT DISTINCT lang, doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    df AS (
      SELECT lang, term, COUNT(*) AS doc_freq
      FROM doc_terms WHERE length(term) >= 3
      GROUP BY lang, term
    ),
    ranked AS (
      SELECT lang, term, doc_freq,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY doc_freq DESC, term) AS rank
      FROM df
    )
    SELECT lang, term, doc_freq, rank FROM ranked WHERE rank <= 10
    """,
    tags=("text", "terms"),
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary mining: top-10 terms per language by document
    frequency (the df half of TF-IDF). explode(array_distinct(tokens))
    keeps counting integer-exact — COUNT(*) over per-doc-deduped terms
    is countDistinct(doc) without the distinct-aggregate's extra
    expand; the window is a group-limit (top-k pushdown) at scale.
    Deterministic tiebreak: term ascending."""
    d = table(spark, sf_dir, "documents")
    doc_terms = (
        d.select("lang", "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .filter(F.length("term") >= 3)
    )
    w = Window.partitionBy("lang").orderBy(F.col("doc_freq").desc(), F.col("term"))
    return (
        doc_terms.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "term", "doc_freq", "rank")
    )


@register(
    "chunk_documents",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, lang,
             unnest(generate_series(0,
               CAST(FLOOR((len(t) - 1) / 24.0) AS INT))) AS chunk_idx,
             t
      FROM toks
    )
    SELECT doc_id, lang, chunk_idx,
           array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
             AS chunk_text,
           CAST(least(32, len(t) - chunk_idx * 24) AS INT) AS chunk_tokens
    FROM chunks
    """,
    tags=("text", "chunk"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token chunks with 8-token overlap (stride 24) — the
    chunk step of a chunk->embed->index pipeline, as pure codegen'd
    column algebra (tokenize once, explode generated starts, slice)."""
    from covid_data_pipeline_spark.operators.chunking import chunk_by_tokens

    d = table(spark, sf_dir, "documents")
    return chunk_by_tokens(d, "text", chunk_size=32, overlap=8).select(
        "doc_id", "lang", "chunk_idx", "chunk_text", "chunk_tokens"
    )


@register(
    "decontaminate_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 8 THEN array_to_string(t[i:i+7], ' ')
                  ELSE array_to_string(t, ' ') END AS g
      FROM toks, UNNEST(range(1, GREATEST(len(t) - 7, 1) + 1)) AS u(i)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    dirty AS (
      SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench)
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
    tags=("text", "decontamination"),
    bench=True,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): every 50th doc
    plays the held-out eval set; the result is the corpus with any doc
    sharing an 8-token shingle with that set removed — including, by
    construction, the benchmark docs themselves. Grams are xxhash64'd
    and the benchmark side broadcast, so the check is a map-side
    semi-join (the oracle joins raw gram strings — same ids unless a
    64-bit collision, which would be a finding in itself)."""
    from covid_data_pipeline_spark.operators.decontam import decontaminate

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(d, bench, text_col="text", id_col="doc_id", ngram=8).select(
        "doc_id"
    )


@register(
    "docs_pii_scrub",
    r"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact user' || doc_id ||
                       '@example.com ssn 123-45-6789'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             '\d{3}-\d{2}-\d{4}', '[ID]', 'g') AS clean_text
    FROM planted
    """,
    tags=("text", "pii"),
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.scrub_pii): emails and SSN-shaped
    ids planted on every 10th doc, scrubbed with chained global
    regexp_replace — codegen'd string passes, no UDF. The oracle plants
    and scrubs identically, so the full cleaned text hash-matches."""
    from covid_data_pipeline_spark.functions.text import scrub_pii

    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com ssn 123-45-6789"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return planted.select("doc_id", scrub_pii("text").alias("clean_text"))


@register(
    "docs_repetition_signal",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
      FROM toks, UNNEST(range(1, GREATEST(len(t) - 2, 1) + 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    rep AS (
      SELECT doc_id,
             ROUND(1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*), 4) AS rep3
      FROM grams GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(rep.rep3, 0.0) AS rep3
    FROM documents d LEFT JOIN rep USING (doc_id)
    """,
    tags=("text", "quality", "repetition"),
)
def docs_repetition_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-3-gram fraction per document
    (functions/text.repetition_fraction) — boilerplate detector that
    complements the length/punct/stopword quality score. Entirely
    array built-ins per row: zero shuffle, stays in whole-stage
    codegen."""
    from covid_data_pipeline_spark.functions.text import repetition_fraction

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(repetition_fraction("text", k=3), 4).alias("rep3")
    )


@register(
    "doc_tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE doc_id < 50
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 50),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 5
    """,
    tags=("text", "tfidf"),
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 terms per document by
    tf·ln(N/df) on a capped corpus slice. Three aggregations — term
    freq (doc, term), doc freq (term), corpus size — joined back; the
    1-row corpus count rides a broadcast cross join, never a driver
    collect, so the same plan runs at corpus scale. Per-group top-5
    rides WindowGroupLimit (rank pushed into the shuffle); ROW_NUMBER
    over (tfidf DESC, term) gives a total order, so ties at the k-th
    score resolve identically on both engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        # bcast: const(1) scalar corpus-size agg
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "doc_token_percentiles",
    r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(ROUND(quantile_cont(tc, 0.25), 2) AS DOUBLE) AS p25,
           CAST(ROUND(quantile_cont(tc, 0.50), 2) AS DOUBLE) AS p50,
           CAST(ROUND(quantile_cont(tc, 0.75), 2) AS DOUBLE) AS p75,
           CAST(ROUND(quantile_cont(tc, 0.90), 2) AS DOUBLE) AS p90
    FROM (
      SELECT lang,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS tc
      FROM documents
    ) t
    GROUP BY lang
    """,
    tags=("text", "stats", "training"),
)
def doc_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution percentiles per language — the length
    profile a curation run reads before picking chunking/packing sizes.
    Uses Spark's EXACT `percentile` (linear interpolation, identical to
    quantile_cont): its internal buffer is a counts-map keyed by distinct
    value, and token counts have bounded cardinality, so it stays small
    even at 100 TB. For unbounded-cardinality metrics swap in
    approx_percentile. Interpolated values of integer data land on .00/
    .25/.50/.75, so ROUND(2) never hits a cross-engine tie."""
    from covid_data_pipeline_spark.functions.text import token_count

    d = table(spark, sf_dir, "documents").withColumn(
        "tc", token_count("text").cast("double")
    )
    pct = F.expr("percentile(tc, array(0.25D, 0.50D, 0.75D, 0.90D))")
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), pct.alias("_p"))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("_p")[0], 2).cast("double").alias("p25"),
            F.round(F.col("_p")[1], 2).cast("double").alias("p50"),
            F.round(F.col("_p")[2], 2).cast("double").alias("p75"),
            F.round(F.col("_p")[3], 2).cast("double").alias("p90"),
        )
    )


@register(
    "docs_gopher_filter",
    r"""
    WITH f AS (
      SELECT source,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t,
             string_split(text, chr(10)) AS lines,
             len(regexp_extract_all(text, '#|\.\.\.')) AS symbols
      FROM documents
    ),
    g AS (
      SELECT source,
             len(t) AS n,
             list_aggregate(list_transform(t, x -> len(x)), 'avg') AS mean_len,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(t, s))) AS stop_hits,
             symbols,
             len(lines) AS n_lines,
             len(list_filter(lines,
                             l -> regexp_matches(l, '^\s*[-*•]'))) AS bullets,
             len(list_filter(lines,
                             l -> regexp_matches(l, '\.\.\.\s*$'))) AS ell
      FROM f
    ),
    flags AS (
      SELECT source,
             (n >= 50 AND n <= 100000) AS word_count_ok,
             (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_word_len_ok,
             (CAST(symbols AS DOUBLE) / n <= 0.1) AS symbol_ratio_ok,
             (CAST(alpha AS DOUBLE) / n >= 0.8) AS alpha_word_ok,
             (stop_hits >= 1) AS stopword_ok,
             (CAST(bullets AS DOUBLE) / n_lines < 0.9) AS bullet_ok,
             (CAST(ell AS DOUBLE) / n_lines < 0.3) AS ellipsis_ok
      FROM g
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN word_count_ok AND mean_word_len_ok
                              AND symbol_ratio_ok AND alpha_word_ok
                              AND stopword_ok AND bullet_ok AND ellipsis_ok
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS pass_docs,
           CAST(COALESCE(SUM(CASE WHEN NOT word_count_ok THEN 1 ELSE 0 END),
                0) AS BIGINT) AS fail_word_count,
           CAST(COALESCE(SUM(CASE WHEN NOT mean_word_len_ok THEN 1 ELSE 0
                END), 0) AS BIGINT) AS fail_mean_word_len,
           CAST(COALESCE(SUM(CASE WHEN NOT symbol_ratio_ok THEN 1 ELSE 0
                END), 0) AS BIGINT) AS fail_symbol_ratio,
           CAST(COALESCE(SUM(CASE WHEN NOT alpha_word_ok THEN 1 ELSE 0 END),
                0) AS BIGINT) AS fail_alpha_word,
           CAST(COALESCE(SUM(CASE WHEN NOT stopword_ok THEN 1 ELSE 0 END),
                0) AS BIGINT) AS fail_stopword,
           CAST(COALESCE(SUM(CASE WHEN NOT bullet_ok THEN 1 ELSE 0 END),
                0) AS BIGINT) AS fail_bullet,
           CAST(COALESCE(SUM(CASE WHEN NOT ellipsis_ok THEN 1 ELSE 0 END),
                0) AS BIGINT) AS fail_ellipsis
    FROM flags
    GROUP BY source
    """,
    tags=("text", "quality", "gopher", "training"),
    bench=True,
)
def docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule (Rae et al. 2021 §A1.1) hard-filter audit per source:
    documents passing all seven rules, plus per-rule failure counts —
    the pass/fail report a curation run reads before dropping data.
    All-integer output (no float rounding hazard); one projection + one
    hash aggregation, no joins.

    min_stopword_hits is 1 here (operator default: Gopher's 2) because
    the synthetic corpus vocabulary contains only 'the' from the
    required list — at 2 the pass column would be identically zero."""
    from covid_data_pipeline_spark.functions.text import gopher_flags

    d = table(spark, sf_dir, "documents").withColumn(
        "g", gopher_flags("text", min_stopword_hits=1)
    )

    def fails(flag: str, out: str):
        return F.coalesce(
            F.sum(F.when(~F.col(f"g.{flag}"), 1).otherwise(0)), F.lit(0)
        ).alias(out)

    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("g.gopher_pass"), 1).otherwise(0)), F.lit(0)
        ).alias("pass_docs"),
        fails("word_count_ok", "fail_word_count"),
        fails("mean_word_len_ok", "fail_mean_word_len"),
        fails("symbol_ratio_ok", "fail_symbol_ratio"),
        fails("alpha_word_ok", "fail_alpha_word"),
        fails("stopword_ok", "fail_stopword"),
        fails("bullet_ok", "fail_bullet"),
        fails("ellipsis_ok", "fail_ellipsis"),
    )


@register(
    "doc_perplexity_bigram",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY w1, w2),
    cu AS (SELECT w1, SUM(cb) AS cu FROM cb GROUP BY w1),
    v AS (
      SELECT COUNT(DISTINCT tok) AS vocab_size
      FROM (SELECT unnest(t) AS tok FROM toks)
    ),
    scored AS (
      SELECT b.doc_id,
             ln((c.cb + 1.0) / (cu.cu + v.vocab_size)) AS lp
      FROM big b
      JOIN cb c USING (w1, w2)
      JOIN cu USING (w1)
      CROSS JOIN v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(lp), 4) + 0 AS avg_logprob,
           ROUND(EXP(-AVG(lp)), 2) AS perplexity
    FROM scored
    GROUP BY doc_id
    """,
    tags=("text", "langmodel"),
    bench=True,
)
def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality signal: Laplace-smoothed bigram
    self-perplexity per document (CCNet-style corpus filtering — the
    reference's heuristic quality rows' model-based sibling). Bigrams
    are a zero-shuffle zip_with projection; context counts are a
    regroup of the bigram counts so the corpus tokenizes once; the
    vocabulary size rides a broadcast cross join (no collect). Every
    per-bigram log-prob is a ratio of integers — bit-identical across
    engines — so only the per-doc mean carries the ROUND guard."""
    from covid_data_pipeline_spark.operators.langmodel import bigram_perplexity

    return bigram_perplexity(table(spark, sf_dir, "documents"))


@register(
    "docs_boilerplate_fraction",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(t) >= 2
          THEN list_distinct(list_transform(range(1, len(t)),
                                            i -> array_to_string(t[i:i+1], ' ')))
          ELSE [array_to_string(t, ' ')] END AS shingles
      FROM toks
    ),
    grams AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    hot AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 25
    )
    SELECT grams.doc_id,
           COUNT(*) AS n_grams,
           ROUND(SUM(CASE WHEN hot.g IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE), 4) AS boilerplate_frac
    FROM grams LEFT JOIN hot ON grams.g = hot.g
    GROUP BY grams.doc_id
    """,
    tags=("text", "boilerplate"),
)
def docs_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document boilerplate signal: fraction of each doc's
    distinct word 2-grams found in ≥25 documents corpus-wide — the
    cross-document complement of docs_repetition_signal (C4's
    repeated-line drop, RefinedWeb's boilerplate gate; absolute df
    threshold per C4's ≥3-occurrences rule). One corpus explode feeds
    both the df aggregate and the per-doc hit join; the hot set is
    mass/min_df-bounded so the hit join broadcasts. k=2/25 chosen
    against the synthetic corpus's gram statistics (3-grams never
    repeat across docs; top 2-grams sit in ~46 docs at every sf) so
    the fraction genuinely discriminates."""
    from covid_data_pipeline_spark.operators.boilerplate import boilerplate_fraction

    return boilerplate_fraction(
        table(spark, sf_dir, "documents"), k=2, min_df=25
    )


def _logreg_oracle() -> str:
    from covid_data_pipeline_spark.operators.classifier import (
        logreg_oracle_sql,
    )

    return logreg_oracle_sql(iters=40, lr_shift=0)


@register(
    "quality_classifier_scores",
    _logreg_oracle(),
    tags=("text", "classifier", "ml", "iterative"),
)
def quality_classifier_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (GPT-3 appendix-A lineage), trained
    in-engine against deterministic corrupted twins and scored map-side
    with broadcast(-literal) coefficients. Round 5 upgraded this from
    rows-only to hash-verified by swapping L-BFGS floats for the
    integer-lattice hard-sigmoid GD
    (`operators/classifier.py::logreg_lattice_scores`) — the same trick
    that made k-means oracle-able: the DuckDB oracle replays all 40
    gradient steps as unrolled MATERIALIZED CTEs and the emitted
    logit_micro is exact BIGINT. Separation and partitioning
    independence are pytest-proven in tests/test_classifier.py."""
    from covid_data_pipeline_spark.operators.classifier import (
        logreg_lattice_scores,
    )

    return logreg_lattice_scores(table(spark, sf_dir, "documents"))


@register(
    "docs_quality_percentile_rank",
    """
    WITH scored AS (
      SELECT doc_id, source,
             (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q
      FROM documents
    )
    SELECT doc_id, source,
           CAST(ROUND(PERCENT_RANK() OVER (
                  PARTITION BY source ORDER BY q, doc_id), 4) AS DOUBLE)
             AS q_pct_rank
    FROM scored
    """,
    tags=("text", "quality", "normalization"),
)
def docs_quality_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank normalization of the quality score —
    the threshold-free filter basis ("drop the bottom 20% of EACH
    source") that absolute score cutoffs can't give when sources have
    different score distributions. PERCENT_RANK is pure rank
    arithmetic ((rank-1)/(n-1)) — no interpolation, so both engines
    compute identical values; doc_id tiebreaks equal scores per the
    window policy."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score("text").alias("q")
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        F.round(F.percent_rank().over(w), 4).alias("q_pct_rank"),
    )


@register(
    "vocab_oov_rate",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents),
    bi AS (
      SELECT doc_id, a[i] || ' ' || a[i+1] AS tok
      FROM t, LATERAL (SELECT unnest(range(1, len(a))) AS i)),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS docfreq FROM bi GROUP BY tok),
    vocab AS (SELECT tok FROM df ORDER BY docfreq DESC, tok LIMIT 400)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_bigrams
    FROM bi b LEFT JOIN vocab v USING (tok)
    GROUP BY b.doc_id
    """,
    tags=("text", "vocab", "oov"),
    bench=True,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV audit: build a top-K (K=400) word-bigram
    vocabulary by DOCUMENT frequency (ties broken lexically), then count
    each doc's total and out-of-vocab bigram occurrences — the
    tokenizer-fit signal ("how much of this corpus does a fixed vocab
    cover") a training pipeline checks before committing a tokenizer.

    Scale shape: two corpus passes (doc-frequency agg, per-doc agg),
    both map-side-combining hash shuffles; the top-K vocab is a
    TakeOrderedAndProject (no global sort materialized) and re-enters
    as a BROADCAST hash join, so the occurrence relation is never
    shuffled for membership. Bigrams come from one let-bound token
    split (regex runs once per doc, zip_with over two slices)."""
    from covid_data_pipeline_spark.functions.text import let

    docs = table(spark, sf_dir, "documents")

    def _bigrams(t):
        n = F.size(t)
        return F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        )

    occ = docs.select(
        "doc_id", F.explode(let(tokens("text"), _bigrams)).alias("tok")
    )
    docfreq = (
        occ.dropDuplicates(["doc_id", "tok"])
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("docfreq"))
    )
    vocab = (
        docfreq.orderBy(F.col("docfreq").desc(), "tok")
        .limit(400)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    return (
        # bcast: model(400) capped vocab top-k
        occ.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_bigrams"),
        )
    )


@register(
    "term_drift_by_cohort",
    r"""
    WITH toks AS (
      SELECT CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10
                  THEN 'a' ELSE 'b' END AS cohort,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS cnt_a,
             SUM(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS cnt_b
      FROM toks GROUP BY tok),
    tot AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM counts)
    SELECT tok, CAST(cnt_a AS BIGINT) AS cnt_a,
           CAST(cnt_b AS BIGINT) AS cnt_b,
           CAST(FLOOR(cnt_a * 10000.0 / ta) AS BIGINT)
             - CAST(FLOOR(cnt_b * 10000.0 / tb) AS BIGINT) AS drift_bp
    FROM counts, tot
    """,
    tags=("text", "drift", "monitoring"),
)
def term_drift_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus cohorts (sources
    0-9 vs 10-19 stand in for old/new snapshots): per token, occurrence
    counts in each cohort and the basis-point share delta — the
    vocabulary-shift monitor run before retraining on a refreshed crawl.

    All-integer output (counts + floor'd basis points of exact integer
    ratios) — no logs or float ratios, so cross-engine bit-equality is
    structural. One token shuffle with map-side combine; cohort totals
    re-enter via a broadcast single row (tiny cross join), never a
    second corpus pass."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(
            F.substring("source", 4, 10).cast("int") < 10, "a"
        ).otherwise("b").alias("cohort"),
        F.explode(tokens("text")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("cohort") == "a", 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("cohort") == "b", 1).otherwise(0)).alias("cnt_b"),
    )
    # bcast: const(1) two-cohort totals agg
    tot = F.broadcast(
        counts.agg(
            F.sum("cnt_a").alias("ta"), F.sum("cnt_b").alias("tb")
        )
    )
    return counts.crossJoin(tot).select(
        "tok",
        "cnt_a",
        "cnt_b",
        (
            F.floor(F.col("cnt_a") * 10000.0 / F.col("ta"))
            - F.floor(F.col("cnt_b") * 10000.0 / F.col("tb"))
        ).cast("bigint").alias("drift_bp"),
    )


@register(
    "token_mass_percentiles",
    r"""
    WITH sized AS (
      SELECT len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens
      FROM documents),
    by_len AS (
      SELECT n_tokens, SUM(n_tokens) AS mass
      FROM sized GROUP BY n_tokens),
    cum AS (
      SELECT n_tokens,
             SUM(mass) OVER (ORDER BY n_tokens
                             ROWS UNBOUNDED PRECEDING) AS cum_mass,
             (SELECT SUM(mass) FROM by_len) AS total
      FROM by_len)
    SELECT
      MIN(CASE WHEN cum_mass * 4 >= total THEN n_tokens END) AS p25_len,
      MIN(CASE WHEN cum_mass * 2 >= total THEN n_tokens END) AS p50_len,
      MIN(CASE WHEN cum_mass * 4 >= total * 3 THEN n_tokens END) AS p75_len
    FROM cum
    """,
    tags=("text", "percentile", "token-mass"),
)
def token_mass_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-MASS-weighted doc-length percentiles: the length of the doc
    containing the p25/p50/p75-th token (not the median DOC — budgets
    are token-denominated, and a few huge docs can hold most of the
    mass).

    Scale shape: the corpus collapses to one row per DISTINCT length
    first (bounded domain, map-side combine), so the cumulative window
    runs over that tiny relation — never a global sort of the corpus.
    Threshold picks are integer comparisons (cum*4 >= total etc.), no
    float division."""
    docs = table(spark, sf_dir, "documents")
    by_len = (
        docs.select(token_count("text").alias("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.sum("n_tokens").alias("mass"))
    )
    w = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # bcast: const(1) scalar total-mass agg
    tot = F.broadcast(by_len.agg(F.sum("mass").alias("total")))
    cum = by_len.withColumn("cum_mass", F.sum("mass").over(w)).crossJoin(tot)
    return cum.agg(
        F.min(
            F.when(F.col("cum_mass") * 4 >= F.col("total"), F.col("n_tokens"))
        ).alias("p25_len"),
        F.min(
            F.when(F.col("cum_mass") * 2 >= F.col("total"), F.col("n_tokens"))
        ).alias("p50_len"),
        F.min(
            F.when(
                F.col("cum_mass") * 4 >= F.col("total") * 3, F.col("n_tokens")
            )
        ).alias("p75_len"),
    )


@register(
    "curation_report_by_source",
    r"""
    WITH scored AS (
      SELECT source,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
             length(text) AS n_chars,
             (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q,
             (regexp_matches(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')
              OR regexp_matches(text, '\d{3}-\d{2}-\d{4}'))::INT AS has_pii
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(q), 4) AS avg_quality,
           CAST(SUM(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short,
           CAST(SUM(has_pii) AS BIGINT) AS n_pii
    FROM scored GROUP BY source
    """,
    tags=("text", "curation", "report"),
)
def curation_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard in ONE corpus pass: doc and token
    volume, mean quality score, short-doc and PII-bearing doc counts —
    the summary a data lead reads before deciding per-source filter
    thresholds. Every metric is a map-side projection feeding a single
    source-keyed aggregation (map-side combine; ~sources rows out)."""
    from covid_data_pipeline_spark.functions.text import PII_PATTERNS

    docs = table(spark, sf_dir, "documents")
    has_pii = (
        F.regexp_count("text", F.lit(PII_PATTERNS[0][0]))
        + F.regexp_count("text", F.lit(PII_PATTERNS[1][0]))
        > 0
    ).cast("int")
    scored = docs.select(
        "source",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        quality_score("text").alias("q"),
        has_pii.alias("has_pii"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
        F.sum(F.when(F.col("n_chars") < 50, 1).otherwise(0)).alias("n_short"),
        F.sum("has_pii").alias("n_pii"),
    )


@register(
    "source_overlap_matrix",
    r"""
    WITH t AS (
      SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents),
    st AS (
      SELECT DISTINCT source, a[i] || ' ' || a[i+1] AS tok
      FROM t, LATERAL (SELECT unnest(range(1, len(a))) AS i))
    SELECT x.source AS src_a, y.source AS src_b,
           COUNT(*) AS shared_bigrams
    FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source
    GROUP BY x.source, y.source
    """,
    tags=("text", "overlap", "contamination"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix: for every source pair, how many
    DISTINCT word bigrams they share — the boilerplate/mirror detector
    run before trusting sources as independent (a pair sharing most of
    its bigram vocabulary is one crawl mirrored twice).

    Scale shape: the corpus collapses to distinct (source, bigram)
    FIRST (hash agg, map-side combine); the self-join is keyed on the
    bigram with fan-out bounded by sources² per bigram — the pair
    relation never exceeds sources² rows after the count agg. A
    ubiquitous bigram present in every source costs sources² rows, not
    corpus²."""
    from covid_data_pipeline_spark.functions.text import let

    docs = table(spark, sf_dir, "documents")

    def _bigrams(t):
        n = F.size(t)
        return F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        )

    st = docs.select(
        "source", F.explode(let(tokens("text"), _bigrams)).alias("tok")
    ).dropDuplicates(["source", "tok"])
    x = st.select(F.col("source").alias("src_a"), "tok")
    y = st.select(F.col("source").alias("src_b"), "tok")
    return (
        x.join(y, on="tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_bigrams"))
    )


@register(
    "strip_duplicate_spans_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             CASE WHEN len(t) >= 5 THEN array_to_string(t[i:i+4], ' ')
                  ELSE array_to_string(t, ' ') END AS g
      FROM toks, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    hot AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams) dg
      GROUP BY g HAVING COUNT(*) >= 2
    ),
    hot_pos AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM hot)
    ),
    meta AS (SELECT doc_id, len(t) AS n, LEAST(5, len(t)) AS w, t FROM toks),
    removed AS (
      SELECT DISTINCT hp.doc_id, r.p
      FROM hot_pos hp JOIN meta m ON hp.doc_id = m.doc_id,
           UNNEST(range(hp.pos, hp.pos + m.w)) AS r(p)
    ),
    spans AS (
      SELECT doc_id,
             COUNT(*) FILTER (WHERE prev IS NULL OR pos - prev >= w)
               AS n_spans
      FROM (
        SELECT hp.doc_id, hp.pos, m.w,
               LAG(hp.pos) OVER (
                 PARTITION BY hp.doc_id ORDER BY hp.pos) AS prev
        FROM hot_pos hp JOIN meta m USING (doc_id)
      ) lagged
      GROUP BY doc_id
    ),
    tok_rows AS (
      SELECT doc_id, t[i] AS tok, i AS p
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    clean AS (
      SELECT tr.doc_id,
             string_agg(tr.tok, ' ' ORDER BY tr.p)
               FILTER (WHERE rm.p IS NULL) AS clean_text,
             COUNT(*) FILTER (WHERE rm.p IS NOT NULL) AS n_removed
      FROM tok_rows tr
      LEFT JOIN removed rm ON tr.doc_id = rm.doc_id AND tr.p = rm.p
      GROUP BY tr.doc_id
    )
    SELECT d.doc_id,
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(m.n AS INT) AS n_tokens,
           CAST(COALESCE(c.n_removed, 0) AS INT) AS n_removed,
           CAST(COALESCE(s.n_spans, 0) AS INT) AS n_spans
    FROM documents d
    JOIN meta m USING (doc_id)
    LEFT JOIN clean c ON d.doc_id = c.doc_id
    LEFT JOIN spans s ON d.doc_id = s.doc_id
    """,
    tags=("text", "dedup", "span-removal"),
    bench=True,
)
def strip_duplicate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-repeated span REMOVAL (operators/boilerplate.py::
    strip_duplicate_spans): every 5-gram occurring in >= 2 distinct
    documents is cut out of every document, overlapping cuts merged into
    maximal spans — the C4/Lee-et-al. answer to shared footers and
    licence blocks that doc-level dedup cannot touch (the docs differ,
    only their chrome repeats). The oracle replays the interval algebra
    relationally (per-token rows + anti-join); the engine keeps tokens
    inside the row and runs the merge as higher-order functions — the
    per-token relation never shuffles."""
    from covid_data_pipeline_spark.operators.boilerplate import (
        strip_duplicate_spans,
    )

    d = table(spark, sf_dir, "documents")
    return strip_duplicate_spans(d, k=5, min_df=2)


@register(
    "heavy_hitter_tokens",
    r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ),
    t2 AS (SELECT token FROM toks WHERE token <> ''),
    tot AS (SELECT COUNT(*) AS n FROM t2)
    SELECT token, COUNT(*)::BIGINT AS cnt FROM t2, tot
    GROUP BY token, n HAVING COUNT(*) * 51 > n
    """,
    tags=("text", "heavy-hitters", "pandas-udf"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy-hitter tokens (count > n/51, i.e. k=50) in two
    bounded-memory passes: per-partition Misra–Gries summaries nominate
    ≤ k candidates each (any global heavy hitter must cross the local
    bar in some partition — pigeonhole), then one broadcast-semi-join
    recount scores candidates exactly and the integer threshold
    count·(k+1) > n decides membership. The oracle is the full
    GROUP BY + HAVING — identical output, but the Spark plan never
    shuffles the token domain, only ≤ k·partitions candidate rows."""
    from covid_data_pipeline_spark.operators.heavyhitters import (
        token_heavy_hitters,
    )

    return token_heavy_hitters(table(spark, sf_dir, "documents"), k=50)


@register(
    "docs_char_entropy",
    r"""
    WITH ch AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(
               regexp_replace(text, '[^\x20-\x7e]', '', 'g'), '')) AS c
      FROM documents
    ),
    ch2 AS (SELECT doc_id, c FROM ch WHERE c <> ''),
    cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch2 GROUP BY 1, 2),
    agg AS (SELECT doc_id, SUM(k * ln(k)) AS s, SUM(k) AS n FROM cc GROUP BY 1)
    SELECT doc_id,
           ROUND((ln(n) - s / n) / 0.6931471805599453, 4)
             AS char_entropy_bits
    FROM agg
    """,
    tags=("text", "quality", "entropy"),
)
def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality signal (bits): flags
    gibberish / base64 blobs / single-char spam that length and
    stopword ratios miss. Every log argument is an integer count
    (perplexity float policy); the ln 2 divisor is a shared literal so
    neither engine's libm constant enters the comparison."""
    from covid_data_pipeline_spark.operators.quality import char_entropy

    return char_entropy(table(spark, sf_dir, "documents"))


@register(
    "docs_nfc_normalize",
    """
    SELECT doc_id, nfc_normalize(text) AS text_nfc,
           (nfc_normalize(text) = text) AS was_normalized
    FROM documents
    """,
    tags=("text", "normalize", "pandas-udf"),
)
def docs_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization of the text column (vectorized
    pandas_udf vs the oracle's native nfc_normalize — both implement
    Unicode NFC, so outputs are byte-identical). The pass that runs
    before fingerprints/dedup so composed vs decomposed accents can't
    leak duplicates; non-ASCII behavior is pinned by planted
    composed/decomposed pairs in pytest."""
    from covid_data_pipeline_spark.functions.text import nfc_normalize_udf

    nfc = nfc_normalize_udf()
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        nfc(F.col("text")).alias("text_nfc"),
        (nfc(F.col("text")) == F.col("text")).alias("was_normalized"),
    )


_BM25_QUERIES_SQL = """(VALUES
    (CAST(1 AS BIGINT), 'spark hash join'),
    (CAST(2 AS BIGINT), 'window agg batch stream'),
    (CAST(3 AS BIGINT), 'slow query scan the')) q(query_id, qtext)"""

_BM25_CORE_SQL = r"""
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
),
postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS s_toks FROM dl),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(regexp_split_to_array(trim(lower(qtext)), '\s+')) AS term
  FROM qsrc
),
qvocab AS (SELECT DISTINCT term FROM qterms),
dfreq AS (
  SELECT p.term, COUNT(*) AS df
  FROM postings p JOIN qvocab v ON p.term = v.term GROUP BY 1
),
matched AS (
  SELECT qt.query_id, p.doc_id, p.tf, f.df, l.dl, t.n_docs, t.s_toks
  FROM postings p
  JOIN qterms qt ON p.term = qt.term
  JOIN dfreq f ON p.term = f.term
  JOIN dl l ON p.doc_id = l.doc_id, totals t
),
scored AS (
  SELECT query_id, doc_id,
         SUM(CAST(ROUND(
           ln((2 * n_docs + 2)::DOUBLE / (2 * df + 1)::DOUBLE)
           * ((22::HUGEINT * s_toks * tf)::DOUBLE
              / (10::HUGEINT * s_toks * tf + 3::HUGEINT * s_toks
                 + 9::HUGEINT * dl * n_docs)::DOUBLE),
           6) AS DECIMAL(18,6))) AS s
  FROM matched GROUP BY 1, 2
),
bm25_ranked AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (
           PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
  FROM scored
)"""

_BM25_ORACLE = (
    "WITH qsrc AS (SELECT * FROM "
    + _BM25_QUERIES_SQL
    + "),"
    + _BM25_CORE_SQL
    + """
SELECT query_id, doc_id, CAST(ROUND(s, 4) AS DOUBLE) AS bm25
FROM bm25_ranked WHERE rn <= 10
"""
)


@register(
    "bm25_search_docs",
    _BM25_ORACLE,
    tags=("text", "retrieval", "bm25"),
    bench=True,
)
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BM25 top-10 (`operators/retrieval.py::bm25_topk`)
    for a fixed 3-query workload: one token shuffle builds the posting
    relation, query terms broadcast against it, per-term scores are
    exact integer ratios (ln of an integer ratio × a DECIMAL(38,0)
    rational) rounded once and DECIMAL-summed — the ranking is
    bit-stable on any engine/partitioning."""
    from covid_data_pipeline_spark.operators.retrieval import bm25_topk

    d = table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [
            (1, "spark hash join"),
            (2, "window agg batch stream"),
            (3, "slow query scan the"),
        ],
        "query_id long, qtext string",
    )
    return bm25_topk(d, q, k=10)


_HYBRID_ORACLE = (
    """
WITH qsrc AS (
  SELECT doc_id AS query_id, text AS qtext FROM documents WHERE doc_id < 5
),"""
    + _BM25_CORE_SQL
    + """,
v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
  FROM embeddings
),
cos AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         ROUND(list_dot_product(q.dv, e.dv)
               / (sqrt(list_dot_product(q.dv, q.dv))
                  * sqrt(list_dot_product(e.dv, e.dv))), 4) AS sim
  FROM v q, v e WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
),
cos_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rn
  FROM cos
),
bm25_rrf AS (
  -- rrf_fuse re-ranks the returned top-10 by the ROUNDED output score
  -- (bm25_topk exposes 4dp); a 4dp tie can permute vs the 6dp
  -- selection order, so the fusion rank must be recomputed on the
  -- same rounded value Spark sees
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY CAST(ROUND(s, 4) AS DOUBLE) DESC, doc_id) AS rn2
  FROM bm25_ranked WHERE rn <= 10
),
contrib AS (
  SELECT query_id, doc_id, 1000000000 // (60 + rn) AS c
  FROM cos_ranked WHERE rn <= 10
  UNION ALL
  SELECT query_id, doc_id, 1000000000 // (60 + rn2) AS c
  FROM bm25_rrf
),
fused AS (
  SELECT query_id, doc_id, SUM(c) AS rrf_score
  FROM contrib GROUP BY 1, 2
)
SELECT query_id, doc_id, CAST(rrf_score AS BIGINT) AS rrf_score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= 10
"""
)


@register(
    "hybrid_rrf_search",
    _HYBRID_ORACLE,
    tags=("text", "retrieval", "hybrid", "rrf"),
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid similar-document search: for 5 query documents, fuse the
    exact embedding-cosine ranking with a BM25 ranking of the same
    document's text (`operators/retrieval.py::rrf_fuse`) by reciprocal
    rank — the calibration-free keyword+vector combination a retrieval
    stack serves. Contributions are integer ``10⁹ div (60 + rank)`` so
    the fused ranking hash-matches the SQL replay exactly."""
    from covid_data_pipeline_spark.operators.retrieval import bm25_topk, rrf_fuse
    from covid_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    d = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    qdocs = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    bm25 = bm25_topk(d, qdocs, k=10)
    qvecs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cos = cosine_topk_bruteforce(
        emb, qvecs, k=10, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id",
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse(
        [cos, bm25],
        k=10,
        qid_col="query_id",
        id_col="doc_id",
        score_cols=["similarity", "bm25"],
    )


@register(
    "docs_cdc_chunks",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, i, t[i] AS tok,
             CASE WHEN i >= 4 AND
                  (CAST(concat('0x', substr(md5(
                       array_to_string(t[GREATEST(i-3, 1):i], ' ')), 1, 15)) AS BIGINT)
                   % 2147483647) % 64 = 0
                  THEN 1 ELSE 0 END AS b
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
    seg AS (
      SELECT doc_id, i, tok,
             CAST(1 + COALESCE(SUM(b) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
               AS chunk_idx
      FROM pos),
    ch AS (
      SELECT doc_id, chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             string_agg(tok, ' ' ORDER BY i) AS chunk_text
      FROM seg GROUP BY 1, 2)
    SELECT doc_id, chunk_idx, n_tokens, chunk_text,
           md5(chunk_text) AS chunk_hash
    FROM ch
    """,
    tags=("text", "chunk", "dedup", "cdc"),
)
def docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of every document
    (`operators/chunking.py::content_defined_chunks`): rolling-hash
    token boundaries (4-gram md5-prefix ≡ 0 mod 64) that re-synchronize
    across insertions, emitting the chunk_hash dedup keys that
    fixed-window chunking cannot keep stable under shifted content."""
    from covid_data_pipeline_spark.operators.chunking import (
        content_defined_chunks,
    )

    docs = table(spark, sf_dir, "documents")
    return content_defined_chunks(docs)


@register(
    "kneser_ney_bigram_lm",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    big AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
    cb AS (SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2),
    lft AS (SELECT w1, SUM(c) AS cl, COUNT(*) AS nl FROM cb GROUP BY 1),
    rgt AS (SELECT w2, COUNT(*) AS nr FROM cb GROUP BY 1),
    tt AS (SELECT COUNT(*) AS t_types FROM cb),
    scored AS (
      SELECT cb.w1, cb.w2, cb.c,
             (CAST(cb.c AS DOUBLE) - 0.75) / CAST(l.cl AS DOUBLE)
             + ((0.75 * CAST(l.nl AS DOUBLE)) / CAST(l.cl AS DOUBLE))
               * (CAST(r.nr AS DOUBLE) / CAST(tt.t_types AS DOUBLE)) AS p
      FROM cb JOIN lft l USING (w1) JOIN rgt r USING (w2) CROSS JOIN tt),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY c DESC, w1, w2) AS rk
      FROM scored)
    SELECT w1, w2, c AS n_pairs, ROUND(p, 6) AS p_kn
    FROM ranked WHERE rk <= 200
    """,
    tags=("text", "langmodel", "smoothing"),
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus bigrams with interpolated Kneser-Ney
    probabilities (`operators/langmodel.py::kneser_ney_bigrams`) — the
    continuation-count smoother behind production n-gram LMs, upgrading
    doc_perplexity_bigram's Laplace floor. Counts are exact BIGINTs off
    ONE corpus tokenization; the probability is a fixed per-row IEEE
    expression both engines state identically; the top-n is Spark's
    distributed TakeOrdered vs the oracle's ROW_NUMBER."""
    from covid_data_pipeline_spark.operators.langmodel import (
        kneser_ney_bigrams,
    )

    return kneser_ney_bigrams(
        table(spark, sf_dir, "documents"), discount=0.75, top_n=200
    )


@register(
    "phrase_search_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    idx AS (
      SELECT doc_id, t[i] AS tok, i AS pos
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
    a AS (SELECT doc_id, pos AS p0 FROM idx WHERE tok = 'table'),
    b AS (SELECT doc_id, pos - 1 AS p0 FROM idx WHERE tok = 'hash')
    SELECT a.doc_id, COUNT(*) AS n_matches, MIN(a.p0) AS first_pos
    FROM a JOIN b USING (doc_id, p0)
    GROUP BY a.doc_id
    """,
    tags=("text", "retrieval", "phrase"),
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search for "table hash" over the corpus via a
    positional inverted index
    (`operators/retrieval.py::phrase_search`): per-doc consecutive-
    occurrence count and first match position. The engine filters the
    postings to the phrase's terms BEFORE the adjacency join (term 2
    at pos+1), so join inputs are posting lists, never the corpus —
    the oracle states the same adjacency join over an unnest-built
    index."""
    from covid_data_pipeline_spark.operators.retrieval import phrase_search

    return phrase_search(
        table(spark, sf_dir, "documents"), phrase="table hash"
    )


@register(
    "docs_feature_hashing",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS tok
      FROM documents),
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks),
    slotted AS (
      SELECT doc_id, h % 32 AS slot,
             CASE WHEN (h % 64) >= 32 THEN -1 ELSE 1 END AS sign
      FROM hashed),
    per_slot AS (
      SELECT doc_id, slot, CAST(SUM(sign) AS DOUBLE) AS val,
             COUNT(*) AS n
      FROM slotted GROUP BY 1, 2),
    grid AS (
      SELECT d.doc_id, g.slot FROM
        (SELECT DISTINCT doc_id FROM per_slot) d,
        (SELECT unnest(range(0, 32)) AS slot) g)
    SELECT grid.doc_id,
           CAST(SUM(COALESCE(p.n, 0)) AS BIGINT) AS n_tokens,
           array_to_string(
             list(CAST(COALESCE(p.val, 0.0) AS BIGINT) ORDER BY grid.slot),
             ',') AS features
    FROM grid LEFT JOIN per_slot p
      ON grid.doc_id = p.doc_id AND grid.slot = p.slot
    GROUP BY grid.doc_id
    """,
    tags=("text", "features", "hashing-trick"),
)
def docs_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (hashing trick, Weinberger et al.
    ICML'09) of every document into a fixed 32-dim vector
    (`operators/features.py::feature_hash_vectors`): slot = portable
    md5-prefix hash mod 32, sign from the next hash bit, coordinate =
    signed token-count sum. No vocabulary pass, no broadcast — the
    featurizer a streaming corpus needs. Every coordinate is an
    integer-valued double derived from the portable hash, so the
    oracle rebuilds the identical vectors in SQL. The vector is
    serialized (int-cast, comma-joined) at the query boundary only —
    the driver's canonicalizer cannot hash top-level ArrayType."""
    from covid_data_pipeline_spark.operators.features import (
        feature_hash_vectors,
    )

    out = feature_hash_vectors(table(spark, sf_dir, "documents"), dim=32)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join(
            F.col("features").cast("array<bigint>").cast("array<string>"),
            ",",
        ).alias("features"),
    )


@register(
    "docs_flesch_readability",
    r"""
    WITH m AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      FROM documents)
    SELECT doc_id, lang, words, sentences, syllables,
           ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) + 0
             AS flesch_score
    FROM m WHERE words > 0
    """,
    tags=("text", "readability", "quality"),
)
def docs_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; a Gopher/C4-era
    quality heuristic sibling): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with sentences = terminator runs (floor 1)
    and syllables = vowel groups (`functions/text.py::sentence_count`/
    `syllable_count`). Pure projection — zero shuffles, regex counts
    replayed identically by the oracle; the score is one per-row IEEE
    expression over exact integers, ROUND(4)-guarded."""
    from covid_data_pipeline_spark.functions.text import (
        sentence_count,
        syllable_count,
        token_count,
    )

    docs = table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        "lang",
        token_count("text").alias("words"),
        sentence_count("text").alias("sentences"),
        syllable_count("text").alias("syllables"),
    )
    return m.where(F.col("words") > 0).select(
        "doc_id",
        "lang",
        "words",
        "sentences",
        "syllables",
        round_stable(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sentences"))
            - F.lit(84.6)
            * (F.col("syllables").cast("double") / F.col("words")),
            4,
        ).alias("flesch_score"),
    )


@register(
    "zipf_law_fit",
    r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    ranked AS (
      SELECT tok, c,
             row_number() OVER (ORDER BY c DESC, tok) AS rnk
      FROM freq),
    pts AS (
      SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
               AS x_micro,
             CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
               AS y_micro
      FROM ranked WHERE rnk <= 1000),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x_micro) AS BIGINT) AS sx,
             CAST(SUM(y_micro) AS BIGINT) AS sy,
             CAST(SUM(x_micro * y_micro) AS BIGINT) AS sxy,
             CAST(SUM(x_micro * x_micro) AS BIGINT) AS sxx
      FROM pts),
    fit AS (
      SELECT n,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
             sx, sy
      FROM s)
    SELECT n,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0 AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * sx)
                 / n / 1000000.0, 4) + 0 AS intercept_ln
    FROM fit
    """,
    tags=("text", "zipf", "regression"),
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) on ln(rank) over the top-1000 corpus tokens —
    the Zipf exponent, a one-number corpus-health signal (natural text
    sits near slope -1; templated/spammy corpora flatten or steepen).

    Determinism: the regression moments are NOT float sums (cross-row
    float accumulation drifts across engines/partitionings) — each
    point's ln() is integer-scaled to micro-units first, so
    Sx/Sy/Sxy/Sxx are exact BIGINTs; the normal-equation numerator and
    denominator then expand in DECIMAL(38,0)/HUGEINT (their cross
    products overflow signed 64 — the burst_days quadratic-integer
    rule) and only the final slope/intercept divisions are float.
    One token shuffle + a tiny top-1000 TakeOrdered."""
    from covid_data_pipeline_spark.functions.text import tokens as _toks

    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_toks("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = (
        freq.orderBy(F.col("c").desc(), "tok")
        .limit(1000)
        .withColumn("rnk", F.row_number().over(w))
    )

    def micro(col):
        return F.round(F.log(col.cast("double")) * 1000000.0, 0).cast("long")

    pts = ranked.select(
        micro(F.col("rnk")).alias("x_micro"),
        micro(F.col("c")).alias("y_micro"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_micro").alias("sx"),
        F.sum("y_micro").alias("sy"),
        F.sum(F.col("x_micro") * F.col("y_micro")).alias("sxy"),
        F.sum(F.col("x_micro") * F.col("x_micro")).alias("sxx"),
    )
    dec = "DECIMAL(38,0)"
    fit = s.select(
        "n",
        "sx",
        "sy",
        F.expr(
            f"CAST(n AS {dec}) * CAST(sxy AS {dec})"
            f" - CAST(sx AS {dec}) * CAST(sy AS {dec})"
        ).alias("num"),
        F.expr(
            f"CAST(n AS {dec}) * CAST(sxx AS {dec})"
            f" - CAST(sx AS {dec}) * CAST(sx AS {dec})"
        ).alias("den"),
    )
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    return fit.select(
        "n",
        round_stable(slope, 4).alias("zipf_slope"),
        round_stable(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / 1000000.0,
            4,
        ).alias("intercept_ln"),
    )


@register(
    "lang_id_confusion",
    f"""
    WITH hits AS (
      SELECT doc_id, lang,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_EN)}))) AS en,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_FR)}))) AS fr,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_DE)}))) AS de
      FROM documents
    ),
    guessed AS (
      SELECT lang AS lang_declared,
             CASE WHEN en >= fr AND en >= de AND en > 0 THEN 'en'
                  WHEN fr >= de AND fr > 0 THEN 'fr'
                  WHEN de > 0 THEN 'de'
                  ELSE 'und' END AS lang_guess
      FROM hits),
    cells AS (
      SELECT lang_declared, lang_guess, COUNT(*) AS n
      FROM guessed GROUP BY 1, 2)
    SELECT lang_declared, lang_guess, n,
           CAST(n * 10000 // SUM(n) OVER (PARTITION BY lang_declared)
                AS BIGINT) AS pct_of_declared_bp
    FROM cells
    """,
    tags=("text", "lang-id", "evaluation"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized confusion matrix of the stopword lang-id
    heuristic against the corpus's declared labels — the evaluation
    loop for lang_id_heuristic (a filter you gate a corpus on deserves
    a measured error profile, not vibes). Cells and basis points are
    exact integers (`n·10000 div row_total`); one groupBy + one tiny
    window over the label-pair domain."""
    from covid_data_pipeline_spark.functions.text import lang_id

    d = table(spark, sf_dir, "documents")
    cells = (
        d.select(
            F.col("lang").alias("lang_declared"),
            lang_id("text").alias("lang_guess"),
        )
        .groupBy("lang_declared", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang_declared")
    return cells.select(
        "lang_declared",
        "lang_guess",
        "n",
        F.expr("n * 10000").cast("long").alias("__num"),
        F.sum("n").over(w).alias("__tot"),
    ).select(
        "lang_declared",
        "lang_guess",
        "n",
        F.expr("__num div __tot").alias("pct_of_declared_bp"),
    )


@register(
    "docs_pmi_collocations",
    r"""
    WITH pmi_toks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    pmi_uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w FROM pmi_toks) GROUP BY 1),
    pmi_n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM pmi_uni),
    pmi_big AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM pmi_toks, UNNEST(range(1, len(t))) AS r(i)
      GROUP BY 1, 2),
    pmi_b AS (SELECT CAST(SUM(c12) AS BIGINT) AS b FROM pmi_big),
    pmi_scored AS (
      SELECT g.w1, g.w2, g.c12,
             ROUND(ln((CAST(g.c12 AS DOUBLE) / t.b)
                   / ((CAST(u1.c1 AS DOUBLE) / n.n)
                      * (CAST(u2.c1 AS DOUBLE) / n.n))), 6) AS pmi
      FROM pmi_big g
      JOIN pmi_uni u1 ON g.w1 = u1.w
      JOIN pmi_uni u2 ON g.w2 = u2.w
      CROSS JOIN pmi_n n CROSS JOIN pmi_b t
      WHERE g.c12 >= 5)
    SELECT w1, w2, c12, pmi, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY pmi DESC, w1, w2) AS INTEGER) AS rnk
      FROM pmi_scored) q
    WHERE rnk <= 50
    """,
    tags=("text", "collocation", "pmi", "ngram"),
)
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus collocations by pointwise mutual information over
    adjacent token pairs (min support 5) — the classic phrase-discovery
    pass (Church & Hanks 1990) run before building a phrase-aware
    vocabulary; complements doc_tfidf_top_terms (which ranks terms per
    doc, not word PAIRS corpus-wide).

    Parity: counts are exact BIGINTs; the PMI is ONE deterministic
    IEEE expression over integer ratios written identically on both
    engines (ln of products of exact-integer divisions — same doubles,
    so ranking on the rounded value with (w1, w2) tiebreaks is stable).
    Scale shape: one bigram rollup (map-side combinable, bounded by
    corpus token count), unigram totals re-entering through hash joins
    on the word key, scalar N/B via broadcast cross join; min-support
    prunes the long tail before the joins. The corpus is scanned twice
    (unigrams + bigrams) — cheaper than materializing a token-array
    checkpoint at warehouse scale."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n = uni.agg(F.sum("c1").alias("n"))
    big = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    b = big.agg(F.sum("c12").alias("b"))
    scored = (
        big.where(F.col("c12") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("cu2")), "w2")
        # bcast: const(1) scalar token-count agg
        .crossJoin(F.broadcast(n))
        # bcast: const(1) scalar bigram-count agg
        .crossJoin(F.broadcast(b))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12").cast("double") / F.col("b"))
                    / (
                        (F.col("cu1").cast("double") / F.col("n"))
                        * (F.col("cu2").cast("double") / F.col("n"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    rw = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return (
        scored.select("w1", "w2", "c12", "pmi", F.row_number().over(rw).alias("rnk"))
        .where(F.col("rnk") <= 50)
    )


@register(
    "lang_token_fertility",
    r"""
    WITH tf AS (
      SELECT lang,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                  AS BIGINT) AS words,
             CAST(len(regexp_extract_all(
                  text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                  AS BIGINT) AS bpe,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(words), 4) AS fertility,
           ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(bpe), 4)
             AS chars_per_token
    FROM tf GROUP BY 1
    """,
    tags=("text", "tokenizer", "multilingual", "diagnostics"),
)
def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and characters per token — the multilingual cost diagnostic
    ("how many tokens does this language pay per word") that drives
    per-language token budgets and flags scripts the tokenizer
    fragments. Exact integer count sums per language; two final
    divisions. Zero-shuffle projection + one map-side-combinable
    rollup."""
    d = table(spark, sf_dir, "documents")
    tf = d.select(
        "lang",
        token_count("text").cast("long").alias("words"),
        bpe_token_count("text").cast("long").alias("bpe"),
        char_count("text").cast("long").alias("chars"),
    )
    return tf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("words"),
        F.sum("bpe").alias("bpe_tokens"),
        F.round(
            F.sum("bpe").cast("double") / F.sum("words"), 4
        ).alias("fertility"),
        F.round(
            F.sum("chars").cast("double") / F.sum("bpe"), 4
        ).alias("chars_per_token"),
    )


@register(
    "corpus_report_card",
    r"""
    WITH rc_d AS (
      SELECT lang, source,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                  AS BIGINT) AS toks
      FROM documents),
    rc_tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(SUM(toks) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_en
      FROM rc_d),
    rc_lang AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM rc_d GROUP BY 1),
    rc_ent AS (
      SELECT CAST(SUM(-l.c * CAST(ROUND(
               ln(CAST(l.c AS DOUBLE) / t.n_docs) * 1e6, 0) AS BIGINT))
               AS BIGINT) AS ent_micro
      FROM rc_lang l CROSS JOIN rc_tot t)
    SELECT t.n_docs, t.n_langs, t.n_sources, t.total_tokens,
           ROUND(CAST(t.total_tokens AS DOUBLE) / t.n_docs, 4)
             AS mean_doc_tokens,
           ROUND(CAST(e.ent_micro AS DOUBLE) / (t.n_docs * 1e6), 6)
             AS lang_entropy_nats,
           ROUND(CAST(t.n_en AS DOUBLE) / t.n_docs, 4) AS english_share
    FROM rc_tot t CROSS JOIN rc_ent e
    """,
    tags=("text", "diagnostics", "report"),
)
def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus report card: document / language / source counts,
    token mass, mean document length, language-distribution Shannon
    entropy (micro-nat exact — the "is this corpus monolingual in
    disguise" number; e^H is the effective language count), and the
    English share — the summary a curation run prints first, before
    anyone drills into the per-family dashboards. One corpus pass +
    constant-size rollups; the distinct counts ride the same
    aggregation."""
    d = table(spark, sf_dir, "documents")
    rcd = d.select("lang", "source", token_count("text").cast("long").alias("toks"))
    tot = rcd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("toks").alias("total_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
    )
    lang = rcd.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    ent = (
        # bcast: const(1) scalar doc-count agg
        lang.crossJoin(F.broadcast(tot.select("n_docs")))
        .agg(
            F.sum(
                -F.col("c")
                * F.round(
                    F.log(F.col("c").cast("double") / F.col("n_docs"))
                    * 1e6,
                    0,
                ).cast("long")
            ).alias("ent_micro")
        )
    )
    # bcast: const(1) scalar entropy agg
    return tot.crossJoin(F.broadcast(ent)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs"), 4
        ).alias("mean_doc_tokens"),
        F.round(
            F.col("ent_micro").cast("double") / (F.col("n_docs") * 1e6), 6
        ).alias("lang_entropy_nats"),
        F.round(F.col("n_en").cast("double") / F.col("n_docs"), 4).alias(
            "english_share"
        ),
    )


def _textrank_oracle(iters: int = 5, top_n: int = 25) -> str:
    """TextRank = the shared integer-PageRank unroll
    (`queries_similarity._pagerank_oracle`) over the word-adjacency
    graph: lowercase whitespace tokens filtered to ^[a-z]{4,}$, edges
    between CONSECUTIVE surviving tokens (filter first, then window —
    Mihalcea & Tarau 2004's syntactic-filter order), symmetrized;
    multi-edges stay, so co-occurrence frequency weights the walk."""
    from covid_data_pipeline_spark.harness.queries_similarity import (
        _pagerank_oracle,
    )

    edges_head = r"""tr_tok AS (
      SELECT list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> regexp_matches(x, '^[a-z]{4,}$')) AS ft
      FROM documents),
    tr_adj AS (
      SELECT ft[i] AS a, ft[i + 1] AS b
      FROM tr_tok, UNNEST(range(1, GREATEST(len(ft), 1))) AS u(i)
      WHERE len(ft) >= 2),
    e AS (SELECT a AS src, b AS dst FROM tr_adj
          UNION ALL SELECT b AS src, a AS dst FROM tr_adj)"""
    pr = _pagerank_oracle(iters=iters, edges_head=edges_head)
    return f"""
    SELECT word, rank FROM (
      SELECT vec_id AS word, rank,
             ROW_NUMBER() OVER (ORDER BY rank DESC, vec_id) AS rn
      FROM ({pr}) t) r
    WHERE rn <= {top_n}
    """


@register(
    "textrank_keywords",
    _textrank_oracle(),
    tags=("text", "keywords", "pagerank", "iterative"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau 2004):
    integer PageRank (`operators/graph.py::pagerank_int`) over the
    word-adjacency graph — content tokens (^[a-z]{4,}$) linked to their
    next surviving neighbor, symmetrized, multi-edges = frequency
    weights — then the global top-25 words by rank. The unsupervised
    keyword signal a curation pipeline uses for topic tagging and
    stop-phrase mining without a model.

    Scale shape: the token->edge explode is linear in corpus tokens;
    PageRank iterations shuffle node-sized rank relations over the
    edge partitioning (Pregel shape); the top-25 is a
    TakeOrderedAndProject. Hash-exact end to end: the rank fixed point
    is all-BIGINT, so even an ITERATIVE spectral score replays in SQL."""
    from covid_data_pipeline_spark.operators.graph import pagerank_int

    d = table(spark, sf_dir, "documents")
    ft = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t.rlike("^[a-z]{4,}$"),
    )
    adj = (
        d.select(ft.alias("ft"))
        .where(F.size("ft") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ft") - 1),
                    lambda i: F.struct(
                        F.element_at("ft", i).alias("a"),
                        F.element_at("ft", i + 1).alias("b"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    edges = adj.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(adj.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    pr = pagerank_int(edges, src="src", dst="dst", iters=5)
    w = Window.orderBy(F.col("rank").desc(), F.col("node"))
    return (
        pr.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 25)
        .select(F.col("node").alias("word"), "rank")
    )


@register(
    "heaps_law_fit",
    r"""
    WITH htok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS tok
      FROM documents),
    hdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM htok GROUP BY 1),
    hfirst AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM htok GROUP BY 1),
    hnew AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS newv
      FROM hfirst GROUP BY 1),
    hcurve AS (
      SELECT d.doc_id,
             CAST(SUM(d.n_tok) OVER w AS BIGINT) AS cum_tok,
             CAST(SUM(COALESCE(n.newv, 0)) OVER w AS BIGINT) AS cum_vocab
      FROM hdoc d LEFT JOIN hnew n USING (doc_id)
      WINDOW w AS (ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    hxy AS (
      SELECT CAST(ROUND(ln(cum_tok) * 1e6, 0) AS BIGINT) AS x,
             CAST(ROUND(ln(cum_vocab) * 1e6, 0) AS BIGINT) AS y
      FROM hcurve WHERE cum_tok >= 1 AND cum_vocab >= 1),
    hs AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM hxy),
    htot AS (
      SELECT CAST(MAX(cum_tok) AS BIGINT) AS total_tokens,
             CAST(MAX(cum_vocab) AS BIGINT) AS vocab_size,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM hcurve)
    SELECT htot.n_docs, htot.total_tokens, htot.vocab_size,
           ROUND(CAST(hs.n * hs.sxy - hs.sx * hs.sy AS DOUBLE)
                 / CAST(hs.n * hs.sxx - hs.sx * hs.sx AS DOUBLE), 6) AS beta,
           ROUND(exp((CAST(hs.sy AS DOUBLE)
                      - (CAST(hs.n * hs.sxy - hs.sx * hs.sy AS DOUBLE)
                         / CAST(hs.n * hs.sxx - hs.sx * hs.sx AS DOUBLE))
                        * CAST(hs.sx AS DOUBLE))
                     / (CAST(hs.n AS DOUBLE) * 1e6)), 4) AS k
    FROM hs CROSS JOIN htot
    """,
    tags=("text", "vocabulary", "heaps-law"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β of vocabulary growth over the
    doc_id-ordered corpus — the companion diagnostic to docs_zipf_fit:
    β far from ~0.5 flags template/boilerplate corpora (vocabulary
    saturates) or id-like token floods (β → 1), both of which poison
    tokenizer training and dedup shingles.

    Construction: cumulative token count and cumulative DISTINCT
    vocabulary per document prefix — first-occurrence attribution
    (token → MIN(doc_id), one rollup) turns "running distinct" into a
    plain running SUM, the same trick as daily_distinct_users_bitmap's
    exact rollup. The log-log OLS runs on micro-scaled ln values with
    HUGEINT/decimal(38,0) normal equations (the Zipf-fit recipe): every
    sum is exact integer, β and K are single deterministic IEEE
    expressions over those exact sums, ROUND-guarded. Scale: two
    shuffles (token rollup, per-doc rollup) + one tiny ordered window
    over docs."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    )
    hdoc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    hnew = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("newv"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        hdoc.join(hnew, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tok").over(w).alias("cum_tok"),
            F.sum(F.coalesce("newv", F.lit(0))).over(w).alias("cum_vocab"),
        )
        .localCheckpoint(eager=False)  # feeds the fit AND the totals
    )
    lnr = lambda c: F.round(F.log(c.cast("double")) * 1e6, 0).cast("long")  # noqa: E731
    xy = curve.where(
        (F.col("cum_tok") >= 1) & (F.col("cum_vocab") >= 1)
    ).select(
        lnr(F.col("cum_tok")).alias("x"), lnr(F.col("cum_vocab")).alias("y")
    )
    D = "decimal(38,0)"
    hs = xy.agg(
        F.count(F.lit(1)).cast(D).alias("n"),
        F.sum("x").cast(D).alias("sx"),
        F.sum("y").cast(D).alias("sy"),
        F.sum(F.col("x").cast(D) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(D) * F.col("x")).alias("sxx"),
    )
    tot = curve.agg(
        F.max("cum_tok").cast("long").alias("total_tokens"),
        F.max("cum_vocab").cast("long").alias("vocab_size"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    beta = num / den
    return (
        # bcast: const(1) normal-equation sums agg
        hs.crossJoin(F.broadcast(tot))
        .select(
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.round(beta, 6).alias("beta"),
            F.round(
                F.exp(
                    (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
                    / (F.col("n").cast("double") * 1e6)
                ),
                4,
            ).alias("k"),
        )
    )


@register(
    "docs_ks_drift",
    r"""
    WITH kdocs AS (
      SELECT source, length(text) AS v FROM documents
      WHERE source IS NOT NULL),
    ksides AS (
      SELECT CASE WHEN source = (SELECT MIN(source) FROM kdocs)
                  THEN 0 ELSE 1 END AS side, v
      FROM kdocs),
    kn AS (
      SELECT CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM ksides),
    kcum AS (
      SELECT v,
             CAST(SUM(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END))
                  OVER (ORDER BY v) AS BIGINT) AS ca,
             CAST(SUM(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END))
                  OVER (ORDER BY v) AS BIGINT) AS cb
      FROM ksides GROUP BY v),
    kd AS (
      SELECT CAST(MAX(ABS(ca * kn.nb - cb * kn.na)) AS BIGINT) AS dnum,
             ANY_VALUE(kn.na) AS na, ANY_VALUE(kn.nb) AS nb
      FROM kcum CROSS JOIN kn)
    SELECT na AS n_a, nb AS n_b,
           ROUND(CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
             AS ks_stat,
           ROUND(CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
                 / (1.358 * sqrt((CAST(na AS DOUBLE) + nb) / (CAST(na AS DOUBLE) * nb))),
                 4) AS ks_over_crit_05,
           (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * nb))
             > 1.358 * sqrt((CAST(na AS DOUBLE) + nb) / (CAST(na AS DOUBLE) * nb))
             AS drift_detected
    FROM kd
    """,
    tags=("text", "drift", "ks-test"),
)
def docs_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between the first
    source (by name) and the rest of the corpus, over the doc-length
    distribution — the distribution-free companion to the binned PSI
    drift query: KS needs no reference quantiles and catches shape
    changes PSI's bins smear out.

    Exactness: D = max_v |ECDF_a(v) − ECDF_b(v)| is computed as an
    integer maximum — max |ca·n_b − cb·n_a| over the merged value grid
    (cumulative counts from one rollup + one ordered window) — so the
    argmax is hash-exact; the statistic and the α=0.05 Smirnov
    threshold 1.358·sqrt((n_a+n_b)/(n_a·n_b)) are single IEEE
    expressions over those exact integers. The drift verdict compares
    the SAME two double expressions on both engines. One rollup + one
    tiny ordered window over distinct values."""
    d = table(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    first_src = d.agg(F.min("source").alias("m"))
    # bcast: const(1) scalar first-source anchor
    sides = d.crossJoin(F.broadcast(first_src)).select(
        F.when(F.col("source") == F.col("m"), 0).otherwise(1).alias("side"),
        F.length("text").alias("v"),
    )
    kn = sides.agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("nb"),
    )
    per_v = sides.groupBy("v").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    # bcast: const(1) scalar side-count agg
    kd = cum.crossJoin(F.broadcast(kn)).agg(
        F.max(
            F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        ).alias("dnum"),
        F.any_value("na").alias("na"),
        F.any_value("nb").alias("nb"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    ks = F.col("dnum").cast("double") / (na_d * nb_d)
    crit = F.lit(1.358) * F.sqrt((na_d + nb_d) / (na_d * nb_d))
    return kd.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(ks, 6).alias("ks_stat"),
        F.round(ks / crit, 4).alias("ks_over_crit_05"),
        (ks > crit).alias("drift_detected"),
    )


@register(
    "rake_keywords_docs",
    """
    WITH rk_tok AS (
      SELECT doc_id, i AS pos, t[i] AS word
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(range(1, len(t) + 1)) AS r(i)
      WHERE len(t[i]) > 0),
    rk_flag AS (
      SELECT doc_id, pos, word,
             CASE WHEN word IN ('the', 'a', 'and', 'of', 'to',
                                'in', 'is', 'for', 'on', 'with')
                  THEN 1 ELSE 0 END AS stop
      FROM rk_tok),
    rk_pid AS (
      SELECT doc_id, pos, word, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS pid
      FROM rk_flag),
    rk_members AS (
      SELECT doc_id, pid, pos, word,
             COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
      FROM rk_pid WHERE stop = 0),
    rk_words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM rk_members WHERE plen <= 4 GROUP BY word),
    rk_phrases AS (
      SELECT m.doc_id, m.pid,
             string_agg(m.word, ' ' ORDER BY m.pos) AS phrase,
             CAST(MAX(m.plen) AS INTEGER) AS n_words,
             CAST(SUM(w.deg * 1000 // w.freq) AS BIGINT) AS score_milli
      FROM rk_members m JOIN rk_words w USING (word)
      WHERE m.plen <= 4
      GROUP BY m.doc_id, m.pid)
    SELECT phrase, MAX(n_words) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS phrase_freq,
           MAX(score_milli) AS score_milli
    FROM rk_phrases
    GROUP BY phrase
    ORDER BY score_milli DESC, phrase
    LIMIT 20
    """,
    tags=("text", "keywords", "rake"),
)
def rake_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 RAKE keyword phrases (Rose et al. 2010;
    `operators/retrieval.py::rake_keywords`) — degree/frequency
    co-occurrence scoring at stopword-delimited phrase boundaries, the
    one-pass unsupervised keyword extractor next to textrank_keywords
    (which ranks by graph centrality instead). Integer-milli word
    scores (deg·1000 div freq) summed in BIGINT make the global top-20
    hash-stable with the (score DESC, phrase) tiebreak."""
    from covid_data_pipeline_spark.functions.text import STOPWORDS_EN
    from covid_data_pipeline_spark.operators.retrieval import rake_keywords

    return rake_keywords(
        table(spark, sf_dir, "documents"),
        stopwords=STOPWORDS_EN,
        max_phrase_len=4,
        k=20,
    )


@register(
    "nb_lang_confusion",
    """
    WITH nb_tok AS (
      SELECT doc_id, lang, doc_id % 2 = 0 AS is_train, t[i] AS word
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents),
           UNNEST(range(1, len(t) + 1)) AS r(i)
      WHERE len(t[i]) > 0),
    nb_cnt AS (
      SELECT doc_id, lang, is_train, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM nb_tok GROUP BY doc_id, lang, is_train, word),
    nb_model AS (
      SELECT lang, word, CAST(SUM(cnt) AS BIGINT) AS c
      FROM nb_cnt WHERE is_train GROUP BY lang, word),
    nb_totals AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n_lang
      FROM nb_model GROUP BY lang),
    nb_vocab AS (
      SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM nb_model),
    nb_prior AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_lang
      FROM nb_cnt WHERE is_train GROUP BY lang),
    nb_prior2 AS (
      SELECT lang, d_lang,
             CAST(ROUND(ln(CAST(d_lang AS DOUBLE)
                           / (SELECT SUM(d_lang) FROM nb_prior))
                        * 1000000.0, 0) AS BIGINT) AS prior_micro
      FROM nb_prior),
    nb_lp AS (
      SELECT m.lang, m.word,
             CAST(ROUND(ln(CAST(m.c + 1 AS DOUBLE) / (t.n_lang + v.v))
                        * 1000000.0, 0) AS BIGINT) AS lp_micro
      FROM nb_model m JOIN nb_totals t USING (lang) CROSS JOIN nb_vocab v),
    nb_zero AS (
      SELECT t.lang,
             CAST(ROUND(ln(1.0 / (t.n_lang + v.v)) * 1000000.0, 0)
                  AS BIGINT) AS lp0_micro
      FROM nb_totals t CROSS JOIN nb_vocab v),
    nb_docs AS (
      SELECT doc_id, lang, word, cnt FROM nb_cnt WHERE NOT is_train),
    nb_tot_d AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS tot
      FROM nb_docs GROUP BY doc_id),
    nb_seen AS (
      SELECT d.doc_id, l.lang AS cand,
             CAST(SUM(d.cnt * l.lp_micro) AS BIGINT) AS s1,
             CAST(SUM(d.cnt) AS BIGINT) AS seen
      FROM nb_docs d JOIN nb_lp l USING (word)
      GROUP BY d.doc_id, l.lang),
    nb_scores AS (
      SELECT td.doc_id, p.lang AS cand,
             p.prior_micro
               + COALESCE(s.s1, 0)
               + (td.tot - COALESCE(s.seen, 0)) * z.lp0_micro AS score_micro
      FROM nb_tot_d td
      CROSS JOIN nb_prior2 p
      JOIN nb_zero z ON z.lang = p.lang
      LEFT JOIN nb_seen s ON s.doc_id = td.doc_id AND s.cand = p.lang),
    nb_pred AS (
      SELECT doc_id, cand,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, cand) AS rn
      FROM nb_scores)
    SELECT d.lang, p.cand AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM nb_pred p
    JOIN (SELECT DISTINCT doc_id, lang FROM nb_docs) d USING (doc_id)
    WHERE p.rn = 1
    GROUP BY d.lang, p.cand
    """,
    tags=("text", "classifier", "naive-bayes", "langid"),
    bench=True,
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained on the
    even-doc_id half of the corpus and evaluated on the held-out half
    (`operators/classifier.py::naive_bayes_confusion`): the confusion
    matrix (true lang, predicted lang, docs). Complements
    lang_id_confusion (fixed stopword heuristic) and the lattice
    logistic regression (discriminative, iterative) with a GENERATIVE
    closed-form fit — one pass, no iterations, micro-nat integer
    scores, sparse unseen-token decomposition (no vocab×class grid)."""
    from covid_data_pipeline_spark.operators.classifier import (
        naive_bayes_confusion,
    )

    return naive_bayes_confusion(table(spark, sf_dir, "documents"))


@register(
    "docs_pii_redaction",
    r"""
    WITH pii_src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail' || CAST(doc_id % 13 AS VARCHAR)
                    || '.example.com or 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
             ELSE text END AS t
      FROM documents),
    pii_cnt AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._]+@[A-Za-z0-9.-]+[.][A-Za-z]+')) AS INTEGER)
               AS n_emails,
             CAST(len(regexp_extract_all(t,
               '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
             CAST(len(regexp_extract_all(t,
               '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+')) AS INTEGER) AS n_ips,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t,
                   '[A-Za-z0-9._]+@[A-Za-z0-9.-]+[.][A-Za-z]+',
                   '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
               '[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+', '<IP>', 'g') AS redacted
      FROM pii_src)
    SELECT doc_id, n_emails, n_phones, n_ips,
           md5(redacted) AS redacted_md5,
           CAST(len(redacted) AS INTEGER) AS n_chars_redacted
    FROM pii_cnt
    WHERE n_emails + n_phones + n_ips > 0
    """,
    tags=("text", "pii", "redaction", "governance"),
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit (`operators/quality.py::pii_scrub`): plant a
    deterministic email + phone + IPv4 on every 7th document, run the
    detect-and-redact pass, and hash the redacted text — every count
    AND every redacted byte is driver-verified. RE2-safe character-class
    patterns keep Java and DuckDB regex semantics identical; emails
    redact first so their digit runs can't double-count as phones/IPs."""
    from covid_data_pipeline_spark.operators.quality import pii_scrub

    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail"),
                (F.col("doc_id") % 13).cast("string"),
                F.lit(".example.com or 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    out = pii_scrub(planted, text_col="t")
    return out.where(
        F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0
    ).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        F.md5("redacted").alias("redacted_md5"),
        F.length("redacted").cast("int").alias("n_chars_redacted"),
    )


@register(
    "langid_classification_report",
    f"""
    WITH prf_hits AS (
      SELECT lang,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_EN)}))) AS en,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_FR)}))) AS fr,
             len(list_filter({_TOKS}, t -> t IN ({_in_list(STOPWORDS_DE)}))) AS de
      FROM documents),
    prf_g AS (
      SELECT lang AS y,
             CASE WHEN en >= fr AND en >= de AND en > 0 THEN 'en'
                  WHEN fr >= de AND fr > 0 THEN 'fr'
                  WHEN de > 0 THEN 'de'
                  ELSE 'und' END AS p
      FROM prf_hits),
    prf_cells AS (SELECT y, p, COUNT(*) AS n FROM prf_g GROUP BY 1, 2),
    prf_bl AS (SELECT y AS cls, SUM(n) AS lt FROM prf_cells GROUP BY 1),
    prf_bp AS (SELECT p AS cls, SUM(n) AS pt FROM prf_cells GROUP BY 1),
    prf_d AS (SELECT y AS cls, n AS tp FROM prf_cells WHERE y = p),
    prf_c AS (
      SELECT COALESCE(l.cls, r.cls) AS cls,
             COALESCE(l.lt, 0) AS lt, COALESCE(r.pt, 0) AS pt
      FROM prf_bl l FULL OUTER JOIN prf_bp r ON l.cls = r.cls)
    SELECT c.cls AS class,
           CAST(c.lt AS BIGINT) AS support,
           CAST(COALESCE(d.tp, 0) AS BIGINT) AS tp,
           CAST(c.pt - COALESCE(d.tp, 0) AS BIGINT) AS fp,
           CAST(c.lt - COALESCE(d.tp, 0) AS BIGINT) AS fn,
           ROUND(CAST(COALESCE(d.tp, 0) AS DOUBLE)
                 / CAST(NULLIF(c.pt, 0) AS DOUBLE), 6) AS prec,
           ROUND(CAST(COALESCE(d.tp, 0) AS DOUBLE)
                 / CAST(NULLIF(c.lt, 0) AS DOUBLE), 6) AS rec,
           ROUND(CAST(2 * COALESCE(d.tp, 0) AS DOUBLE)
                 / CAST(NULLIF(c.pt + c.lt, 0) AS DOUBLE), 6) AS f1
    FROM prf_c c LEFT JOIN prf_d d ON d.cls = c.cls
    """,
    tags=("text", "lang-id", "evaluation", "classification"),
)
def langid_classification_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class precision/recall/F1 of the stopword lang-id heuristic
    against declared labels (`operators/retrieval.py::
    classification_report`) — the scalar complement of
    lang_id_confusion's full matrix, and the shape every model gate in
    a curation pipeline reports. F1 comes from raw counts
    (2tp/(2tp+fp+fn)), never from the rounded P and R; never-predicted
    classes carry NULL precision via try_divide. |classes|-sized
    everywhere after one cell rollup."""
    from covid_data_pipeline_spark.functions.text import lang_id
    from covid_data_pipeline_spark.operators.retrieval import (
        classification_report,
    )

    d = table(spark, sf_dir, "documents").select(
        "lang", lang_id("text").alias("_pred")
    )
    return classification_report(d, "lang", "_pred")


@register(
    "docs_quality_calibration",
    r"""
    WITH cal_q AS (
      SELECT (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q,
             (lang = 'en')::INT AS y
      FROM documents),
    cal_b AS (
      SELECT CAST(ROUND(q * 1e6, 0) AS BIGINT) AS s, y FROM cal_q),
    cal_k AS (
      SELECT LEAST(9, s * 10 // 1000000) AS bin, s, y FROM cal_b),
    cal_g AS (
      SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(s) AS BIGINT) AS ssum
      FROM cal_k GROUP BY 1),
    cal_t AS (
      SELECT SUM(CAST(s - y * 1000000 AS HUGEINT)
                 * CAST(s - y * 1000000 AS HUGEINT)) AS se,
             COUNT(*) AS nt
      FROM cal_b)
    SELECT g.bin, g.n, g.n_pos,
           ROUND(CAST(g.ssum AS DOUBLE)
                 / (CAST(g.n AS DOUBLE) * 1000000.0), 6) AS mean_score,
           ROUND(CAST(g.n_pos AS DOUBLE) / CAST(g.n AS DOUBLE), 6)
             AS frac_pos,
           ROUND(CAST(t.se AS DOUBLE)
                 / (CAST(t.nt AS DOUBLE) * 1000000.0 * 1000000.0), 6)
             AS brier
    FROM cal_g g CROSS JOIN cal_t t
    """,
    tags=("text", "quality", "calibration", "evaluation"),
)
def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + Brier score of the heuristic quality score
    treated as P(doc is English) (`operators/calibrate.py::
    calibration_report`): the score's stopword component is an English
    signal, so the reliability curve should rise with the bin — and
    the table quantifies by exactly how much, per equal-width
    probability bin, with the mean squared error alongside. Scores are
    quantized ONCE to integer micro-probabilities; bin counts and the
    DECIMAL(38,0) squared-error sum are exact, each emitted value is
    one final division. <= bins rows survive the first rollup at any
    corpus size."""
    from covid_data_pipeline_spark.functions.text import quality_score
    from covid_data_pipeline_spark.operators.calibrate import (
        calibration_report,
    )

    d = table(spark, sf_dir, "documents").select(
        F.round(quality_score("text") * 1e6, 0)
        .cast("bigint")
        .alias("_s"),
        (F.col("lang") == "en").alias("_y"),
    )
    return calibration_report(d, "_s", "_y", bins=10, scale=1_000_000)


@register(
    "quality_score_auc",
    r"""
    WITH auc_q AS (
      SELECT (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q,
             (lang = 'en')::INT AS t
      FROM documents),
    mwq_base AS (
      SELECT CAST(ROUND(q * 1e6, 0) AS BIGINT) AS v, t FROM auc_q),
    mwq_pv AS (
      SELECT v, CAST(SUM(t) AS BIGINT) AS tv,
             CAST(SUM(1 - t) AS BIGINT) AS cv
      FROM mwq_base GROUP BY v),
    mwq_cum AS (
      SELECT v, tv, cv,
             CAST(SUM(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  - cv AS BIGINT) AS cum_c_less
      FROM mwq_pv),
    mwq_agg AS (
      SELECT CAST(SUM(tv) AS BIGINT) AS n_pos,
             CAST(SUM(cv) AS BIGINT) AS n_neg,
             CAST(2 * SUM(tv * cum_c_less) + SUM(tv * cv) AS BIGINT)
               AS u2
      FROM mwq_cum)
    SELECT n_pos, n_neg,
           (ROUND(CAST(u2 AS DOUBLE)
                  / (2.0 * CAST(n_pos::HUGEINT * n_neg AS DOUBLE)), 6)
            + 0) AS auc
    FROM mwq_agg
    """,
    tags=("text", "quality", "evaluation", "auc"),
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the heuristic quality score as a P(english)
    classifier — the threshold-free rank metric completing the
    evaluation triad (classification report = thresholded counts,
    calibration = probability faithfulness, AUC = ranking skill). AUC
    is exactly U/(n_pos*n_neg) with tie halves, so it reuses
    `operators/experiment.py::mann_whitney_u`'s value-compressed exact
    integer machinery — no row ranking, one division at the end."""
    from covid_data_pipeline_spark.functions.text import quality_score
    from covid_data_pipeline_spark.operators.experiment import (
        mann_whitney_u,
    )

    d = table(spark, sf_dir, "documents").select(
        F.round(quality_score("text") * 1e6, 0)
        .cast("bigint")
        .alias("_s"),
        (F.col("lang") == "en").alias("_t"),
    )
    return mann_whitney_u(d, "_t", "_s").select(
        F.col("n_treat").alias("n_pos"),
        F.col("n_ctrl").alias("n_neg"),
        "auc",
    )


@register(
    "docs_quality_ece",
    r"""
    WITH ece_q AS (
      SELECT (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q,
             (lang = 'en')::INT AS y
      FROM documents),
    ece_b AS (
      SELECT CAST(ROUND(q * 1e6, 0) AS BIGINT) AS s, y FROM ece_q),
    ece_g AS (
      SELECT LEAST(9, s * 10 // 1000000) AS bin,
             COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(s) AS BIGINT) AS ssum
      FROM ece_b GROUP BY 1)
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           ROUND(CAST(SUM(ABS(pos::HUGEINT * 1000000 - ssum::HUGEINT))
                      AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) * 1000000.0), 6) AS ece
    FROM ece_g
    """,
    tags=("text", "quality", "calibration", "evaluation"),
)
def docs_quality_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the heuristic quality score as
    P(doc is English) (`operators/calibrate.py::
    expected_calibration_error`, Naeini+ AAAI'15) — the one-number
    companion to docs_quality_calibration's reliability table, and
    deliberately NOT derived from that table's rounded columns: each
    bin's |accuracy − confidence| gap clears denominators to the exact
    BIGINT |n_pos·scale − Σs| and ECE spends one division. Same
    micro-prob lattice and binning as the report."""
    from covid_data_pipeline_spark.functions.text import quality_score
    from covid_data_pipeline_spark.operators.calibrate import (
        expected_calibration_error,
    )

    d = table(spark, sf_dir, "documents").select(
        F.round(quality_score("text") * 1e6, 0)
        .cast("bigint")
        .alias("_s"),
        (F.col("lang") == "en").alias("_y"),
    )
    return expected_calibration_error(d, "_s", "_y", bins=10,
                                      scale=1_000_000)


@register(
    "docs_bigram_collocations",
    r"""
    WITH col_toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    col_big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM col_toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
    col_cb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM col_big GROUP BY 1, 2),
    col_c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
               FROM col_cb GROUP BY 1),
    col_c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2
               FROM col_cb GROUP BY 1),
    col_nn AS (SELECT CAST(SUM(c12) AS BIGINT) AS nn FROM col_cb),
    col_sc AS (
      SELECT b.w1, b.w2, b.c12, m1.c1, m2.c2, t.nn
      FROM col_cb b JOIN col_c1 m1 USING (w1) JOIN col_c2 m2 USING (w2)
      CROSS JOIN col_nn t
      WHERE b.c12 >= 5),
    col_terms AS (
      SELECT w1, w2, c12,
        2 * (
          CASE WHEN c12 > 0 THEN CAST(ROUND(CAST(c12 AS DOUBLE)
            * ln((CAST(c12 AS DOUBLE) * CAST(nn AS DOUBLE))
                 / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))
            * 1e9, 0) AS BIGINT) ELSE 0 END
        + CASE WHEN c1 - c12 > 0 THEN CAST(ROUND(CAST(c1 - c12 AS DOUBLE)
            * ln((CAST(c1 - c12 AS DOUBLE) * CAST(nn AS DOUBLE))
                 / (CAST(c1 AS DOUBLE) * CAST(nn - c2 AS DOUBLE)))
            * 1e9, 0) AS BIGINT) ELSE 0 END
        + CASE WHEN c2 - c12 > 0 THEN CAST(ROUND(CAST(c2 - c12 AS DOUBLE)
            * ln((CAST(c2 - c12 AS DOUBLE) * CAST(nn AS DOUBLE))
                 / (CAST(nn - c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))
            * 1e9, 0) AS BIGINT) ELSE 0 END
        + CASE WHEN nn - c1 - c2 + c12 > 0 THEN CAST(ROUND(
            CAST(nn - c1 - c2 + c12 AS DOUBLE)
            * ln((CAST(nn - c1 - c2 + c12 AS DOUBLE) * CAST(nn AS DOUBLE))
                 / (CAST(nn - c1 AS DOUBLE) * CAST(nn - c2 AS DOUBLE)))
            * 1e9, 0) AS BIGINT) ELSE 0 END
        ) AS g2_nano
      FROM col_sc)
    SELECT w1, w2, c12, g2_nano,
           (ROUND(g2_nano / 1e9, 4) + 0) AS g2
    FROM col_terms
    ORDER BY g2_nano DESC, w1, w2
    LIMIT 15
    """,
    tags=("text", "collocations", "langmodel", "statistics"),
    bench=True,
)
def docs_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 bigram collocations by Dunning log-likelihood G²
    (`operators/langmodel.py::collocations_g2`, Dunning CL'93) — the
    likelihood-ratio phrase-mining primitive (raw counts rank
    stopword pairs; PMI explodes on hapaxes; G² balances both), the
    standard seed step for tokenizer/phrase vocabularies. All four
    2×2-table terms are micro-nat-rounded BIGINTs summed exactly;
    ranking is total-ordered by (g2_nano DESC, w1, w2); the top-k is
    TakeOrderedAndProject, never a global sort."""
    from covid_data_pipeline_spark.operators.langmodel import (
        collocations_g2,
    )

    return collocations_g2(
        table(spark, sf_dir, "documents"), top_k=15, min_count=5
    )


@register(
    "quality_score_avg_precision",
    r"""
    WITH ap_q AS (
      SELECT (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q,
             (lang = 'en')::INT AS t
      FROM documents),
    ap_pv AS (
      SELECT CAST(ROUND(q * 1e6, 0) AS BIGINT) AS v,
             CAST(SUM(t) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM ap_q GROUP BY 1),
    ap_cum AS (
      SELECT v, pos, tot,
             CAST(SUM(pos) OVER (ORDER BY v DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
             CAST(SUM(tot) OVER (ORDER BY v DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tot
      FROM ap_pv),
    ap_tot AS (
      SELECT CAST(SUM(tot) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM ap_pv),
    ap_terms AS (
      SELECT CASE WHEN t.p > 0 THEN
               CAST(ROUND(CAST(c.pos AS DOUBLE) * CAST(c.cum_pos AS DOUBLE)
                 / (CAST(c.cum_tot AS DOUBLE) * CAST(t.p AS DOUBLE))
                 * 1e9, 0) AS BIGINT)
             END AS nano, t.n, t.p
      FROM ap_cum c CROSS JOIN ap_tot t)
    SELECT MAX(n) AS n, MAX(p) AS n_pos,
           CAST(SUM(nano) AS BIGINT) AS ap_nano,
           (ROUND(CAST(SUM(nano) AS BIGINT) / 1e9, 6) + 0)
             AS average_precision
    FROM ap_terms
    """,
    tags=("text", "quality", "evaluation", "precision-recall"),
)
def quality_score_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC step integral) of the heuristic
    quality score as a P(english) ranker (`operators/retrieval.py::
    average_precision`) — the imbalance-honest complement to
    quality_score_auc: ROC-AUC rewards ordering the easy negatives;
    AP only pays for positives ranked high, the regime every
    curation filter lives in. Value-compressed thresholds (tie
    blocks, sklearn convention), exact integer rationals per
    threshold, nano-lattice sum."""
    from covid_data_pipeline_spark.functions.text import quality_score
    from covid_data_pipeline_spark.operators.retrieval import (
        average_precision,
    )

    d = table(spark, sf_dir, "documents").select(
        F.round(quality_score("text") * 1e6, 0)
        .cast("bigint")
        .alias("_s"),
        (F.col("lang") == "en").alias("_y"),
    )
    return average_precision(d, "_s", "_y")


@register(
    "quality_score_lift_deciles",
    r"""
    WITH ld_q AS (
      SELECT doc_id,
             (length(text) BETWEEN 50 AND 20000)::INT * 0.4
             + COALESCE(CASE WHEN length(text) > 0
                 THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
                      / length(text) END < 0.2, FALSE)::INT * 0.3
             + COALESCE(CASE WHEN
                 len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN len(list_filter(
                        regexp_split_to_array(trim(lower(text)), '\s+'),
                        x -> x IN ('the','a','and','of','to','in','is',
                                   'for','on','with')))::DOUBLE
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 END > 0.01, FALSE)::INT * 0.3 AS q,
             (lang = 'en') AS y
      FROM documents),
    ld_r AS (
      SELECT CAST(ROUND(q * 1e6, 0) AS BIGINT) AS v, y, doc_id,
             ROW_NUMBER() OVER (ORDER BY CAST(ROUND(q * 1e6, 0)
               AS BIGINT) DESC, doc_id) AS rk,
             COUNT(*) OVER () AS nn
      FROM ld_q),
    ld_d AS (
      SELECT ((rk - 1) * 10) // nn + 1 AS d, y FROM ld_r),
    ld_g AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y::INT) AS BIGINT) AS n_pos
      FROM ld_d GROUP BY 1),
    ld_c AS (
      SELECT d, n, n_pos,
             CAST(SUM(n) OVER (ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER (ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
      FROM ld_g),
    ld_t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS gn,
             CAST(SUM(n_pos) AS BIGINT) AS gp
      FROM ld_g)
    SELECT CAST(c.d AS INT) AS decile, c.n, c.n_pos,
           (ROUND(CAST(c.n_pos AS DOUBLE) / NULLIF(CAST(c.n AS DOUBLE),
              0.0), 6) + 0) AS pos_rate,
           c.cum_n, c.cum_pos,
           (ROUND(CAST(c.cum_pos AS DOUBLE)
              / NULLIF(CAST(t.gp AS DOUBLE), 0.0), 6) + 0)
             AS capture_rate,
           (ROUND((CAST(c.n_pos AS DOUBLE) / NULLIF(CAST(c.n AS DOUBLE),
              0.0)) / NULLIF(CAST(t.gp AS DOUBLE)
              / CAST(t.gn AS DOUBLE), 0.0), 6) + 0) AS lift,
           (ROUND((CAST(c.cum_pos AS DOUBLE)
              / NULLIF(CAST(c.cum_n AS DOUBLE), 0.0))
              / NULLIF(CAST(t.gp AS DOUBLE) / CAST(t.gn AS DOUBLE),
              0.0), 6) + 0) AS cum_lift
    FROM ld_c c CROSS JOIN ld_t t
    ORDER BY decile
    """,
    tags=("text", "quality", "evaluation", "lift"),
    bench=True,
)
def quality_score_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains and lift table of the heuristic quality score
    against the P(english) label, by score decile
    (`operators/retrieval.py::score_lift_deciles`) — the business
    readout AUC/AP compress away: "keeping the top 30% of docs by
    score captures X% of English content at Y× random". Global ranks
    via the distributed two-level range-bucket rank (no global sort);
    decile boundaries are pure integer floor-div; every rate is one
    IEEE division of exact counts."""
    from covid_data_pipeline_spark.functions.text import quality_score
    from covid_data_pipeline_spark.operators.retrieval import (
        score_lift_deciles,
    )

    d = table(spark, sf_dir, "documents").select(
        F.round(quality_score("text") * 1e6, 0)
        .cast("bigint")
        .alias("_s"),
        (F.col("lang") == "en").alias("_y"),
        "doc_id",
    )
    return score_lift_deciles(d, "_s", "_y", "doc_id")


@register(
    "docs_tv_hellinger_by_source",
    """
    WITH th_b AS (
      SELECT source AS g,
             LEAST(9, GREATEST(0, n_chars // 500)) AS b
      FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
    th_gb AS (
      SELECT g, b, CAST(COUNT(*) AS BIGINT) AS c FROM th_b GROUP BY 1, 2),
    th_ng AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM th_gb GROUP BY 1),
    th_gl AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM th_gb GROUP BY 1),
    th_t AS (SELECT CAST(SUM(cb) AS BIGINT) AS nt FROM th_gl),
    th_grid AS (
      SELECT ng.g, gl.b, ng.ng, gl.cb, t.nt, COALESCE(gb.c, 0) AS c
      FROM th_ng ng CROSS JOIN th_gl gl
      LEFT JOIN th_gb gb ON gb.g = ng.g AND gb.b = gl.b
      CROSS JOIN th_t t),
    th_terms AS (
      SELECT g, ng, nt,
             ABS(CAST(c AS HUGEINT) * nt - CAST(cb AS HUGEINT) * ng)
               AS tvc,
             CAST(ROUND(
               (SQRT(CAST(c AS DOUBLE) / CAST(ng AS DOUBLE))
                - SQRT(CAST(cb AS DOUBLE) / CAST(nt AS DOUBLE)))
               * (SQRT(CAST(c AS DOUBLE) / CAST(ng AS DOUBLE))
                  - SQRT(CAST(cb AS DOUBLE) / CAST(nt AS DOUBLE)))
               / 2.0 * 1e9, 0) AS BIGINT) AS hn
      FROM th_grid)
    SELECT g AS source, MAX(ng) AS n,
           (ROUND(CAST(SUM(tvc) AS DOUBLE)
                  / CAST(2 * CAST(MAX(ng) AS HUGEINT) * MAX(nt)
                         AS DOUBLE), 6) + 0) AS tv,
           CAST(SUM(hn) AS BIGINT) AS h2_nano,
           (ROUND(SQRT(CAST(SUM(hn) AS BIGINT) / 1e9), 6) + 0)
             AS hellinger
    FROM th_terms
    GROUP BY 1
    """,
    tags=("text", "monitoring", "drift", "statistics"),
)
def docs_tv_hellinger_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation and Hellinger distance of each source's
    document-length distribution (500-char bins, capped at 10)
    against the global corpus (`operators/experiment.py::
    tv_hellinger_distance`) — the bracket metrics around JSD for
    data-mix audits: TV is the worst-case distinguishing probability
    (exact integer rational here), Hellinger tensorizes across
    independent features (H^2 <= TV <= H*sqrt(2)). TV clears its
    denominators entirely; only the irrational Hellinger cells cross
    the nano lattice."""
    from covid_data_pipeline_spark.operators.experiment import (
        tv_hellinger_distance,
    )

    docs = table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    )
    binned = docs.select(
        F.col("source").alias("_g"),
        F.least(
            F.lit(9).cast("bigint"),
            F.greatest(F.lit(0).cast("bigint"), F.expr("n_chars div 500")),
        ).alias("_b"),
    )
    out = tv_hellinger_distance(binned, "_g", "_b")
    return out.withColumnRenamed("_g", "source")


@register(
    "docs_cronbach_quality",
    """
    WITH cra_b AS (
      SELECT LEAST(100, n_chars // 100) AS x0,
             LEAST(100, length(text) // 100) AS x1,
             LEAST(100, (length(text)
               - length(replace(text, ' ', ''))) // 20) AS x2,
             LEAST(100, length(regexp_replace(lower(text),
               '[^a-z]', '', 'g')) // 80) AS x3
      FROM documents
      WHERE n_chars IS NOT NULL AND text IS NOT NULL),
    cra_m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x0 AS HUGEINT)) AS HUGEINT) AS s0,
             CAST(SUM(CAST(x0 AS HUGEINT) * x0) AS HUGEINT) AS q0,
             CAST(SUM(CAST(x1 AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS q1,
             CAST(SUM(CAST(x2 AS HUGEINT)) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS q2,
             CAST(SUM(CAST(x3 AS HUGEINT)) AS HUGEINT) AS s3,
             CAST(SUM(CAST(x3 AS HUGEINT) * x3) AS HUGEINT) AS q3,
             CAST(SUM(CAST(x0 + x1 + x2 + x3 AS HUGEINT)) AS HUGEINT)
               AS st,
             CAST(SUM(CAST(x0 + x1 + x2 + x3 AS HUGEINT)
                      * (x0 + x1 + x2 + x3)) AS HUGEINT) AS qt
      FROM cra_b)
    SELECT n, CAST(4 AS INT) AS k,
           (ROUND((4.0 / 3.0) * (1.0
              - CAST(((CAST(n AS HUGEINT) * q0 - s0 * s0)
                      + (CAST(n AS HUGEINT) * q1 - s1 * s1)
                      + (CAST(n AS HUGEINT) * q2 - s2 * s2))
                     + (CAST(n AS HUGEINT) * q3 - s3 * s3) AS DOUBLE)
                / NULLIF(CAST(CAST(n AS HUGEINT) * qt - st * st
                              AS DOUBLE), 0.0)), 6) + 0) AS alpha
    FROM cra_m
    """,
    tags=("text", "quality", "reliability", "statistics"),
)
def docs_cronbach_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over four length-family document sub-scores
    (char-count decile caps, whitespace-token proxy, letter-mass)
    (`operators/experiment.py::cronbach_alpha`, Cronbach 1951) — the
    reliability gate before averaging k heuristic quality signals
    into one composite: a low alpha says the composite is noise, not
    a scale. The variance ratio is scale-free, so both sides are
    exact integer moments n*Q - S^2 in DECIMAL(38,0); alpha is one
    single-row IEEE expression."""
    from covid_data_pipeline_spark.operators.experiment import (
        cronbach_alpha,
    )

    d = table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    )
    scored = d.select(
        F.least(F.lit(100), F.expr("n_chars div 100")).alias("_x0"),
        F.least(F.lit(100), F.expr("length(text) div 100")).alias("_x1"),
        F.least(
            F.lit(100),
            F.expr(
                "(length(text) - length(replace(text, ' ', ''))) div 20"
            ),
        ).alias("_x2"),
        F.least(
            F.lit(100),
            F.expr(
                "length(regexp_replace(lower(text), '[^a-z]', '')) div 80"
            ),
        ).alias("_x3"),
    )
    return cronbach_alpha(scored, ["_x0", "_x1", "_x2", "_x3"])


@register(
    "docs_log_odds_keywords",
    r"""
    WITH lok_t AS (
      SELECT lang AS g,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS w
      FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
    lok_gt AS (
      SELECT g, w, CAST(COUNT(*) AS BIGINT) AS ygw
      FROM lok_t WHERE length(w) >= 3 GROUP BY 1, 2),
    lok_ng AS (
      SELECT g, CAST(SUM(ygw) AS BIGINT) AS ng FROM lok_gt GROUP BY 1),
    lok_yw AS (
      SELECT w, CAST(SUM(ygw) AS BIGINT) AS yw FROM lok_gt GROUP BY 1),
    lok_n AS (SELECT CAST(SUM(ng) AS BIGINT) AS n FROM lok_ng),
    lok_c AS (
      SELECT gt.g, gt.w, gt.ygw, yw.yw, ng.ng, n.n,
             100.0 * CAST(yw.yw AS DOUBLE) / CAST(n.n AS DOUBLE) AS aw
      FROM lok_gt gt
      JOIN lok_yw yw USING (w) JOIN lok_ng ng USING (g)
      CROSS JOIN lok_n n
      WHERE gt.ygw >= 5),
    lok_z AS (
      SELECT g, w, ygw,
             CAST(ROUND(CASE WHEN
               (CAST(ng AS DOUBLE) + 100.0)
                 - (CAST(ygw AS DOUBLE) + aw) > 0
               AND (CAST(n - ng AS DOUBLE) + 100.0)
                 - (CAST(yw - ygw AS DOUBLE) + aw) > 0
             THEN
               (LN((CAST(ygw AS DOUBLE) + aw)
                   / ((CAST(ng AS DOUBLE) + 100.0)
                      - (CAST(ygw AS DOUBLE) + aw)))
                - LN((CAST(yw - ygw AS DOUBLE) + aw)
                     / ((CAST(n - ng AS DOUBLE) + 100.0)
                        - (CAST(yw - ygw AS DOUBLE) + aw))))
               / SQRT(1.0 / (CAST(ygw AS DOUBLE) + aw)
                      + 1.0 / (CAST(yw - ygw AS DOUBLE) + aw))
             END * 1e6, 0) AS BIGINT) AS zmicro
      FROM lok_c),
    lok_r AS (
      SELECT g, w, ygw, zmicro,
             ROW_NUMBER() OVER (PARTITION BY g
               ORDER BY zmicro DESC NULLS LAST, w) AS rnk
      FROM lok_z)
    SELECT g AS lang, w AS term, ygw AS y_count, zmicro AS z_micro,
           (ROUND(CAST(zmicro AS DOUBLE) / 1e6, 4) + 0) AS z,
           CAST(rnk AS INT) AS rank
    FROM lok_r WHERE rnk <= 10
    """,
    tags=("text", "keywords", "statistics", "terms"),
    bench=True,
)
def docs_log_odds_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe-Colaresi-Quinn weighted log-odds keywords per language
    with an informative Dirichlet prior (`operators/langmodel.py::
    log_odds_keywords`, "Fightin' Words" 2008) — the statistically
    sound "which terms characterize this language vs the rest"
    ranking: raw frequency surfaces stopwords, TF-IDF/PMI explode on
    hapaxes, the z-scored shrunk log-odds does neither. No float ever
    accumulates: z is one IEEE expression per observed (lang, term)
    pair over exact BIGINT counts, ranked by (z_micro DESC, term)."""
    from covid_data_pipeline_spark.functions.text import tokens
    from covid_data_pipeline_spark.operators.langmodel import (
        log_odds_keywords,
    )

    d = table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    terms = d.select(
        "lang", F.explode(tokens("text")).alias("term")
    ).filter(F.length("term") >= 3)
    return log_odds_keywords(
        terms, "lang", "term", alpha0=100.0, min_count=5, top_k=10
    )
