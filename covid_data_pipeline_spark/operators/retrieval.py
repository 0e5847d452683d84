"""Distributed lexical retrieval: BM25 scoring and rank fusion.

A curation/eval stack needs keyword retrieval next to the ANN stack
(`operators/similarity.py`) — for eval-set mining, hard-negative
candidates from lexical matches, and hybrid (keyword + vector) search.
This module is the classic distributed BM25 shape: an inverted-posting
relation built with one shuffle, query terms broadcast against it, and
per-(query, doc) partial scores combined with map-side aggregation —
the corpus text is scanned once and never re-shuffled whole.

Float policy (repo-wide): BM25's term frequencies, document lengths and
document frequencies are integers, so both BM25 factors are EXACT
integer ratios evaluated with one correctly-rounded double division
each — idf as ``ln`` of an integer ratio (the `doc_perplexity_bigram`
pattern) — and per-term scores are rounded once and summed in DECIMAL,
making the final ranking independent of partitioning and engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from covid_data_pipeline_spark.functions.scalar import round_stable
from covid_data_pipeline_spark.functions.text import tokens

_D38 = "decimal(38,0)"


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25 (k1 = 1.2, b = 0.75, the
    standard defaults) with the Lucene non-negative idf:

        idf(t)      = ln((N + 1) / (df_t + 0.5))
        tfpart(t,d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        score(q,d)  = Σ_{t ∈ q ∩ d}  idf(t) · tfpart(t, d)

    With ``avgdl = S/N`` (S = corpus token count) and the constants
    folded in, both factors are exact integer ratios::

        idf    = ln( (2N + 2) / (2·df + 1) )
        tfpart = 22·S·tf / (10·S·tf + 3·S + 9·dl·N)

    evaluated in DECIMAL(38,0) products (BIGINT·BIGINT overflows ANSI
    at warehouse scale) with a single double division each; per-term
    scores round to 6dp once and sum in DECIMAL, so the ranking is
    bit-stable across engines and partitionings (ties broken by
    ``doc_id``).

    Scale shape: the posting relation (doc, term, tf) costs ONE token
    shuffle; query terms are exploded, deduped and BROADCAST against it
    (queries are the small side by contract — thousands of terms, not
    the corpus); per-term document frequencies are computed over the
    postings *semi-joined to the query vocabulary* (never |vocab|-wide)
    and re-enter broadcast; corpus totals ride a single-row broadcast
    cross join. The only post-match shuffles carry matched postings:
    one doc-keyed join for lengths, one (query, doc) aggregation, and a
    WindowGroupLimit top-k.

    ``max_df_frac`` is the stopword valve (the standard max-df pruning,
    same policy as the dedup stack's hot-bucket caps): a query term
    matching more than that fraction of documents drags ~|corpus| rows
    into the match join while contributing ≈0 idf — with the cap set,
    such terms are dropped from the QUERY side (scores of surviving
    terms are unchanged; a query of only stopwords returns nothing).
    ``None`` (default) keeps exact full-query semantics."""
    # NOTE (r10 optimization round, measured): the posting relation
    # feeds three subplans and dl two, so a lineage cut looks right —
    # but an isolated 5-run A/B at sf0.1 measured the checkpointed
    # variant 2.1x SLOWER (2.9s → 6.1s median): the duplicated
    # consumers run as PARALLEL stages of one job and the recompute
    # hides behind idle cores, while the checkpoint serializes the DAG
    # and pays block materialization. Left uncut deliberately.
    postings = (
        docs.select(
            F.col(id_col).alias("__doc"),
            F.explode(tokens(text_col)).alias("__term"),
        )
        .groupBy("__doc", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dl = postings.groupBy("__doc").agg(F.sum("__tf").alias("__dl"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("__N"), F.sum("__dl").alias("__S")
    )

    qterms = (
        queries.select(
            F.col(qid_col).alias("__qid"),
            F.explode(F.array_distinct(tokens(qtext_col))).alias("__term"),
        )
        .distinct()
    )
    qvocab = qterms.select("__term").distinct()
    dfreq = (
        # bcast: delta distinct query terms
        postings.join(F.broadcast(qvocab), "__term")
        .groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    if max_df_frac is not None:
        # bcast: const(1) scalar corpus totals
        dfreq = dfreq.crossJoin(F.broadcast(totals)).filter(
            F.col("__df") <= F.lit(max_df_frac) * F.col("__N")
        ).select("__term", "__df")
        qterms = qterms.join(
            # bcast: delta df-filtered query terms
            F.broadcast(dfreq.select("__term")), "__term", "left_semi"
        )

    d38 = lambda c: c.cast(_D38)  # noqa: E731
    matched = (
        # bcast: delta query terms
        postings.join(F.broadcast(qterms), "__term")
        # bcast: delta query-term document frequencies
        .join(F.broadcast(dfreq), "__term")
        .join(dl, "__doc")
        # bcast: const(1) scalar corpus totals
        .crossJoin(F.broadcast(totals))
    )
    idf = F.log(
        (2 * F.col("__N") + 2).cast("double")
        / (2 * F.col("__df") + 1).cast("double")
    )
    num = F.lit(22).cast(_D38) * d38(F.col("__S")) * d38(F.col("__tf"))
    den = (
        F.lit(10).cast(_D38) * d38(F.col("__S")) * d38(F.col("__tf"))
        + F.lit(3).cast(_D38) * d38(F.col("__S"))
        + F.lit(9).cast(_D38) * d38(F.col("__dl")) * d38(F.col("__N"))
    )
    term_score = F.round(
        idf * (num.cast("double") / den.cast("double")), 6
    ).cast("decimal(18,6)")

    scores = (
        matched.withColumn("__ts", term_score)
        .groupBy("__qid", "__doc")
        .agg(F.sum("__ts").alias("__score"))
    )

    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    return top_k_per_group(
        scores,
        partition_by=["__qid"],
        order_by=[F.col("__score").desc(), F.col("__doc")],
        k=k,
    ).select(
        F.col("__qid").alias(qid_col),
        F.col("__doc").alias(id_col),
        # round the exact DECIMAL first, THEN cast (repo float policy:
        # rounding an already-cast double re-rounds a rounded value)
        F.round(F.col("__score"), 4).cast("double").alias("bm25"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    qid_col: str = "query_id",
    id_col: str = "doc_id",
    score_cols: list[str] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of per-query ranked
    lists — the standard way to combine BM25 and ANN retrieval without
    score calibration:  ``rrf(d) = Σ_systems 1 / (rrf_k + rank_d)``.

    Each input frame is (qid, doc, score) ranked per query by its own
    ``score_cols`` entry (descending, doc id tiebreak). Scores never
    mix — only ranks do, so a system with wildly different score scales
    (cosine in [−1,1] vs unbounded BM25) contributes equally.

    Integer-exact: contributions are ``10^9 div (rrf_k + rank)``
    (floor), summed as BIGINTs — no float reciprocal sums to diverge
    across engines. Rank relations are per-query top lists (bounded),
    so every stage after the inputs is small; fusion shuffles
    |systems × queries × list length| rows at most."""
    from pyspark.sql.window import Window

    if score_cols is None:
        score_cols = ["score"] * len(rankings)
    if len(score_cols) != len(rankings):
        raise ValueError("score_cols must match rankings")
    contribs = []
    for df, sc in zip(rankings, score_cols):
        w = Window.partitionBy(qid_col).orderBy(
            F.col(sc).desc(), F.col(id_col)
        )
        contribs.append(
            df.select(
                F.col(qid_col).alias("__qid"),
                F.col(id_col).alias("__doc"),
                F.row_number().over(w).alias("__rank"),
            ).withColumn(
                "__contrib",
                F.expr(f"1000000000 div ({rrf_k} + __rank)").cast("bigint"),
            )
        )
    all_c = contribs[0]
    for c in contribs[1:]:
        all_c = all_c.unionByName(c)
    fused = all_c.groupBy("__qid", "__doc").agg(
        F.sum("__contrib").alias("rrf_score")
    )

    from covid_data_pipeline_spark.operators.windows import top_k_per_group

    return top_k_per_group(
        fused,
        partition_by=["__qid"],
        order_by=[F.col("rrf_score").desc(), F.col("__doc")],
        k=k,
    ).select(
        F.col("__qid").alias(qid_col),
        F.col("__doc").alias(id_col),
        "rrf_score",
    )


def build_positional_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Positional inverted index: one row per token OCCURRENCE —
    ``(id_col, tok, pos)`` with 1-based position. This is the postings
    layout (term → (doc, position) list) that phrase and proximity
    queries need and a bag-of-words index (:func:`bm25_topk`'s term
    frequencies) cannot answer.

    Pure projection + posexplode, no shuffle; materialize it bucketed by
    ``tok`` (``DataFrameWriter.bucketBy``) to make every phrase query a
    co-located join at warehouse scale."""
    return df.select(
        id_col, F.posexplode(tokens(text_col)).alias("pos0", "tok")
    ).select(id_col, "tok", (F.col("pos0") + 1).alias("pos"))


def phrase_search(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact multi-token phrase search via the positional index: docs
    where ``phrase``'s tokens occur CONSECUTIVELY, with match count and
    first match position — the classic adjacency self-join (term i at
    position p joins term i+1 at p+1), generalized to any phrase
    length.

    Scale shape: the index is FILTERED to the phrase's terms before
    any join (predicate pushdown to the scan — the posting lists for
    k terms, never the corpus), then k−1 equi-joins on
    ``(doc, pos+offset)``. Selective rare terms keep every join input
    tiny; this is how search engines run phrases without scanning
    text. Token semantics match the repo tokenizer (lowercase,
    whitespace split).
    """
    terms = [t for t in phrase.lower().split() if t]
    if len(terms) < 2:
        raise ValueError("phrase_search needs a phrase of >= 2 tokens")
    idx = build_positional_index(df, text_col=text_col, id_col=id_col)
    base = (
        idx.where(F.col("tok") == terms[0])
        .select(id_col, F.col("pos").alias("p0"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = idx.where(F.col("tok") == t).select(
            id_col, (F.col("pos") - i).alias("p0")
        )
        base = base.join(nxt, [id_col, "p0"])
    return base.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("p0").alias("first_pos"),
    )


def ndcg_at_k(
    system: DataFrame,
    truth: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """NDCG@k of a ranked SYSTEM against a ranked TRUTH (Järvelin &
    Kekäläinen 2002) — the retrieval-quality gate a curation pipeline
    runs before swapping its ANN/quantization config: how much ranking
    quality did the cheap index give up vs exact search?

    Both inputs carry (query, doc, rank<=k). Truth rank r maps to
    graded relevance ``k+1-r``; system docs outside the truth list get
    relevance 0. Each DCG term ``rel / log2(pos+1)`` is integer-scaled
    to micro-units BEFORE summation (the DSIR micro-nat pattern), so
    per-query DCG/IDCG are exact BIGINT sums — cross-engine
    hash-stable — and only the final ratio divides.

    Scale shape: one equi-join on (query, doc) + two grouped sums over
    |queries|·k rows — the eval relation, never the corpus. Returns
    (query_col, dcg_micros, idcg_micros, ndcg)."""
    rel_t = truth.select(
        query_col,
        id_col,
        (F.lit(k + 1) - F.col(rank_col)).alias("__rel"),
        F.col(rank_col).alias("__trank"),
    )

    def _term(rel, pos):
        return F.round(
            rel.cast("double") * 1000000.0 / F.log2(pos + F.lit(1.0)), 0
        ).cast("long")

    sys_scored = system.join(
        rel_t.select(query_col, id_col, "__rel"), [query_col, id_col], "left"
    ).select(
        query_col,
        _term(F.coalesce(F.col("__rel"), F.lit(0)), F.col(rank_col)).alias(
            "__t"
        ),
    )
    dcg = sys_scored.groupBy(query_col).agg(F.sum("__t").alias("dcg_micros"))
    idcg = (
        rel_t.select(
            query_col, _term(F.col("__rel"), F.col("__trank")).alias("__t")
        )
        .groupBy(query_col)
        .agg(F.sum("__t").alias("idcg_micros"))
    )
    return dcg.join(idcg, query_col).select(
        query_col,
        "dcg_micros",
        "idcg_micros",
        F.round(
            F.col("dcg_micros").cast("double")
            / F.col("idcg_micros").cast("double"),
            4,
        ).alias("ndcg"),
    )


def rake_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = (),
    max_phrase_len: int = 4,
    k: int = 20,
) -> DataFrame:
    """Corpus-level RAKE keyword extraction (Rose et al. 2010): split
    each document into candidate phrases at stopword boundaries, score
    each member word by degree/frequency over the whole corpus (degree
    = Σ length of the phrases it appears in, frequency = occurrence
    count), and rank phrases by the sum of their member word scores —
    the classic unsupervised keyword extractor next to textrank
    (co-occurrence degree statistics instead of graph centrality, one
    pass instead of iterations).

    Exactness: word score is integer millis ``deg·1000 div freq``
    (floor division, identical both engines); a phrase score is an
    exact BIGINT sum of member millis, so the global top-k is fully
    hash-stable with the (score DESC, phrase) tiebreak.

    Scale shape: tokenization + stopword flagging are map-side; phrase
    ids are ONE per-document window cumsum (partitioned by doc, never
    global); word stats are one map-side-combining groupBy(word);
    member->score is a keyed join (AQE broadcasts the |vocab|-sized
    score relation when it fits, shuffles when it doesn't); the top-k
    is TakeOrderedAndProject, never a global sort.
    """
    toks = docs.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.filter(
                F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
            )
        ).alias("__pos", "__word"),
    )
    flagged = toks.withColumn(
        "__stop",
        F.when(F.col("__word").isin(*stopwords), 1).otherwise(0)
        if stopwords
        else F.lit(0),
    )
    wcum = (
        Window.partitionBy("__doc")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pid = flagged.withColumn("__pid", F.sum("__stop").over(wcum))
    members = (
        pid.where(F.col("__stop") == 0)
        .withColumn(
            "__plen",
            F.count(F.lit(1)).over(Window.partitionBy("__doc", "__pid")),
        )
        .where(F.col("__plen") <= max_phrase_len)
    )
    words = members.groupBy("__word").agg(
        F.count(F.lit(1)).cast("long").alias("__freq"),
        F.sum("__plen").cast("long").alias("__deg"),
    )
    scored = members.join(words, "__word")
    phrases = (
        scored.groupBy("__doc", "__pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__word"))),
                    lambda x: x["__word"],
                ),
                " ",
            ).alias("phrase"),
            F.max("__plen").cast("int").alias("n_words"),
            F.sum(F.expr("__deg * 1000 div __freq")).cast("long").alias(
                "__score"
            ),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("phrase_freq"),
            F.max("__score").alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), "phrase")
        .limit(k)
    )


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision / recall / F1 — the multi-class evaluation
    table (scikit-learn's ``classification_report``) for any
    (label, pred) relation: lang-id vs declared language, a quality
    classifier vs review labels, linkage decisions vs clerical truth.

    Per class c: ``tp`` (label = pred = c), ``fp`` (pred = c, label
    != c), ``fn`` (label = c, pred != c), ``support`` = tp + fn.
    Precision = tp/(tp+fp) (NULL when c is never predicted, via
    try_divide), recall = tp/support, and F1 is computed from the RAW
    counts as ``2*tp / (2*tp + fp + fn)`` — one exact integer rational
    per class, never the composition of two already-rounded values
    (the repo's never-round-a-rounded-value rule). Rows with NULL
    label or pred are excluded (they belong to no class).

    Scale shape: one map-side-combining rollup to |label x pred|
    cells, then two |classes|-sized regroups and a full outer join —
    the report is |classes|-sized at any corpus size."""
    base = df.select(
        F.col(label_col).alias("__y"), F.col(pred_col).alias("__p")
    ).filter(F.col(label_col).isNotNull() & F.col(pred_col).isNotNull())
    cells = base.groupBy("__y", "__p").agg(
        F.count(F.lit(1)).alias("__n")
    )
    cells = cells.localCheckpoint(eager=False)  # feeds 3 rollups
    by_label = cells.groupBy(F.col("__y").alias("class")).agg(
        F.sum("__n").alias("__lt")
    )
    by_pred = cells.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__n").alias("__pt")
    )
    diag = cells.where(F.col("__y") == F.col("__p")).select(
        F.col("__y").alias("class"), F.col("__n").alias("__tp")
    )
    rep = (
        by_label.join(by_pred, "class", "full_outer")
        .join(diag, "class", "left")
        .select(
            "class",
            F.coalesce(F.col("__lt"), F.lit(0)).alias("__lt"),
            F.coalesce(F.col("__pt"), F.lit(0)).alias("__pt"),
            F.coalesce(F.col("__tp"), F.lit(0)).alias("__tp"),
        )
    )
    tp = F.col("__tp")
    fp = F.col("__pt") - tp
    fn = F.col("__lt") - tp
    return rep.select(
        "class",
        F.col("__lt").cast("bigint").alias("support"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.round(
            F.try_divide(tp.cast("double"), F.col("__pt").cast("double")), 6
        ).alias("prec"),
        F.round(
            F.try_divide(tp.cast("double"), F.col("__lt").cast("double")), 6
        ).alias("rec"),
        F.round(
            F.try_divide(
                (2 * tp).cast("double"), (2 * tp + fp + fn).cast("double")
            ),
            6,
        ).alias("f1"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Average precision (the area under the precision-recall curve,
    computed as the step integral AP = Σ_t (R_t − R_{t−1})·P_t over
    descending score thresholds) — the ranking metric that, unlike
    ROC-AUC, does not reward a classifier for ordering the easy
    NEGATIVES correctly: with 0.1% positives (the shape of every
    quality/contamination filter), ROC-AUC saturates near 1 while AP
    still discriminates.

    Exactness follows the Mann–Whitney value-compression rule: no row
    is ever ranked. One rollup to (score, n_pos_at, n_at), a cumulative
    window DESCENDING over the distinct-score domain (ties form ONE
    threshold block, the sklearn convention), and the per-threshold
    term ``pos_v·cum_pos/(cum_tot·P)`` — an exact integer rational —
    is ONE IEEE expression nano-rounded onto the integer lattice, so
    the cross-threshold sum is partition- and engine-invariant:
    ``AP = ap_nano/1e9`` with Σterm ≤ 1 by construction.

    Returns one row: ``(n, n_pos, ap_nano, average_precision)`` —
    NULL AP via try_divide-shaped guards when there are no positives.
    NULL score/label rows are excluded.

    Scale shape: one map-side-combining rollup to |distinct scores|
    (quantize scores upstream — micro-probabilities give ≤ 1e6+1
    distinct), one compressed-domain window, one scalar regroup."""
    base = df.select(
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("boolean").alias("__y"),
    ).filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
    per_v = base.groupBy("__s").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0))
        .cast("bigint")
        .alias("__pos"),
        F.count(F.lit(1)).cast("bigint").alias("__tot"),
    )
    wcum = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_v.withColumn(
        "__cum_pos", F.sum("__pos").over(wcum).cast("bigint")
    ).withColumn("__cum_tot", F.sum("__tot").over(wcum).cast("bigint"))
    tot = per_v.agg(
        F.sum("__tot").cast("bigint").alias("__n"),
        F.sum("__pos").cast("bigint").alias("__p"),
    )
    # bcast: const(1) scalar totals
    grid = cum.crossJoin(F.broadcast(tot))
    term = (
        F.col("__pos").cast("double")
        * F.col("__cum_pos").cast("double")
        / (F.col("__cum_tot").cast("double") * F.col("__p").cast("double"))
    )
    nano = F.when(
        F.col("__p") > 0,
        F.round(term * F.lit(1e9), 0).cast("bigint"),
    )
    agg = grid.groupBy().agg(
        F.max("__n").alias("n"),
        F.max("__p").alias("n_pos"),
        F.sum(nano).cast("bigint").alias("ap_nano"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        "ap_nano",
        round_stable(
            F.col("ap_nano").cast("double") / F.lit(1e9), 6
        ).alias("average_precision"),
    )


def score_lift_deciles(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Cumulative-gains and lift table by score decile — the business
    readout of a ranking model ("calling the top 20% captures 58% of
    converters, 2.9× random") that AUC/AP compress away. Rows are
    ranked by ``(score DESC, tiebreak ASC)`` — a total order, so the
    decile assignment is deterministic — and decile d (1-based) holds
    ranks ((d−1)·N/buckets, d·N/buckets].

    Exactness: the global rank comes from the distributed two-level
    range-bucket rank (:func:`~covid_data_pipeline_spark.operators.
    sampling.value_order_rank` on the NEGATED score — no global sort,
    no single-partition window); decile boundaries are the pure
    integer expression ``(rank−1)·buckets div N``; all counts are
    exact BIGINT, and every emitted rate/lift is ONE per-row IEEE
    division of exact integers (no float accumulates). The only flat
    window is the cumulative sum over the ≤ ``buckets``-row result.

    Returns ``buckets`` rows (fewer when N < buckets): ``(decile, n,
    n_pos, pos_rate, cum_n, cum_pos, capture_rate, lift,
    cum_lift)``. NULL score/label/tiebreak rows are excluded.

    Scale shape: value_order_rank's bucket machinery (bounded windows
    only) + one rollup to ``buckets`` rows."""
    from covid_data_pipeline_spark.operators.sampling import (
        value_order_rank,
    )

    base = df.select(
        (-F.col(score_col)).cast("bigint").alias("__negs"),
        F.col(label_col).cast("boolean").alias("__y"),
        F.col(tiebreak_col).alias("__tb"),
    ).filter(
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(tiebreak_col).isNotNull()
    )
    # Lineage-cut the scored projection: it feeds value_order_rank's
    # three subplans (min/max, bucket counts, rank join) plus the row
    # count below, and Catalyst shares no subtrees — without the cut an
    # expensive caller-side score expression (regex quality scoring over
    # a corpus) re-runs once per reference. The checkpointed relation is
    # three narrow columns, disk-spillable; recomputing the score per
    # pass costs more at any scale (localCheckpoint, not persist — no
    # session-cache entry, blocks GC with the plan).
    base = base.localCheckpoint(eager=False)
    ranked = value_order_rank(base, "__negs", "__tb", rank_col="__rk")
    # N over the checkpointed base, not `ranked`: same count (the rank
    # join preserves every row — each row's bucket is in the offset
    # table), one fewer rank-subplan execution.
    n_tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("__N"))
    per_d = (
        # bcast: const(1) scalar row count
        ranked.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "__d",
            # pure integer floor-div: no float crosses the boundary
            F.expr(f"((__rk - 1) * {buckets}) div __N") + 1,
        )
        .groupBy("__d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
        )
    )
    wc = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Grand totals ride the SAME single-partition window pass as the
    # running sums (full-frame sum over the ≤ buckets-row relation)
    # instead of a second aggregate + crossJoin over a second execution
    # of the per_d subtree — per_d is referenced exactly once.
    wg = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = (
        per_d.withColumn("cum_n", F.sum("n").over(wc).cast("bigint"))
        .withColumn("cum_pos", F.sum("n_pos").over(wc).cast("bigint"))
        .withColumn("__GN", F.sum("n").over(wg).cast("bigint"))
        .withColumn("__GP", F.sum("n_pos").over(wg).cast("bigint"))
    )
    base_rate = F.col("__GP").cast("double") / F.col("__GN").cast("double")
    return out.select(
        F.col("__d").cast("int").alias("decile"),
        "n",
        "n_pos",
        round_stable(
            F.try_divide(
                F.col("n_pos").cast("double"), F.col("n").cast("double")
            ),
            6,
        ).alias("pos_rate"),
        "cum_n",
        "cum_pos",
        round_stable(
            F.try_divide(
                F.col("cum_pos").cast("double"), F.col("__GP").cast("double")
            ),
            6,
        ).alias("capture_rate"),
        round_stable(
            F.try_divide(
                F.try_divide(
                    F.col("n_pos").cast("double"), F.col("n").cast("double")
                ),
                base_rate,
            ),
            6,
        ).alias("lift"),
        round_stable(
            F.try_divide(
                F.try_divide(
                    F.col("cum_pos").cast("double"),
                    F.col("cum_n").cast("double"),
                ),
                base_rate,
            ),
            6,
        ).alias("cum_lift"),
    ).orderBy("decile")
