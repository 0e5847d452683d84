"""Relational operators: thin, tested, scale-aware wrappers.

These wrap the DataFrame API 1:1 where the reference already used PySpark
(SURVEY.md §2 marks those "identity") and re-express the Trino-SQL shapes
(anti-join dedup, fact↔dim joins) as DataFrame plans. Each wrapper's value
is the scale posture baked in: broadcast hints for dimension joins,
null-safe aggregation, existence checks that don't scan the world.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_safe_sum_rollup(
    df: DataFrame,
    group_by: Sequence[str],
    sum_cols: Sequence[str],
    count_alias: str = "source_records_cnt",
) -> DataFrame:
    """GroupBy + ``sum(coalesce(c, 0))`` per measure + ``count(*)``.

    The ODS province→country rollup (reference process_covid_ods.py:61-69).
    Spark performs partial (map-side) aggregation before the shuffle
    automatically — at 100 TB the shuffle carries only
    |groups per partition| rows, not raw rows.
    """
    aggs = [F.sum(F.coalesce(F.col(c), F.lit(0))).alias(c) for c in sum_cols]
    aggs.append(F.count(F.lit(1)).alias(count_alias))
    return df.groupBy(*group_by).agg(*aggs)


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Fact↔dimension equi-join with the dim broadcast.

    Covers J1 (composite-key left join, reference process_covid_dds.py:60-64)
    and J2/J3 (inner fact↔dim, process_covid_data_mart.py:61 and the four
    alert SQLs). Dimensions here are small (~1k rows); broadcasting removes
    the fact-side shuffle entirely — the single most important join choice
    at 100 TB fact scale.
    """
    # bcast: delta caller dim contract (dims are small; size_gated_broadcast for unbounded dims)
    return fact.join(F.broadcast(dim), on=on, how=how)


def anti_join(
    new: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """``left_anti`` — keep rows of ``new`` with no key-match in ``existing``.

    The Spark-native decorrelation of the reference's idempotency
    ``NOT EXISTS`` (alert_case_spike.sql:57-63 and 3 siblings). Emitting
    left_anti directly skips relying on subquery decorrelation.
    """
    return new.join(existing.select(*keys), on=list(keys), how="left_anti")


def semi_join(df: DataFrame, other: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``left_semi`` — EXISTS. Not used by the reference but part of the
    engine surface (complement of :func:`anti_join`)."""
    return df.join(other.select(*keys), on=list(keys), how="left_semi")


def size_gated_broadcast(
    df: DataFrame,
    estimated_rows: int | None = None,
    row_limit: int = 2_000_000,
) -> DataFrame:
    """Broadcast hint only when the caller can BOUND the relation's size.

    A force-`F.broadcast` on a |keys|-sized relation (per-item counts,
    per-user stats) is correct at test scale and a driver-OOM at a true
    100 TB catalog. Callers that know a cheap upper bound (a dimension's
    metadata row count, a catalog cardinality) pass it: under
    ``row_limit`` the hint is applied, above it the relation joins as a
    keyed shuffle. With no estimate the hint is omitted entirely and
    AQE's runtime statistics pick broadcast vs shuffle per partition
    sizes — the safe default for unbounded relations."""
    if estimated_rows is not None and estimated_rows <= row_limit:
        return F.broadcast(df)
    return df


def distinct_rows(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Distinct projection (A2, reference process_covid_dds.py:39)."""
    return (df.select(*cols) if cols else df).distinct()


def map_values_join(
    df: DataFrame,
    col: str,
    mapping: Mapping[str, str],
    out_col: str | None = None,
) -> DataFrame:
    """Value normalization via broadcast mapping table.

    Same semantics as functions.scalar.map_values (the reference's 15-branch
    CASE chain, process_covid_ods.py:42-59) but scales to arbitrarily large
    mappings: a broadcast left join + coalesce(default=identity) instead of
    an ever-growing codegen'd CASE.
    """
    out = out_col or col
    spark = df.sparkSession
    map_df = spark.createDataFrame(
        [(k, v) for k, v in mapping.items()], schema=f"__mv_src string, __mv_dst string"
    )
    # bcast: const(|mapping|) literal mapping table
    joined = df.join(F.broadcast(map_df), df[col] == map_df["__mv_src"], "left")
    return joined.withColumn(out, F.coalesce(F.col("__mv_dst"), F.col(col))).drop(
        "__mv_src", "__mv_dst"
    )


def is_empty(df: DataFrame) -> bool:
    """Existence guard. The reference uses ``count() == 0``
    (process_covid_ods.py:37); ``isEmpty`` stops at the first row instead of
    scanning everything — a deliberate improvement (SURVEY.md §2.4 A3)."""
    return df.isEmpty()


def winsorize_bounds(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization bounds by EXACT order statistics: the
    value at rank ``ceil(p * n)`` (ordered by value, id) — no
    percentile interpolation, so the bound is always a data value both
    engines agree on bit-for-bit (repo float policy: interpolated
    quantiles are arithmetic two engines round differently).

    Returns one row per group: ``n``, ``lo_bound``, ``hi_bound``, and
    the outlier counts ``n_below`` / ``n_above`` a clamp would touch.
    Plan: one window pass (rank + count share the group shuffle) →
    per-group bounds (tiny) broadcast back → one aggregate. At 100 TB
    the corpus is shuffled once and scanned twice; bounds never leave
    the executors as anything bigger than |groups| rows.
    """
    from pyspark.sql.window import Window

    groups = list(group_cols)
    v = F.col(value_col)
    w_rank = Window.partitionBy(*groups).orderBy(value_col, id_col)
    w_n = Window.partitionBy(*groups)
    ranked = df.select(
        *groups,
        v.alias("__v"),
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_n).alias("__n"),
    )
    bounds = ranked.groupBy(*groups).agg(
        F.max("__n").alias("n"),
        F.max(
            F.when(F.col("__rn") == F.ceil(F.lit(p_lo) * F.col("__n")), F.col("__v"))
        ).alias("lo_bound"),
        F.max(
            F.when(F.col("__rn") == F.ceil(F.lit(p_hi) * F.col("__n")), F.col("__v"))
        ).alias("hi_bound"),
    )
    return (
        # bcast: model(|groups|) per-group quantile bounds (low-cardinality group contract)
        df.join(F.broadcast(bounds), groups)
        .groupBy(*groups)
        .agg(
            F.max("n").alias("n"),
            F.max("lo_bound").alias("lo_bound"),
            F.max("hi_bound").alias("hi_bound"),
            F.sum(F.when(v < F.col("lo_bound"), 1).otherwise(0)).alias("n_below"),
            F.sum(F.when(v > F.col("hi_bound"), 1).otherwise(0)).alias("n_above"),
        )
    )


def mad_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 3,
    scale: int = 100,
) -> DataFrame:
    """Robust per-group outlier flags via the median / MAD rule:
    a row is an outlier when ``|v − median| > k · MAD`` where MAD is
    the median absolute deviation of its group. Unlike mean/σ z-scores,
    both statistics have a 50% breakdown point — the outliers being
    hunted cannot drag the threshold toward themselves (the classic
    failure of 3σ rules on heavy-tailed value columns).

    Everything is integer-exact (repo float policy): values enter as
    ``floor(v · scale)`` BIGINTs, both medians are LOWER medians — the
    exact order statistic at rank ``ceil(n/2)``, never an interpolated
    quantile — and the flag compares ``|v_i − med| > k · MAD`` in
    BIGINT, so the flagged set is bit-identical on any engine or
    partitioning.

    Scale shape — DOMAIN COMPRESSION, the same trick as
    ``token_mass_percentiles``: medians are selected from the per-group
    DISTINCT-value count relation (|groups × distinct values| rows,
    orders of magnitude under the corpus), so no stage sorts or windows
    the raw rows. Two compressed median passes (values, then absolute
    deviations), then the per-group (median, MAD) pair — |groups| rows
    — re-enters through a group-keyed join for the final map-side flag.

    Returns ``df`` plus ``__vq`` (the quantized value), ``med_q``,
    ``mad_q``, and ``is_outlier``. Rows with NULL values get
    ``is_outlier = NULL`` and do not participate in the statistics."""
    from pyspark.sql.window import Window

    groups = list(group_cols)
    vq = F.floor(F.col(value_col) * F.lit(scale)).cast("bigint")
    quant = df.withColumn("__vq", vq)

    def _lower_median(rel: DataFrame, col: str) -> DataFrame:
        """rel = (groups..., col, __c) distinct-value counts → one row
        per group with the lower median of the expanded multiset."""
        w_cum = (
            Window.partitionBy(*groups)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*groups)
        with_cum = rel.select(
            *groups,
            F.col(col),
            F.sum("__c").over(w_cum).alias("__cum"),
            F.sum("__c").over(w_all).alias("__n"),
        )
        return with_cum.groupBy(*groups).agg(
            F.min(
                F.when(
                    F.col("__cum") >= F.expr("(__n + 1) div 2"), F.col(col)
                )
            ).alias("__med")
        )

    # val_counts and med each feed two subplans, but lineage cuts here
    # measured SLOWER in an isolated sf0.1 A/B (1.11s → 1.66s median):
    # the duplicate consumers recompute in PARALLEL stages of one job,
    # while a cut serializes the DAG and pays block materialization —
    # left uncut deliberately (r10 optimization round).
    val_counts = (
        quant.filter(F.col("__vq").isNotNull())
        .groupBy(*groups, "__vq")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    med = _lower_median(val_counts, "__vq").withColumnRenamed("__med", "med_q")

    dev_counts = (
        val_counts.join(med, groups)
        .select(
            *groups,
            F.abs(F.col("__vq") - F.col("med_q")).alias("__dq"),
            "__c",
        )
        .groupBy(*groups, "__dq")
        .agg(F.sum("__c").alias("__c"))
    )
    mad = _lower_median(dev_counts, "__dq").withColumnRenamed("__med", "mad_q")

    stats = med.join(mad, groups)
    return quant.join(stats, groups, "left").withColumn(
        "is_outlier",
        F.when(
            F.col("__vq").isNotNull(),
            F.abs(F.col("__vq") - F.col("med_q")) > F.lit(k) * F.col("mad_q"),
        ),
    )
