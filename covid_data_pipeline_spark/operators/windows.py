"""Window operators: cumulative-counter → daily-delta conversion.

The analytical heart of the reference (SURVEY.md §2.5): ``LAG(x) OVER
(PARTITION BY entity ORDER BY date)`` turning cumulative counters into
per-day deltas, with two deliberately different null/negative policies:

* mart policy — clamp: ``GREATEST(COALESCE(cur - LAG(cur), 0), 0)``
  (reference process_covid_data_mart.py:67-79)
* alert policy — no clamp; first-day NULL lag filtered by the caller via
  ``prev IS NOT NULL`` (reference alert_case_spike.sql:28-46)

Scale note: a window partitioned by entity shuffles once on the entity
key; all deltas for an entity compute in one sorted pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import clamped_delta


def lag_over(
    partition_by: Sequence[str],
    order_by: Sequence[str],
) -> Window:
    """Window spec for LAG: partition by entity, order by time (plus any
    tiebreaker columns — pass a unique key last for determinism)."""
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def with_deltas(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    cols: Sequence[str],
    clamp: bool = True,
    prev_suffix: str = "_prev",
    delta_prefix: str = "new_",
) -> DataFrame:
    """Add ``<c>_prev`` (LAG 1) and ``new_<c>`` (delta) for each measure.

    ``clamp=True`` applies the mart policy; ``clamp=False`` leaves raw
    ``cur - prev`` (NULL on the first row) for alert-style filtering.
    All lags share one window spec → one shuffle + one sort, regardless of
    how many measures are requested.
    """
    w = lag_over(partition_by, order_by)
    out = df
    for c in cols:
        prev = F.lag(F.col(c), 1).over(w)
        out = out.withColumn(c + prev_suffix, prev)
        delta: Column = (
            clamped_delta(F.col(c), F.col(c + prev_suffix))
            if clamp
            else F.col(c) - F.col(c + prev_suffix)
        )
        out = out.withColumn(delta_prefix + c, delta)
    return out


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """row_number ≤ k per group. Not in the reference (SURVEY.md §2.6) but a
    core engine primitive (used by similarity top-k). Window + filter lets
    Spark push the limit into the sort (WindowGroupLimit)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )
