"""Scalar column expressions used across the pipeline.

Each function returns a Column built purely from ``pyspark.sql.functions``
built-ins, so every use stays inside whole-stage codegen and remains
visible to Catalyst (pushdown/pruning/folding). The reference uses the
same expressions inline; we centralize them (citations per function).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_seconds(col: Column | str) -> Column:
    """Seconds since the Unix epoch as DOUBLE, for any timestamp flavor.

    Spark 4 forbids casting TIMESTAMP_NTZ directly to numeric types
    (DATATYPE_MISMATCH); routing through TIMESTAMP_LTZ — a no-op for
    LTZ inputs — makes the conversion type-robust. The session timezone
    is pinned to UTC (session.py), so NTZ values are interpreted as UTC,
    matching DuckDB's ``EPOCH()`` on naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ltz").cast("double")


def round_stable(col: Column | str, scale: int = 2) -> Column:
    """``round()`` with a stable zero: negative zero normalized to +0.0.

    Query-boundary convention (registry-wide): any FINAL projection that
    rounds a signed continuous value (z-score, cosine, slope, tau,
    margin, correlation, log-ratio...) must use this instead of
    ``F.round``. A tiny negative that rounds to zero is ``-0.0`` in
    IEEE-754; Spark's value representation normalizes it to ``+0.0``
    while DuckDB's ``ROUND`` keeps the sign bit, so the driver's value
    hash — which compares representations, not numeric equality — flags
    a numerically-perfect query as red (round-5 `embedding_standardize`).
    ``x + 0.0`` maps -0.0 to +0.0 (IEEE round-to-nearest) and is the
    identity for every other value, including NULL and NaN.

    The DuckDB oracle must apply the same guard: ``(ROUND(x, d) + 0)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale) + F.lit(0.0)


def surrogate_key(name_col: Column | str, *extra: Column | str) -> Column:
    """Deterministic sha2-256 surrogate key.

    ``sha2(concat(upper(trim(name)), cast(extra as string)...), 256)`` —
    reference process_covid_dds.py:35. Deterministic across runs because
    the dimension is rebuilt wholesale while fact partitions persist
    (SURVEY.md §7.3).
    """
    name = F.col(name_col) if isinstance(name_col, str) else name_col
    parts = [F.upper(F.trim(name))]
    for e in extra:
        c = F.col(e) if isinstance(e, str) else e
        parts.append(c.cast("string"))
    return F.sha2(F.concat(*parts), 256)


def map_values(
    col: Column | str,
    mapping: Mapping[str, str],
    default_to_identity: bool = True,
) -> Column:
    """CASE-chain value normalization (reference process_covid_ods.py:42-59,
    the 15-branch JHU→World-Bank country rename).

    For small mappings a ``when`` chain folds into one codegen'd expression;
    for large mappings prefer a broadcast join (operators.relational
    .map_values_join) — same semantics, better plan at thousands of keys.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for src, dst in mapping.items():
        cond = c == F.lit(src)
        expr = F.when(cond, F.lit(dst)) if expr is None else expr.when(cond, F.lit(dst))
    if expr is None:
        return c
    return expr.otherwise(c) if default_to_identity else expr


def clamped_delta(cur: Column | str, prev: Column | str | Column) -> Column:
    """Day-over-day delta clamped at 0: ``GREATEST(COALESCE(cur - prev, 0), 0)``.

    Negative day-over-day corrections in cumulative counters clamp to zero
    (reference process_covid_data_mart.py:70-78). NOTE the alert queries
    deliberately do NOT clamp (SURVEY.md §7.3) — they use a plain ``cur - prev``.
    """
    c = F.col(cur) if isinstance(cur, str) else cur
    p = F.col(prev) if isinstance(prev, str) else prev
    return F.greatest(F.coalesce(c - p, F.lit(0)), F.lit(0))


def per_100k(numerator: Column | str, population: Column | str) -> Column:
    """``ROUND(n / pop * 100000, 0)`` cast LONG — reference
    process_covid_data_mart.py:85. Division on integer inputs follows Spark
    SQL semantics (yields DOUBLE), matching the reference exactly."""
    n = F.col(numerator) if isinstance(numerator, str) else numerator
    p = F.col(population) if isinstance(population, str) else population
    return F.round(n.cast("double") / p * 100000, 0).cast("long")


def rate_percent(
    numerator: Column | str,
    denominator: Column | str,
    default: float | None = None,
) -> Column:
    """``CASE WHEN den > 0 THEN ROUND(num/den*100, 2) ELSE default END`` —
    guarded ratio (reference process_covid_data_mart.py:87-88 uses
    ``ELSE 0``; pass ``default=None`` for SQL-NULL semantics)."""
    n = F.col(numerator) if isinstance(numerator, str) else numerator
    d = F.col(denominator) if isinstance(denominator, str) else denominator
    guarded = F.when(d > 0, F.round(n.cast("double") / d * 100, 2))
    return guarded if default is None else guarded.otherwise(F.lit(default))


def bucketize(
    col: Column | str,
    thresholds: Sequence[tuple[float, str]],
    default: str,
) -> Column:
    """Descending-threshold CASE bucketing: first ``col > t`` wins.

    Reference risk categories (process_covid_data_mart.py:106-111):
    ``bucketize(c, [(5000,'Critical'),(1000,'High'),(100,'Medium')],'Low')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for t, label in thresholds:
        cond = c > F.lit(t)
        expr = (
            F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
        )
    return expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)
