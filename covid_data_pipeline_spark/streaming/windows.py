"""Event-time window aggregations — batch/stream polymorphic.

``window()`` / ``session_window()`` evaluate identically on batch and
streaming DataFrames, so every function here is tested two ways: against
the DuckDB oracle in batch mode, and stream-vs-batch equivalence with an
``availableNow`` trigger over parquet files (tests/test_streaming.py) and
over the synthetic events stream (tests/test_pyds.py).

Scale notes: watermarks bound state (late rows beyond the watermark are
dropped); the shuffle is keyed on (window, *keys) so skewed keys behave
like any agg — AQE skew handling applies. In streaming mode Spark keeps
one state row per open (window, key) — with a 10-minute watermark and
hourly windows that is ~2 windows × |keys| rows, independent of input
volume.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) for
    watermarking. Parquet written by tz-naive writers reads back as
    TIMESTAMP_NTZ, which ``withWatermark`` rejects
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). With the session timezone
    pinned to UTC (session.py) the cast is value-preserving, so batch
    twins — which keep NTZ — still compare row-for-row equal."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    return df


def _windowed(
    df: DataFrame,
    window_col: Column,
    keys: Sequence[str],
    aggs: Sequence[Column],
    ts_col: str,
    watermark: str | None,
) -> DataFrame:
    if watermark is not None and df.isStreaming:
        df = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark)
    return (
        df.groupBy(window_col, *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Non-overlapping event-time buckets of ``duration``."""
    return _windowed(
        df, F.window(F.col(ts_col), duration).alias("window"), keys, aggs, ts_col, watermark
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    return _windowed(
        df,
        F.window(F.col(ts_col), duration, slide).alias("window"),
        keys,
        aggs,
        ts_col,
        watermark,
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Session windows: a session extends while consecutive events per key
    arrive within ``gap`` of each other (dynamic-length windows). The
    batch-mode equivalent of the classic gaps-and-islands SQL."""
    return _windowed(
        df,
        F.session_window(F.col(ts_col), gap).alias("window"),
        keys,
        aggs,
        ts_col,
        watermark,
    )
