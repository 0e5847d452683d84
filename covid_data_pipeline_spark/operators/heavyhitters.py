"""Exact distributed heavy hitters in two passes with bounded memory.

The 100 TB "what are the frequent items" answer when the item domain is
too large to group exactly (every token / URL / user agent in a crawl):

* **Pass 1 — candidates.** Each partition maintains a Misra–Gries /
  SpaceSaving summary of capacity ``k`` (merged per Arrow batch via the
  mergeable-summaries reduction of Agarwal et al., PODS 2012): after the
  pass, any item whose PARTITION count exceeds ``n_p / (k+1)`` is
  guaranteed present in that partition's summary. An item with GLOBAL
  count > ``n / (k+1)`` must cross that bar in at least one partition
  (pigeonhole), so the union of partition summaries — at most
  ``k × partitions`` items, never the domain — contains every true
  heavy hitter. Per-partition totals ride along as marker rows, so the
  threshold is computed in-plan; nothing is collected to the driver.
* **Pass 2 — exact recount.** The corpus is re-scanned once with the
  candidate set as a broadcast semi-join and the survivors are counted
  EXACTLY; the final filter ``count · (k+1) > n`` (integer arithmetic)
  throws away pass-1 noise.

Result: exactly the items with frequency above ``1/(k+1)`` of the
stream, with exact counts — not an approximation — using O(k) memory
per task and two scans. A plain groupBy-count would shuffle the whole
item domain; this shuffles ``≤ k × partitions`` candidate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_summarize(item_series, counters: dict, k: int) -> None:
    """Merge one Arrow batch into the Misra–Gries summary (in place):
    add exact batch counts, then reduce to ≤ k counters by subtracting
    the smallest surviving value from all (mergeable-summaries rule —
    error grows by the subtracted mass, bounded by W/(k+1) overall)."""
    for item, cnt in item_series.value_counts().items():
        counters[item] = counters.get(item, 0) + int(cnt)
    if len(counters) > k:
        cut = sorted(counters.values())[len(counters) - k - 1]
        for item in list(counters):
            nv = counters[item] - cut
            if nv <= 0:
                del counters[item]
            else:
                counters[item] = nv


def heavy_hitters(
    df: DataFrame,
    item_col: str = "item",
    k: int = 200,
) -> DataFrame:
    """Items with count strictly greater than ``n/(k+1)`` (n = total
    rows), with EXACT counts. Output ``(item, cnt)``.

    Deterministic and partitioning-invariant: pass 1 only decides the
    candidate set (a superset of the true heavy hitters under any
    partitioning, by the summary guarantee); pass 2's exact counts and
    integer threshold decide membership."""
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    items = df.select(F.col(item_col).alias("item")).where(
        F.col(item_col).isNotNull()
    )
    part_schema = StructType(
        [
            StructField("item", items.schema["item"].dataType, True),
            StructField("cnt", LongType(), False),
        ]
    )

    def mg(batches):
        counters: dict = {}
        total = 0
        for pdf in batches:
            if pdf.empty:
                continue
            total += len(pdf)
            _mg_summarize(pdf["item"], counters, k)
        out = pd.DataFrame(
            {"item": list(counters), "cnt": [0] * len(counters)}
        )
        # NULL-item marker row carries this partition's row count
        yield pd.concat(
            [out, pd.DataFrame({"item": [None], "cnt": [total]})],
            ignore_index=True,
        )

    summary = items.mapInPandas(mg, part_schema).localCheckpoint(eager=False)
    total = summary.where(F.col("item").isNull()).agg(
        F.sum("cnt").alias("n")
    )
    candidates = summary.where(F.col("item").isNotNull()).select("item").distinct()
    exact = (
        # bcast: model(<=k x partitions) Misra-Gries candidate summary
        items.join(F.broadcast(candidates), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        # bcast: const(1) scalar total agg
        exact.join(F.broadcast(total))
        .where(F.col("cnt") * F.lit(k + 1) > F.col("n"))
        .select("item", "cnt")
    )


def token_heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 200,
) -> DataFrame:
    """Heavy-hitter TOKENS of a document corpus: explode whitespace
    tokens (zero shuffle) and run :func:`heavy_hitters` over the token
    stream — stopword discovery / vocabulary-head extraction without
    ever grouping the full token domain."""
    from covid_data_pipeline_spark.functions.text import tokens

    toks = docs.select(
        F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    return heavy_hitters(toks, item_col="token", k=k).select(
        F.col("item").alias("token"), "cnt"
    )
