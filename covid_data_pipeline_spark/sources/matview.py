"""Incremental materialized-view maintenance over the snapshot CDF.

The reference pipeline rebuilds its mart from full history every run
(`/root/reference/airflow/dags/scripts/process_covid_dds.py` recomputes
each layer from the layer below); at 100 TB a full-recompute aggregate
is the single most expensive recurring job in the warehouse. This
module maintains a grouped COUNT/SUM aggregate *incrementally* from
:class:`~covid_data_pipeline_spark.sources.snapshots.SnapshotWarehouse`'s
row-level change feed (the Delta/Iceberg "incremental view maintenance"
pattern): each refresh

1. reads only the base table's *changed files* between the last
   refreshed snapshot and the current one (``changes()`` prunes via the
   manifests' symmetric difference — common files cancel exactly),
2. folds the feed into a SIGNED delta aggregate (+1 for
   insert/update_postimage, −1 for delete/update_preimage),
3. merges delta into the stored view with one group-keyed aggregation
   whose input is |view| + |delta groups| rows — never the base table.

COUNT and SUM are self-maintainable under deletes; MIN/MAX are not
(deleting the current extremum needs a rescan of its group) and are
deliberately not offered. Sums are carried in ``DECIMAL(38,6)`` so the
incrementally-maintained view is **bit-identical** to a full recompute
on any engine/partitioning — the equality the tests assert. AVG is a
consumer-side division of the two maintained columns.

Crash safety: the refresh cursor (the base snapshot version the view
reflects) is embedded in the view table's own manifest ``op`` field
(``mv@<base_version>``), so view data and cursor commit in ONE atomic
manifest rename. A crash before the commit leaves the previous
view+cursor intact and the next refresh simply replays the same delta.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse

_SUM_TYPE = "decimal(28,6)"  # per-row cast; SUM widens to decimal(38,6)


def aggregate_state(
    df: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Full recompute of the view state: per-group ``mv_count`` plus one
    exact decimal ``sum_<col>`` per measure. This is both the initial
    build and the verification twin the incremental path must equal."""
    aggs = [F.count(F.lit(1)).alias("mv_count")]
    for c in sum_cols:
        aggs.append(F.count(F.col(c)).alias(f"cnt_{c}"))
        aggs.append(F.sum(F.col(c).cast(_SUM_TYPE)).alias(f"sum_{c}"))
    return df.groupBy(*list(group_cols)).agg(*aggs)


def delta_state(
    changes: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Fold a ``_change_type``-labeled change feed into the same state
    shape as :func:`aggregate_state`, signed: postimages/inserts add,
    preimages/deletes subtract. A key-preserving update contributes
    (−old, +new) to its group; a group-key-changing update moves mass
    between groups. NULL measures are skipped by SUM on both paths."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    aggs = [F.sum(sign).alias("mv_count")]
    for c in sum_cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), sign)).alias(f"cnt_{c}")
        )
        aggs.append(
            F.sum(
                (sign.cast(_SUM_TYPE) * F.col(c).cast(_SUM_TYPE)).cast(
                    _SUM_TYPE
                )
            ).alias(f"sum_{c}")
        )
    return changes.groupBy(*list(group_cols)).agg(*aggs)


def merge_state(
    state: DataFrame, delta: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Merge a signed delta into a stored state: union + one group-keyed
    aggregation (input size |state| + |delta|, never the base table).
    Groups whose count reaches zero vanish — including groups whose
    rows were all deleted since the last refresh. A measure whose
    non-null count hits zero reverts to a NULL sum (SQL SUM over an
    all-NULL group is NULL, not 0 — the ``cnt_`` columns exist exactly
    so deletes can restore that state)."""
    merged_aggs = [
        F.sum(c).alias(c) for c in state.columns if c not in group_cols
    ]
    merged = (
        state.unionByName(delta.select(*state.columns))
        .groupBy(*list(group_cols))
        .agg(*merged_aggs)
        .filter(F.col("mv_count") > 0)
    )
    for c in state.columns:
        if c.startswith("sum_"):
            merged = merged.withColumn(
                c, F.when(F.col("cnt_" + c[4:]) > 0, F.col(c))
            )
    return merged


class MaterializedAggregate:
    """A named grouped COUNT/SUM view over a snapshot table, refreshed
    incrementally. ``keys`` are the base table's row-identity columns
    (the CDF join keys); ``group_cols``/``sum_cols`` define the view.

    The view itself lives in the same warehouse as a snapshot table
    (time travel, rollback and CDF over the *view* come for free), so a
    downstream consumer can in turn read the view incrementally."""

    def __init__(
        self,
        wh: SnapshotWarehouse,
        base_table: str,
        keys: Sequence[str],
        group_cols: Sequence[str],
        sum_cols: Sequence[str],
        view_table: str | None = None,
    ):
        overlap = set(group_cols) & set(sum_cols)
        if overlap:
            raise ValueError(f"columns both grouped and summed: {sorted(overlap)}")
        self.wh = wh
        self.base_table = base_table
        self.keys = list(keys)
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.view_table = view_table or f"{base_table}__mv"

    # -- cursor = the view manifest's op field ("mv@<base_version>") ------
    def refreshed_version(self) -> int | None:
        """Base-table snapshot version the stored view reflects, or
        None before the first refresh."""
        v = self.wh.current_version(self.view_table)
        if v is None:
            return None
        op = self.wh._manifest(self.view_table, v)["op"]
        if not op.startswith("mv@"):
            raise ValueError(
                f"{self.view_table} v{v} is not a materialized-view commit "
                f"(op={op!r}) — was the view table written by something else?"
            )
        return int(op.split("@", 1)[1])

    def read(self) -> DataFrame:
        return self.wh.read(self.view_table)

    def _commit_state(self, state: DataFrame, base_version: int) -> int:
        files = self.wh._write_batch(state, self.view_table, None)
        return self.wh._commit(self.view_table, files, f"mv@{base_version}")

    def refresh(self) -> dict:
        """Bring the view up to the base table's current snapshot.
        Returns ``{"mode": "full"|"incremental"|"noop",
        "base_version": int, "view_version": int | None}``."""
        cur = self.wh.current_version(self.base_table)
        if cur is None:
            raise FileNotFoundError(f"no snapshots for {self.base_table}")
        last = self.refreshed_version()
        if last is None:
            state = aggregate_state(
                self.wh.read(self.base_table), self.group_cols, self.sum_cols
            )
            v = self._commit_state(state, cur)
            return {"mode": "full", "base_version": cur, "view_version": v}
        if last == cur:
            return {
                "mode": "noop",
                "base_version": cur,
                "view_version": self.wh.current_version(self.view_table),
            }
        feed = self.wh.changes(self.base_table, last, cur, self.keys)
        delta = delta_state(feed, self.group_cols, self.sum_cols)
        if delta.isEmpty():
            # e.g. a compaction rewrote every file but changed no rows:
            # advance the cursor without rewriting view data
            v = self.wh._commit(
                self.view_table,
                self.wh._alive_files(self.view_table),
                f"mv@{cur}",
            )
            return {"mode": "noop", "base_version": cur, "view_version": v}
        state = merge_state(self.read(), delta, self.group_cols)
        v = self._commit_state(state, cur)
        return {"mode": "incremental", "base_version": cur, "view_version": v}
