"""Incremental materialized-view maintenance (sources/matview.py):
after any sequence of snapshot commits, the incrementally-refreshed
view must be bit-identical to a full recompute of the current base
snapshot — decimal sums make that equality exact, not approximate."""

from __future__ import annotations

import pytest

# r11 fast-tier marking (VERDICT r10 ask #3): the full suite runs ~52
# min, which times out the driver's verify window; this module's tests
# are in the SLOW tier (fast tier = `pytest tests/` with the default
# addopts, full suite = `pytest tests/ -m ""` — run per round).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from covid_data_pipeline_spark.sources.matview import (
    MaterializedAggregate,
    aggregate_state,
)
from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse


def _rows(df):
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(
        rows, key=lambda t: tuple((v is None, str(v)) for v in t)
    )


def _base_df(spark, data):
    return spark.createDataFrame(
        data, "id bigint, grp string, amount double"
    )


@pytest.fixture()
def wh(spark, tmp_path):
    return SnapshotWarehouse(spark, str(tmp_path / "wh"))


def _mv(wh):
    return MaterializedAggregate(
        wh,
        "sales",
        keys=["id"],
        group_cols=["grp"],
        sum_cols=["amount"],
    )


def _assert_equals_full(mv, wh, spark):
    full = aggregate_state(wh.read("sales"), ["grp"], ["amount"])
    assert _rows(mv.read()) == _rows(full)


def test_initial_refresh_is_full_build(spark, wh):
    wh.append(_base_df(spark, [(1, "a", 1.5), (2, "b", 2.0)]), "sales")
    mv = _mv(wh)
    out = mv.refresh()
    assert out["mode"] == "full"
    assert mv.refreshed_version() == wh.current_version("sales")
    _assert_equals_full(mv, wh, spark)


def test_append_overwrite_replace_rollback_chain(spark, wh):
    mv = _mv(wh)
    wh.append(
        _base_df(
            spark,
            [(1, "a", 1.5), (2, "b", 2.0), (3, "a", None), (4, None, 4.0)],
        ),
        "sales",
        partition_by=None,
    )
    assert mv.refresh()["mode"] == "full"

    # append: new rows, new group, NULL group key and NULL measure
    wh.append(
        _base_df(spark, [(5, "c", 5.0), (6, None, None), (7, "a", 0.25)]),
        "sales",
    )
    assert mv.refresh()["mode"] == "incremental"
    _assert_equals_full(mv, wh, spark)

    # replace: rewrites everything — deletes, updates, group moves
    wh.replace(
        _base_df(
            spark,
            [(1, "b", 1.5), (2, "b", 9.0), (5, "c", 5.0), (8, "d", 8.0)],
        ),
        "sales",
    )
    assert mv.refresh()["mode"] == "incremental"
    _assert_equals_full(mv, wh, spark)
    # group "a" lost all rows and must be GONE from the view
    assert not [r for r in mv.read().collect() if r["grp"] == "a"]

    # rollback: inverse feed must restore the earlier view state
    wh.rollback("sales", 2)
    assert mv.refresh()["mode"] == "incremental"
    _assert_equals_full(mv, wh, spark)


def test_partition_overwrite_suppresses_unchanged_rows(spark, wh):
    mv = _mv(wh)
    df = _base_df(
        spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]
    ).withColumn("part", F.col("grp"))
    wh.append(df, "sales", partition_by=["part"])
    mv.refresh()

    # overwrite partition a re-emitting row 1 UNCHANGED, row 2 doubled
    upd = _base_df(spark, [(1, "a", 1.0), (2, "a", 4.0)]).withColumn(
        "part", F.col("grp")
    )
    wh.overwrite_partitions(upd, "sales", partition_by=["part"])
    out = mv.refresh()
    assert out["mode"] == "incremental"
    _assert_equals_full(mv, wh, spark)
    got = {r["grp"]: (r["mv_count"], float(r["sum_amount"])) for r in mv.read().collect()}
    assert got == {"a": (2, 5.0), "b": (1, 3.0)}


def test_noop_paths(spark, wh):
    mv = _mv(wh)
    wh.append(_base_df(spark, [(1, "a", 1.0)]), "sales")
    mv.refresh()
    # cursor already current: no new view version
    v_before = wh.current_version(mv.view_table)
    assert mv.refresh()["mode"] == "noop"
    assert wh.current_version(mv.view_table) == v_before

    # compaction rewrites files but changes no rows: cursor advances
    # without rewriting view data
    wh.compact("sales")
    out = mv.refresh()
    assert out["mode"] == "noop"
    assert mv.refreshed_version() == wh.current_version("sales")
    _assert_equals_full(mv, wh, spark)


def test_incremental_reads_only_changed_files(spark, wh):
    mv = _mv(wh)
    wh.append(_base_df(spark, [(i, "a", float(i)) for i in range(10)]), "sales")
    mv.refresh()
    v1 = wh.current_version("sales")
    wh.append(_base_df(spark, [(100, "b", 1.0)]), "sales")
    v2 = wh.current_version("sales")
    added, removed = wh.changed_files("sales", v1, v2)
    # the delta the refresh consumes is exactly the appended batch
    assert removed == [] and len(added) >= 1
    alive = set(wh._alive_files("sales"))
    assert set(added) < alive  # strict subset: old files never re-read
    assert mv.refresh()["mode"] == "incremental"
    _assert_equals_full(mv, wh, spark)


def test_foreign_view_table_is_rejected(spark, wh):
    wh.append(_base_df(spark, [(1, "a", 1.0)]), "sales")
    wh.append(_base_df(spark, [(1, "a", 1.0)]), "sales__mv")  # not an mv commit
    mv = _mv(wh)
    with pytest.raises(ValueError, match="not a materialized-view commit"):
        mv.refresh()


def test_grouped_and_summed_overlap_rejected(spark, wh):
    with pytest.raises(ValueError, match="both grouped and summed"):
        MaterializedAggregate(
            wh, "sales", keys=["id"], group_cols=["grp"], sum_cols=["grp"]
        )


def test_randomized_commit_fuzz(spark, wh):
    """Deterministic fuzz: a pseudo-random sequence of commit verbs;
    the invariant (incremental == full recompute) must hold after every
    refresh."""
    import random

    rng = random.Random(7)
    mv = _mv(wh)
    next_id = 0

    def batch(n, grp_pool):
        nonlocal next_id
        rows = []
        for _ in range(n):
            rows.append(
                (
                    next_id,
                    rng.choice(grp_pool),
                    rng.choice([None, round(rng.uniform(-5, 5), 2)]),
                )
            )
            next_id += 1
        return _base_df(spark, rows)

    wh.append(batch(20, ["a", "b", "c", None]), "sales")
    mv.refresh()
    for _step in range(5):
        verb = rng.choice(["append", "replace", "rollback"])
        if verb == "append":
            wh.append(batch(rng.randint(1, 10), ["a", "b", "c", "d", None]), "sales")
        elif verb == "replace":
            keep = wh.read("sales").filter(F.pmod(F.col("id"), F.lit(3)) != 0)
            extra = batch(rng.randint(1, 5), ["b", "e"])
            wh.replace(keep.unionByName(extra), "sales")
        else:
            vs = wh.versions("sales")
            wh.rollback("sales", rng.choice(vs))
        mv.refresh()
        _assert_equals_full(mv, wh, spark)
