"""Scale machinery: salted aggregation/join equivalence, compaction, the
Morton key, skew profiling and rendezvous sharding."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from covid_data_pipeline_spark.harness.tables import table
from covid_data_pipeline_spark.observe import spark_jobs
from covid_data_pipeline_spark.operators.scale import salted_join, salted_sum


def _skewed(spark):
    """90% of rows on one key — the shape salting exists for."""
    return spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_salted_sum_equals_plain_sum(spark):
    df = _skewed(spark)
    plain = {
        (r["k"]): (r["s"], r["c"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["c"])
        for r in salted_sum(
            df, keys=["k"], sum_cols=["v"], num_salts=8, count_col="c"
        )
        .withColumnRenamed("v", "s")
        .collect()
    }
    assert salted == plain


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_salted_join_equals_plain_join(spark):
    left = _skewed(spark)
    right = spark.createDataFrame(
        [("HOT", 1), ("k10", 2), ("missing", 3)], "k string, tag int"
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, on="k", how=how).select("k", "v", "tag").collect())
        )
        salted = sorted(
            map(tuple, salted_join(left, right, on=["k"], how=how).select("k", "v", "tag").collect())
        )
        assert salted == plain


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_compact_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    import glob

    from covid_data_pipeline_spark.sources.writers import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = table(spark, sf_dir, "orders").withColumn(
        "od", F.date_trunc("month", "o_orderdate").cast("date")
    )
    # Simulate many tiny appends: 12 writes × many partitions each.
    for i in range(12):
        wh.append(o.filter(F.col("o_orderkey") % 12 == i), "raw.orders", ["od"])
    before_files = glob.glob(str(tmp_path / "wh/raw/orders/**/*.parquet"), recursive=True)
    before = sorted(map(tuple, wh.read("raw.orders").collect()))
    wh.compact("raw.orders", partition_by=["od"])
    after_files = glob.glob(str(tmp_path / "wh/raw/orders/**/*.parquet"), recursive=True)
    after = sorted(map(tuple, wh.read("raw.orders").collect()))
    assert after == before
    assert len(after_files) < len(before_files) / 4


def test_morton_key_matches_python_reference(spark):
    from covid_data_pipeline_spark.operators.scale import morton_key

    def py_morton(x, y, bits=16):
        k = 0
        for i in range(bits):
            k |= ((x >> i) & 1) << (2 * i)
            k |= ((y >> i) & 1) << (2 * i + 1)
        return k

    rows = [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 3, 100, 65535)]
    df = spark.createDataFrame(rows, "x LONG, y LONG")
    got = df.select("x", "y", morton_key("x", "y").alias("z")).collect()
    for r in got:
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_write_narrows_file_stats_on_both_columns(spark, tmp_path):
    """Z-ordered files (``SnapshotWarehouse.compact(zorder_by=...)``,
    laid out by ``morton_key``) must each cover a narrow range of BOTH
    columns — the property that lets parquet min/max stats prune a scan
    filtered on either one. Checked against real footer statistics."""
    import os

    import pyarrow.parquet as pq

    from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse

    n = 1 << 14
    side = 1 << 7  # 128x128 grid, row-major ids
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"), (F.col("id") / side).cast("long").alias("y")
    )
    sw = SnapshotWarehouse(spark, str(tmp_path / "wh"))
    sw.append(df.coalesce(1), "zorder")
    sw.compact("zorder", zorder_by=["x", "y"], zorder_bits=8, target_file_rows=n // 16)
    files, total = sw.prune_files("zorder", "x")  # no bounds: every file
    assert len(files) == total >= 16

    spans_x, spans_y = [], []
    for rel in files:
        md = pq.ParquetFile(os.path.join(sw.path("zorder"), "data", rel)).metadata
        mins_x, maxs_x, mins_y, maxs_y = [], [], [], []
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            cols = {row.column(c).path_in_schema: row.column(c) for c in range(row.num_columns)}
            mins_x.append(cols["x"].statistics.min)
            maxs_x.append(cols["x"].statistics.max)
            mins_y.append(cols["y"].statistics.min)
            maxs_y.append(cols["y"].statistics.max)
        spans_x.append(max(maxs_x) - min(mins_x))
        spans_y.append(max(maxs_y) - min(mins_y))
    # 16 files over a 128x128 Z-curve: each file ~a 32x32 tile. A plain
    # row-major sort would give span_x = 127 in EVERY file. Require both
    # dims well under the full domain on average.
    assert sum(spans_x) / len(spans_x) < 80
    assert sum(spans_y) / len(spans_y) < 80
    # And a single-column predicate prunes: files whose x-range excludes
    # x<16 exist (so a scan for x<16 skips them entirely).
    assert any(s < 40 for s in spans_x)
    kept, _ = sw.prune_files("zorder", "x", hi=15)
    assert len(kept) < total


def test_compact_recovers_from_crashed_swap(spark, sf_dir, tmp_path):
    import os
    import shutil

    from covid_data_pipeline_spark.sources.writers import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = table(spark, sf_dir, "orders").limit(100)
    wh.append(o, "raw.orders")
    before = sorted(map(tuple, wh.read("raw.orders").collect()))
    final = wh.path("raw.orders")

    # Crash between the two renames: table path missing, data only in
    # __old. The next compact must restore and proceed.
    os.rename(final, final + "__old")
    wh.compact("raw.orders")
    assert sorted(map(tuple, wh.read("raw.orders").collect())) == before
    assert not os.path.exists(final + "__old")

    # Leftover staging + backup from a crash after the swap: both are
    # stale and must be discarded, not wedge the rename.
    shutil.copytree(final, final + "__compact")
    shutil.copytree(final, final + "__old")
    wh.compact("raw.orders")
    assert sorted(map(tuple, wh.read("raw.orders").collect())) == before
    assert not os.path.exists(final + "__compact")
    assert not os.path.exists(final + "__old")

    # The compacted table keeps its schema record: reads run no job and
    # see the schema inference sees.
    _, jobs = spark_jobs(spark, lambda: wh.read("raw.orders"))
    assert jobs == 0
    assert wh.read("raw.orders").schema == spark.read.parquet(final).schema


def test_skew_profile_flags_planted_hot_key(spark):
    """A key holding ~half the rows must surface first with is_hot set;
    uniform keys must not be flagged."""
    from covid_data_pipeline_spark.operators.scale import skew_profile

    df = spark.range(0, 10_000).select(
        F.when(F.col("id") < 5_000, F.lit(7)).otherwise(F.col("id") % 100).alias("k")
    )
    prof = skew_profile(df, keys=["k"], top_n=5, hot_multiple=10.0).collect()
    assert prof[0]["k"] == 7
    assert prof[0]["is_hot"] is True
    assert prof[0]["key_rows"] >= 5_000
    # ~100 uniform keys with ~50 rows each: none within 10x of the mean
    assert all(not r["is_hot"] for r in prof[1:])


def test_analyze_stats_enable_cbo_broadcast(spark, sf_dir, tmp_path):
    """ANALYZE TABLE feeds the cost-based optimizer: with column stats
    on a small catalog table, Catalyst picks a broadcast join for it
    without an explicit hint — the decision that matters when the probe
    side is 100 TB and a shuffle of it costs hours."""
    from covid_data_pipeline_spark.harness.tables import table as t

    nation = t(spark, sf_dir, "nation")
    spark.sql("CREATE DATABASE IF NOT EXISTS statsdb")
    spark.sql("DROP TABLE IF EXISTS statsdb.nation_stats")
    nation.write.saveAsTable("statsdb.nation_stats")
    spark.sql(
        "ANALYZE TABLE statsdb.nation_stats COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    stats_row = spark.sql(
        "DESCRIBE TABLE EXTENDED statsdb.nation_stats"
    ).where("col_name = 'Statistics'").collect()
    assert stats_row and "rows" in stats_row[0]["data_type"]

    cust = t(spark, sf_dir, "customer")
    joined = cust.join(
        spark.table("statsdb.nation_stats"),
        cust["c_nationkey"] == F.col("n_nationkey"),
    )
    joined.collect()  # AQE finalizes the physical plan on execution
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    spark.sql("DROP TABLE statsdb.nation_stats")


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_split_skew_join_equals_plain_join(spark):
    from covid_data_pipeline_spark.operators.scale import split_skew_join

    # one mega-hot key (80% of probe rows), many cold keys, NULLs too
    left = spark.createDataFrame(
        [(1, f"l{i}") for i in range(400)]
        + [(k, f"c{k}") for k in range(2, 80)]
        + [(None, "n1"), (None, "n2")],
        "k long, lv string",
    )
    right = spark.createDataFrame(
        [(1, "hot-dim"), (2, "d2"), (3, "d3"), (None, "dn"), (999, "unused")],
        "k long, rv string",
    )
    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, on=["k"], how=how).collect()), key=repr
        )
        split = sorted(
            map(
                tuple,
                split_skew_join(
                    left, right, on=["k"], num_salts=8, how=how
                ).collect(),
            ),
            key=repr,
        )
        assert split == plain, how
    # partitioning invariance of the salted half
    a = sorted(
        map(tuple, split_skew_join(left.repartition(1), right, ["k"]).collect()),
        key=repr,
    )
    b = sorted(
        map(tuple, split_skew_join(left.repartition(13), right, ["k"]).collect()),
        key=repr,
    )
    assert a == b


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_split_skew_join_replicates_only_hot_build_rows(spark):
    from covid_data_pipeline_spark.operators.scale import split_skew_join

    left = spark.createDataFrame(
        [(1, i) for i in range(1000)] + [(k, 0) for k in range(2, 50)],
        "k long, lv long",
    )
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 50)], "k long, rv long"
    )
    out = split_skew_join(left, right, on=["k"], num_salts=8)
    assert out.count() == 1000 + 48
    # the join result for the hot key is NOT multiplied by the salts
    assert out.filter(F.col("k") == 1).count() == 1000


def test_split_skew_join_rejects_reserved_columns(spark):
    import pytest

    from covid_data_pipeline_spark.operators.scale import split_skew_join

    left = spark.createDataFrame([(1, 0)], "k long, __hot long")
    right = spark.createDataFrame([(1, 2)], "k long, rv long")
    with pytest.raises(ValueError, match="__hot"):
        split_skew_join(left, right, on=["k"])


def test_rendezvous_preserves_duplicates_and_map_columns(spark):
    """rendezvous_assign is a pure projection: duplicate input rows must
    pass through (the old groupBy(*all-cols) formulation collapsed them)
    and non-groupable column types like map must not break it."""
    from covid_data_pipeline_spark.operators.scale import rendezvous_assign

    df = spark.createDataFrame(
        [(1, {"a": 1}), (1, {"a": 1}), (2, {"b": 2})],
        "k long, props map<string,int>",
    )
    out = rendezvous_assign(df, "k", 4).collect()
    assert len(out) == 3  # duplicates preserved
    by_k: dict[int, set] = {}
    for r in out:
        by_k.setdefault(r["k"], set()).add(r["shard"])
    assert all(len(v) == 1 for v in by_k.values())  # deterministic per id


def test_rendezvous_minimal_migration_and_balance(spark):
    """Growing 8->9 shards moves ONLY rows captured by the new shard
    (every mover lands on shard 8; each old shard loses ~1/9), and the
    assignment is deterministic."""
    from pyspark.sql import functions as F

    from covid_data_pipeline_spark.operators.scale import rendezvous_assign

    ids = spark.range(9000).select(F.col("id").alias("k"))
    a8 = rendezvous_assign(ids, "k", 8, out_col="s8")
    a9 = rendezvous_assign(ids, "k", 9, out_col="s9")
    j = a8.join(a9, "k").collect()
    moved = [(r["s8"], r["s9"]) for r in j if r["s8"] != r["s9"]]
    assert moved and all(s9 == 8 for _, s9 in moved)
    frac = len(moved) / len(j)
    assert 0.07 < frac < 0.16  # ~1/9 expected
    # balance: no shard holds more than 2x the fair share
    from collections import Counter

    c9 = Counter(r["s9"] for r in j)
    assert len(c9) == 9 and max(c9.values()) < 2 * 1000
    # determinism
    again = {
        r["k"]: r["s9"]
        for r in rendezvous_assign(
            ids.repartition(7), "k", 9, out_col="s9"
        ).collect()
    }
    assert all(again[r["k"]] == r["s9"] for r in j)
