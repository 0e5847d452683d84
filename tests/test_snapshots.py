"""SnapshotWarehouse: time travel, partition overwrite isolation,
rollback, snapshot expiry."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse


@pytest.fixture
def sw(spark, tmp_path):
    return SnapshotWarehouse(spark, str(tmp_path / "snapwh"))


def _day(spark, day, values):
    return spark.createDataFrame(
        [(day, k, v) for k, v in values], "d string, k string, v long"
    )


def test_append_creates_versions_and_time_travel(spark, sw):
    v1 = sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    v2 = sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])
    assert (v1, v2) == (1, 2)
    assert sw.read("ods.t").count() == 2
    assert sw.read("ods.t", version=1).count() == 1
    assert {r["d"] for r in sw.read("ods.t", version=1).collect()} == {"d1"}


def test_overwrite_partitions_isolates_history(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])
    # Re-state day d2 (the idempotent re-run) — d1 untouched.
    sw.overwrite_partitions(_day(spark, "d2", [("b", 99), ("c", 100)]), "ods.t", ["d"])
    cur = {(r["d"], r["k"]): r["v"] for r in sw.read("ods.t").collect()}
    assert cur == {("d1", "a"): 1, ("d2", "b"): 99, ("d2", "c"): 100}
    # Time travel still sees the pre-overwrite day.
    old = {(r["d"], r["k"]): r["v"] for r in sw.read("ods.t", version=2).collect()}
    assert old == {("d1", "a"): 1, ("d2", "b"): 2}


def test_replace_and_rollback(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "dim.t")
    sw.replace(_day(spark, "d1", [("a", 42)]), "dim.t")
    assert [r["v"] for r in sw.read("dim.t").collect()] == [42]
    v = sw.rollback("dim.t", 1)
    assert v == 3  # rollback is a NEW version
    assert [r["v"] for r in sw.read("dim.t").collect()] == [1]
    assert [r["v"] for r in sw.read("dim.t", version=2).collect()] == [42]


def test_partition_pruning_survives_snapshot_read(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])
    df = sw.read("ods.t").filter(F.col("d") == "d2")
    assert [r["k"] for r in df.collect()] == ["b"]


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_pipeline_runs_on_snapshot_backend(spark, tmp_path):
    """The covid medallion pipeline runs unchanged on SnapshotWarehouse;
    the mart and the alerts match the plain-Warehouse run, and a re-run
    of the final day creates a new mart snapshot whose predecessor is
    still readable and appends no alert row."""
    from covid_data_pipeline_spark.plans import schemas as S
    from covid_data_pipeline_spark.plans.runner import bootstrap_population, run_day
    from covid_data_pipeline_spark.sources.writers import Warehouse
    from tests.covid_fixtures import DAYS, population_df, write_day_csvs

    csv_dir = tmp_path / "csvs"
    csv_dir.mkdir()
    paths = write_day_csvs(str(csv_dir))

    wh_p = Warehouse(spark, str(tmp_path / "wh_plain"))
    wh_s = SnapshotWarehouse(spark, str(tmp_path / "wh_snap"))
    for wh in (wh_p, wh_s):
        bootstrap_population(spark, wh, population_df(spark))
        for day in DAYS:
            run_day(spark, wh, day, csv_path=paths[day])

    cols = ["report_date", "country_name", "new_cases_today", "cases_per_100k"]
    got = sorted(map(tuple, wh_s.read(S.MART_TABLE).select(*cols).collect()))
    want = sorted(map(tuple, wh_p.read(S.MART_TABLE).select(*cols).collect()))
    assert got == want and len(want) > 0
    acols = ["alert_date", "country", "alert_type"]
    alerts = sorted(map(tuple, wh_s.read(S.ALERTS_TABLE).select(*acols).collect()))
    want_alerts = sorted(map(tuple, wh_p.read(S.ALERTS_TABLE).select(*acols).collect()))
    assert alerts == want_alerts and len(want_alerts) > 0

    # Idempotent re-run of the last day → same current rows, new version,
    # previous snapshot still readable (time travel across the re-run).
    v_before = wh_s.current_version(S.MART_TABLE)
    rerun = run_day(spark, wh_s, DAYS[-1], csv_path=None)
    assert wh_s.current_version(S.MART_TABLE) > v_before
    assert rerun.new_alerts == 0
    assert wh_s.read(S.ALERTS_TABLE).count() == len(alerts)
    again = sorted(map(tuple, wh_s.read(S.MART_TABLE).select(*cols).collect()))
    assert again == want
    old = sorted(
        map(tuple, wh_s.read(S.MART_TABLE, version=v_before).select(*cols).collect())
    )
    assert old == want


def test_expire_snapshots_removes_dead_files(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.overwrite_partitions(_day(spark, "d1", [("a", 2)]), "ods.t", ["d"])
    sw.overwrite_partitions(_day(spark, "d1", [("a", 3)]), "ods.t", ["d"])
    deleted = sw.expire_snapshots("ods.t", keep_last=1)
    assert deleted >= 2  # v1+v2's superseded files gone
    assert sw.versions("ods.t") == [3]
    assert [r["v"] for r in sw.read("ods.t").collect()] == [3]


# -- change data feed -------------------------------------------------------


def _cdf(sw, v_from, v_to, keys=("d", "k")):
    rows = sw.changes("ods.t", v_from, v_to, list(keys)).collect()
    return {(r["d"], r["k"], r["_change_type"]): r["v"] for r in rows}


def test_changes_append_is_pure_inserts(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("b", 2), ("c", 3)]), "ods.t", ["d"])
    assert _cdf(sw, 1, 2) == {
        ("d2", "b", "insert"): 2,
        ("d2", "c", "insert"): 3,
    }


def test_changes_overwrite_classifies_and_suppresses_unchanged(spark, sw):
    sw.append(
        _day(spark, "d1", [("a", 1)]), "ods.t", ["d"]
    )
    sw.append(
        _day(spark, "d2", [("keep", 7), ("mod", 8), ("gone", 9)]), "ods.t", ["d"]
    )
    # restate d2: keep unchanged, modify one, drop one, add one
    sw.overwrite_partitions(
        _day(spark, "d2", [("keep", 7), ("mod", 80), ("newk", 10)]),
        "ods.t",
        ["d"],
    )
    got = _cdf(sw, 2, 3)
    assert got == {
        ("d2", "mod", "update_preimage"): 8,
        ("d2", "mod", "update_postimage"): 80,
        ("d2", "gone", "delete"): 9,
        ("d2", "newk", "insert"): 10,
    }
    # untouched partition d1 appears nowhere — and was never even read:
    added, removed = sw.changed_files("ods.t", 2, 3)
    assert all("d=d2" in f for f in added + removed)


def test_changes_replace_still_suppresses_identical_rows(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1), ("b", 2)]), "ods.t", ["d"])
    # full rewrite re-emitting row a unchanged — new files, same bytes
    sw.replace(_day(spark, "d1", [("a", 1), ("b", 20)]), "ods.t", ["d"])
    assert _cdf(sw, 1, 2) == {
        ("d1", "b", "update_preimage"): 2,
        ("d1", "b", "update_postimage"): 20,
    }


def test_changes_reverse_inverts_feed(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])
    assert _cdf(sw, 2, 1) == {("d2", "b", "delete"): 2}


def test_changes_same_version_is_empty_with_schema(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    out = sw.changes("ods.t", 1, 1, ["d", "k"])
    assert out.count() == 0
    assert out.columns == ["d", "k", "v", "_change_type"]


def test_changes_audits_rollback(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.overwrite_partitions(_day(spark, "d1", [("a", 99)]), "ods.t", ["d"])
    v3 = sw.rollback("ods.t", 1)
    assert _cdf(sw, 2, v3) == {
        ("d1", "a", "update_preimage"): 99,
        ("d1", "a", "update_postimage"): 1,
    }


# -- incremental read + purge ----------------------------------------------


def test_read_incremental_appends_only_new_files(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])
    sw.append(_day(spark, "d3", [("c", 3)]), "ods.t", ["d"])
    inc = sw.read_incremental("ods.t", since_version=1)
    assert {(r["d"], r["k"]) for r in inc.collect()} == {("d2", "b"), ("d3", "c")}
    assert sw.read_incremental("ods.t", since_version=3).count() == 0


def test_purge_keys_rewrites_only_hit_files(spark, sw):
    sw.append(_day(spark, "d1", [("u1", 1), ("u2", 2)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("u3", 3)]), "ods.t", ["d"])
    sw.append(_day(spark, "d3", [("u1", 4)]), "ods.t", ["d"])
    v_before = sw.current_version("ods.t")
    keys = spark.createDataFrame([("u1",)], "k string")
    got = sw.purge_keys(keys, ["ods.t"], ["k"], partition_by={"ods.t": ["d"]})
    assert got == {"ods.t": 2}
    cur = {(r["d"], r["k"]) for r in sw.read("ods.t").collect()}
    assert cur == {("d1", "u2"), ("d2", "u3")}
    # the hit-free d2 file was NOT rewritten: its manifest entry is
    # byte-identical across the purge commit
    before = set(sw._manifest("ods.t", v_before)["files"])
    after = set(sw._manifest("ods.t", v_before + 1)["files"])
    d2 = {f for f in before if "d=d2" in f}
    assert d2 and d2 <= after
    # old snapshot still has u1 (erasure completes via expire_snapshots)
    old = {(r["d"], r["k"]) for r in sw.read("ods.t", version=v_before).collect()}
    assert ("d1", "u1") in old
    sw.expire_snapshots("ods.t", keep_last=1)
    assert sw.versions("ods.t") == [v_before + 1]


def test_purge_keys_no_hits_no_new_version(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    keys = spark.createDataFrame([("zz",)], "k string")
    assert sw.purge_keys(keys, ["ods.t"], ["k"]) == {"ods.t": 0}
    assert sw.current_version("ods.t") == 1


def test_changes_detects_null_column_swap(spark, sw):
    # xxhash64 skips null children: (x, NULL) vs (NULL, x) must STILL
    # register as an update (position-tagged per-column fingerprint)
    df1 = spark.createDataFrame(
        [("d1", "a", "x", None)], "d string, k string, phone string, fax string"
    )
    df2 = spark.createDataFrame(
        [("d1", "a", None, "x")], "d string, k string, phone string, fax string"
    )
    sw.append(df1, "ods.t", ["d"])
    sw.overwrite_partitions(df2, "ods.t", ["d"])
    got = {
        r["_change_type"]: (r["phone"], r["fax"])
        for r in sw.changes("ods.t", 1, 2, ["d", "k"]).collect()
    }
    assert got == {
        "update_preimage": ("x", None),
        "update_postimage": (None, "x"),
    }


def test_changes_null_key_unchanged_row_suppressed(spark, sw):
    df1 = spark.createDataFrame(
        [("d1", None, 1), ("d1", "b", 2)], "d string, k string, v long"
    )
    df2 = spark.createDataFrame(
        [("d1", None, 1), ("d1", "b", 20)], "d string, k string, v long"
    )
    sw.append(df1, "ods.t", ["d"])
    sw.overwrite_partitions(df2, "ods.t", ["d"])
    got = {
        (r["k"], r["_change_type"]): r["v"]
        for r in sw.changes("ods.t", 1, 2, ["d", "k"]).collect()
    }
    # the NULL-keyed row was re-emitted byte-equal: suppressed
    assert got == {
        ("b", "update_preimage"): 2,
        ("b", "update_postimage"): 20,
    }


def test_purge_keys_uri_encoded_partition_value(spark, sw):
    # partition value with a space: _metadata.file_path percent-encodes
    # it; the manifest stores the raw path — purge must still line up
    df = spark.createDataFrame(
        [("new york", "u1", 1), ("new york", "u2", 2)],
        "d string, k string, v long",
    )
    sw.append(df, "ods.t", ["d"])
    got = sw.purge_keys(
        spark.createDataFrame([("u1",)], "k string"),
        ["ods.t"],
        ["k"],
        partition_by={"ods.t": ["d"]},
    )
    assert got == {"ods.t": 1}
    cur = {(r["d"], r["k"]) for r in sw.read("ods.t").collect()}
    assert cur == {("new york", "u2")}


def test_purge_keys_skips_unwritten_table(spark, sw):
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    keys = spark.createDataFrame([("a",)], "k string")
    got = sw.purge_keys(keys, ["ods.never_written", "ods.t"], ["k"])
    assert got == {"ods.never_written": 0, "ods.t": 1}


# -- compaction + orphan cleanup -------------------------------------------


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_snapshot_compact_preserves_rows_and_history(spark, sw):
    import glob
    import os

    for i in range(6):
        sw.append(_day(spark, f"d{i}", [("a", i)]), "ods.t", ["d"])
    rows_before = sorted(
        map(tuple, sw.read("ods.t").select("d", "k", "v").collect())
    )
    files_before = len(sw._alive_files("ods.t"))
    v = sw.compact("ods.t", partition_by=["d"])
    assert sw.current_version("ods.t") == v
    rows_after = sorted(
        map(tuple, sw.read("ods.t").select("d", "k", "v").collect())
    )
    assert rows_after == rows_before
    # one batch dir now backs the table (≤ one file per partition)
    assert len(sw._alive_files("ods.t")) <= files_before
    batches = {f.split(os.sep, 1)[0] for f in sw._alive_files("ods.t")}
    assert len(batches) == 1
    # time travel to a pre-compaction snapshot still works
    assert sw.read("ods.t", version=3).count() == 3
    # target_file_rows caps rows per file
    sw.compact("ods.t", target_file_rows=2)
    import pyarrow.parquet as pq

    data_dir = sw._data_dir("ods.t")
    for f in sw._alive_files("ods.t"):
        assert pq.read_metadata(os.path.join(data_dir, f)).num_rows <= 2


def test_remove_orphan_files_only_touches_unreferenced(spark, sw):
    import os

    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    # plant an orphan batch: written bytes whose manifest never landed
    orphan_dir = os.path.join(sw._data_dir("ods.t"), "batch-orphan", "d=dX")
    os.makedirs(orphan_dir)
    _day(spark, "dX", [("z", 9)]).write.mode("overwrite").parquet(
        os.path.join(orphan_dir, "__tmp")
    )
    import glob
    import shutil

    for i, f in enumerate(glob.glob(os.path.join(orphan_dir, "__tmp", "*.parquet"))):
        shutil.move(f, os.path.join(orphan_dir, f"part-{i:05d}.parquet"))
    shutil.rmtree(os.path.join(orphan_dir, "__tmp"))
    assert sw.remove_orphan_files("ods.t") >= 1
    assert not os.path.isdir(os.path.join(sw._data_dir("ods.t"), "batch-orphan"))
    # referenced data untouched, reads still fine
    assert sw.read("ods.t").count() == 1
    assert sw.remove_orphan_files("ods.t") == 0


def test_compact_default_preserves_partition_layout(spark, sw):
    # regression: compact(None) must NOT flatten hive layout, or a later
    # overwrite_partitions would keep the flattened file (partition
    # tuple ()) and duplicate the restated rows
    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])
    sw.compact("ods.t")  # no partition_by: inferred from file paths
    assert all("d=" in f for f in sw._alive_files("ods.t"))
    sw.overwrite_partitions(_day(spark, "d1", [("a", 99)]), "ods.t", ["d"])
    cur = {(r["d"], r["k"]): r["v"] for r in sw.read("ods.t").collect()}
    assert cur == {("d1", "a"): 99, ("d2", "b"): 2}


def test_remove_orphans_cleans_crashed_spark_batch(spark, sw, tmp_path):
    import os
    import shutil

    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    # simulate a REAL crashed batch: full Spark write (with _SUCCESS and
    # .crc markers) whose manifest never landed
    staged = str(tmp_path / "staged")
    _day(spark, "dX", [("z", 9)]).write.partitionBy("d").parquet(staged)
    shutil.copytree(
        staged, os.path.join(sw._data_dir("ods.t"), "batch-crashed")
    )
    assert os.path.exists(
        os.path.join(sw._data_dir("ods.t"), "batch-crashed", "_SUCCESS")
    )
    assert sw.remove_orphan_files("ods.t") >= 1
    assert not os.path.isdir(
        os.path.join(sw._data_dir("ods.t"), "batch-crashed")
    )
    assert sw.read("ods.t").count() == 1


def test_read_pruned_skips_disjoint_files(spark, sw):
    # four appends with disjoint id ranges -> four files with disjoint
    # footer envelopes
    for base in (0, 1000, 2000, 3000):
        df = spark.range(base, base + 1000).select(
            F.col("id"), (F.col("id") * 2).alias("val")
        )
        sw.append(df.coalesce(1), "t")

    kept, total = sw.prune_files("t", "id", lo=2100, hi=2300)
    assert total == 4 and len(kept) == 1

    pruned = sw.read_pruned("t", "id", lo=2100, hi=2300)
    full = sw.read("t").filter((F.col("id") >= 2100) & (F.col("id") <= 2300))
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )

    # half-open ranges
    kept_lo, _ = sw.prune_files("t", "id", lo=3500)
    assert len(kept_lo) == 1
    assert sw.read_pruned("t", "id", lo=3500).count() == 500
    kept_hi, _ = sw.prune_files("t", "id", hi=999)
    assert len(kept_hi) == 1

    # no matching range: zero files, empty result with the schema
    kept_none, _ = sw.prune_files("t", "id", lo=10_000)
    assert kept_none == []
    empty = sw.read_pruned("t", "id", lo=10_000)
    assert empty.count() == 0 and set(empty.columns) == {"id", "val"}


def test_read_pruned_unclustered_keeps_all_and_matches(spark, sw):
    # round-robin ids: every file's envelope spans the whole domain, so
    # pruning keeps everything and the result still matches a full scan
    for r in range(3):
        df = spark.range(1000).select(
            (F.col("id") * 3 + r).alias("id"),
            (F.col("id") % 7).alias("val"),
        )
        sw.append(df.coalesce(1), "u")
    kept, total = sw.prune_files("u", "id", lo=100, hi=200)
    assert len(kept) == total == 3
    pruned = sw.read_pruned("u", "id", lo=100, hi=200)
    full = sw.read("u").filter(F.col("id").between(100, 200))
    assert pruned.count() == full.count() > 0


def test_read_pruned_keeps_all_null_stat_files(spark, sw):
    # a file whose pruned column is entirely NULL has no min/max stats
    # and must be kept (then filtered row-wise), never skipped
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    b = spark.createDataFrame(
        [(None, 30.0), (None, 40.0)], "id bigint, v double"
    )
    sw.append(a.coalesce(1), "n")
    sw.append(b.coalesce(1), "n")
    kept, total = sw.prune_files("n", "id", lo=0, hi=100)
    assert total == 2 and len(kept) == 2
    assert sw.read_pruned("n", "id", lo=0, hi=100).count() == 2


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_read_pruned_after_compact_sorted(spark, sw):
    # compaction rewrites scattered appends; a sorted rewrite restores
    # data skipping on the clustered column
    import random

    rng = random.Random(3)
    ids = list(range(4000))
    rng.shuffle(ids)
    for chunk in range(4):
        rows = [(i,) for i in ids[chunk * 1000 : (chunk + 1) * 1000]]
        sw.append(
            spark.createDataFrame(rows, "id bigint").coalesce(1), "c"
        )
    kept_before, total_before = sw.prune_files("c", "id", lo=100, hi=150)
    assert len(kept_before) == total_before == 4  # no skipping possible
    sw.compact("c", target_file_rows=1000, sort_by=["id"])
    kept_after, total_after = sw.prune_files("c", "id", lo=100, hi=150)
    assert total_after >= 4 and len(kept_after) == 1
    assert sw.read_pruned("c", "id", lo=100, hi=150).count() == 51


def test_schema_evolution_append_adds_column(spark, sw):
    # Iceberg-style additive evolution: an append with a NEW column
    # must not rewrite old batches; readers see NULLs for old rows
    v1 = spark.createDataFrame([(1, "a")], "id bigint, x string")
    sw.append(v1.coalesce(1), "evo")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, x string, score double"
    )
    sw.append(v2.coalesce(1), "evo")
    out = {r["id"]: (r["x"], r["score"]) for r in sw.read("evo").collect()}
    assert out == {1: ("a", None), 2: ("b", 9.5)}
    # time travel still reads the OLD schema for the old snapshot
    assert "score" not in sw.read("evo", version=1).columns


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_delete_where_rewrites_only_hit_files(spark, sw):
    for base, part in ((0, "x"), (1000, "y"), (2000, "z")):
        df = spark.range(base, base + 100).select(
            F.col("id"), F.lit(part).alias("part"), (F.col("id") % 7).alias("v")
        )
        sw.append(df.coalesce(1), "d", partition_by=["part"])
    v_before = sw.current_version("d")
    files_before = set(sw._alive_files("d"))

    n = sw.delete_where("d", (F.col("id") >= 1010) & (F.col("id") < 1020))
    assert n == 10
    assert sw.read("d").count() == 290
    # only the y-partition file was rewritten
    files_after = set(sw._alive_files("d"))
    untouched = files_before & files_after
    assert len(untouched) == 2
    assert all("part=x" in f or "part=z" in f for f in untouched)
    # layout preserved: rewritten rows still live under part=y
    assert any("part=y" in f for f in files_after - files_before)
    # time travel still shows pre-delete state
    assert sw.read("d", version=v_before).count() == 300

    # NULL-predicate rows survive (SQL DELETE semantics)
    sw.append(
        spark.createDataFrame(
            [(9000, None, 1)], "id bigint, part string, v bigint"
        ).coalesce(1),
        "d",
    )
    n2 = sw.delete_where("d", F.col("part") == "never")  # NULL -> not deleted
    assert n2 == 0
    assert sw.current_version("d") == v_before + 2  # no-hit: no new version
    assert sw.read("d").count() == 291


def test_update_where_copy_on_write(spark, sw):
    for base in (0, 1000):
        df = spark.range(base, base + 100).select(
            F.col("id"), (F.col("id") % 5).cast("double").alias("score")
        )
        sw.append(df.coalesce(1), "u")
    v0 = sw.current_version("u")
    n = sw.update_where(
        "u",
        F.col("id") < 50,
        {"score": F.col("score") * 10 + 1},
    )
    assert n == 50
    got = {r["id"]: r["score"] for r in sw.read("u").collect()}
    assert got[3] == (3 % 5) * 10 + 1
    assert got[60] == 60 % 5          # unmatched row in rewritten file intact
    assert got[1001] == 1001 % 5      # untouched file intact
    assert len(got) == 200
    # only the first file rewritten
    assert sw._manifest("u", v0 + 1)["op"] == "update"
    # unknown SET column rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        sw.update_where("u", F.col("id") < 5, {"nope": 1})
    # literal (non-Column) SET value works
    assert sw.update_where("u", F.col("id") == 1050, {"score": 0.5}) == 1
    assert {r["score"] for r in sw.read("u").where("id = 1050").collect()} == {0.5}


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_merge_into_upsert(spark, sw):
    for base, part in ((0, "x"), (100, "y")):
        df = spark.createDataFrame(
            [(base + i, part, float(i)) for i in range(10)],
            "id bigint, part string, score double",
        )
        sw.append(df.coalesce(1), "m", partition_by=["part"])
    v0 = sw.current_version("m")
    files0 = set(sw._alive_files("m"))

    src = spark.createDataFrame(
        [
            (102, "y", 99.0),   # matched: update
            (105, "y", 88.0),   # matched: update
            (500, "z", 1.0),    # not matched: insert (new partition)
        ],
        "id bigint, part string, score double",
    )
    out = sw.merge_into("m", src, on=["id"])
    assert out == {"updated": 2, "inserted": 1}
    got = {r["id"]: (r["part"], r["score"]) for r in sw.read("m").collect()}
    assert len(got) == 21
    assert got[102] == ("y", 99.0) and got[105] == ("y", 88.0)
    assert got[500] == ("z", 1.0)
    assert got[3] == ("x", 3.0) and got[101] == ("y", 1.0)  # untouched
    # only the y file was rewritten: x file survives in the manifest
    survivors = files0 & set(sw._alive_files("m"))
    assert survivors and all("part=x" in f for f in survivors)
    # time travel to pre-merge
    assert sw.read("m", version=v0).count() == 20

    # all-insert merge (no matches): pure append of the source
    out2 = sw.merge_into(
        "m",
        spark.createDataFrame([(900, "x", 0.0)], "id bigint, part string, score double"),
        on=["id"],
    )
    assert out2 == {"updated": 0, "inserted": 1}
    assert sw.read("m").count() == 22

    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate keys"):
        sw.merge_into(
            "m",
            spark.createDataFrame(
                [(1, "x", 1.0), (1, "x", 2.0)],
                "id bigint, part string, score double",
            ),
            on=["id"],
        )
    with _pytest.raises(ValueError, match="must equal target columns"):
        sw.merge_into(
            "m",
            spark.createDataFrame([(1, "x")], "id bigint, part string"),
            on=["id"],
        )


@pytest.mark.slow  # over 3 s at 4 CPUs
def test_zorder_compaction_prunes_both_dims(spark, sw):
    # scattered appends over a 2-D domain: neither dimension skippable
    import random

    rng = random.Random(9)
    pts = [(i, rng.randrange(256), rng.randrange(256)) for i in range(8000)]
    for c in range(4):
        sw.append(
            spark.createDataFrame(
                pts[c * 2000 : (c + 1) * 2000], "id bigint, x long, y long"
            ).coalesce(1),
            "z",
        )
    kept_x, total = sw.prune_files("z", "x", lo=10, hi=40)
    assert len(kept_x) == total == 4

    sw.compact("z", zorder_by=["x", "y"], zorder_bits=8, target_file_rows=500)
    kept_x2, total2 = sw.prune_files("z", "x", lo=10, hi=40)
    kept_y2, _ = sw.prune_files("z", "y", lo=10, hi=40)
    assert total2 >= 8
    # BOTH dimensions now skip a majority of files — the z-order claim
    assert len(kept_x2) <= total2 // 2
    assert len(kept_y2) <= total2 // 2
    # equality with a full-scan filter on each dimension
    for col in ("x", "y"):
        pruned = sw.read_pruned("z", col, lo=10, hi=40)
        full = sw.read("z").filter(F.col(col).between(10, 40))
        assert pruned.count() == full.count() > 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        sw.compact("z", sort_by=["x"], zorder_by=["x", "y"])
    with _pytest.raises(ValueError, match="exactly two"):
        sw.compact("z", zorder_by=["x"])


def test_merge_into_updates_duplicate_target_rows(spark, sw):
    # append never enforces key uniqueness: two target rows share key 7
    sw.append(
        spark.createDataFrame(
            [(7, "x", 1.0), (7, "x", 2.0), (8, "x", 3.0)],
            "id bigint, part string, score double",
        ).coalesce(1),
        "dup",
    )
    out = sw.merge_into(
        "dup",
        spark.createDataFrame(
            [(7, "x", 9.0)], "id bigint, part string, score double"
        ),
        on=["id"],
    )
    # Delta parity: every matched target row is updated; cardinality kept
    assert out == {"updated": 2, "inserted": 0}
    rows = sorted(
        (r["id"], r["score"]) for r in sw.read("dup").collect()
    )
    assert rows == [(7, 9.0), (7, 9.0), (8, 3.0)]


def test_optimistic_commit_detects_lost_update(spark, sw):
    """Two writers that both read v1 and append: the second commit must
    fail with CommitConflictError instead of silently dropping the
    first writer's files (classic lost update)."""
    from covid_data_pipeline_spark.sources.snapshots import (
        CommitConflictError,
    )

    sw.append(spark.range(5).coalesce(1), "cc")
    base = sw.current_version("cc")
    prev = list(sw._manifest("cc", base)["files"])

    # writer A lands normally
    sw.append(spark.range(5, 10).coalesce(1), "cc")

    # writer B prepared against the OLD base: stale-base commit refused
    files_b = sw._write_batch(spark.range(10, 15).coalesce(1), "cc", None)
    import pytest as _pytest

    with _pytest.raises(CommitConflictError, match="re-read and retry"):
        sw._commit("cc", prev + files_b, "append", expected_base=base)
    # nothing was lost or half-committed
    assert sw.read("cc").count() == 10
    assert sw.current_version("cc") == base + 1

    # retry after re-reading state succeeds and keeps everyone's rows
    base2 = sw.current_version("cc")
    prev2 = list(sw._manifest("cc", base2)["files"])
    sw._commit("cc", prev2 + files_b, "append", expected_base=base2)
    assert sw.read("cc").count() == 15

    # version-claim race: a manifest squatting on the next version number
    # forces a conflict even without an expected_base check
    import json as _json
    import os as _os

    nxt = sw.current_version("cc") + 1
    with open(
        _os.path.join(sw._snap_dir("cc"), f"v{nxt}.json"), "w"
    ) as f:
        _json.dump({"version": nxt, "op": "append", "files": []}, f)
    with _pytest.raises(CommitConflictError, match="already claimed"):
        sw.append(spark.range(1).coalesce(1), "cc")


def test_dml_conflicts_with_concurrent_append(spark, sw):
    """delete_where racing a concurrent append must raise
    CommitConflictError, not silently drop the appended rows from the
    new manifest (the round-2 advisor's reproduced lost-update)."""
    from covid_data_pipeline_spark.sources.snapshots import (
        CommitConflictError,
    )

    sw.append(spark.range(10).coalesce(1), "race")

    orig = sw._write_batch
    raced = {"done": False}

    def racing(df, table, partition_by, **kw):
        files = orig(df, table, partition_by, **kw)
        if not raced["done"]:
            # another writer lands an append INSIDE delete_where's
            # read-state → commit window
            raced["done"] = True
            sw.append(spark.range(100, 105).coalesce(1), "race")
        return files

    sw._write_batch = racing
    try:
        with pytest.raises(CommitConflictError, match="re-read and retry"):
            sw.delete_where("race", F.col("id") < 3)
    finally:
        sw._write_batch = orig
    # the concurrent append's rows survived; the delete did NOT land
    ids = {r["id"] for r in sw.read("race").collect()}
    assert ids == set(range(10)) | set(range(100, 105))
    # the retry (no race this time) applies cleanly
    assert sw.delete_where("race", F.col("id") < 3) == 3
    ids = {r["id"] for r in sw.read("race").collect()}
    assert ids == set(range(3, 10)) | set(range(100, 105))


def test_orphan_manifest_adopted_not_wedged(spark, sw):
    """A writer crashing between the manifest claim and the _current
    update leaves v{N}.json with _current == N-1. Every later commit
    recomputes N — the old behavior conflicted forever. The claim
    handler now adopts the orphan (rolls _current forward) so exactly
    one conflict is surfaced and the retry proceeds."""
    import json as _json
    import os as _os

    from covid_data_pipeline_spark.sources.snapshots import (
        CommitConflictError,
    )

    sw.append(spark.range(3).coalesce(1), "orph")
    # simulate the crash: complete v2 manifest, _current still 1
    m1 = sw._manifest("orph", 1)
    with open(_os.path.join(sw._snap_dir("orph"), "v2.json"), "w") as f:
        _json.dump({"version": 2, "op": "append", "files": m1["files"]}, f)
    assert sw.current_version("orph") == 1

    with pytest.raises(CommitConflictError, match="already claimed"):
        sw.append(spark.range(3, 6).coalesce(1), "orph")
    # adopted: _current rolled forward to the orphan
    assert sw.current_version("orph") == 2
    # retry succeeds instead of recomputing v2 forever
    sw.append(spark.range(3, 6).coalesce(1), "orph")
    assert sw.current_version("orph") == 3
    assert sw.read("orph").count() == 6


def test_intra_process_commit_race_never_tears_manifest(spark, sw):
    """Round-3 advisor (medium): the manifest temp file was keyed only by
    version+pid, so two THREADS in one process racing the same version
    shared a tmp path — one could hard-link the other's half-written
    bytes (torn manifest / silent lost update) and the loser's cleanup
    unlink raised FileNotFoundError. With per-attempt uuid tmp names,
    os.link on the final path is the sole arbiter: exactly one winner
    per version, every loser gets CommitConflictError (never
    FileNotFoundError), and every claimed v{N}.json is complete JSON
    with the winner's exact file list."""
    import json as _json
    import os as _os
    import threading

    from covid_data_pipeline_spark.sources.snapshots import (
        CommitConflictError,
    )

    sw.append(spark.range(1).coalesce(1), "trace")
    n_threads, rounds = 8, 5
    barrier = threading.Barrier(n_threads)
    errors: list[BaseException] = []
    wins: list[tuple[int, int, str]] = []  # (thread, version, marker-file)

    def worker(tid: int) -> None:
        try:
            for r in range(rounds):
                barrier.wait()
                marker = f"t{tid}-r{r}.parquet"
                try:
                    # all threads compute the SAME next version (the
                    # pre-fix collision window), each with a distinct
                    # file list so a torn/cross-linked manifest is
                    # detectable below
                    v = sw._commit("trace", [marker], op="append")
                    wins.append((tid, v, marker))
                except CommitConflictError:
                    pass
        except BaseException as e:  # noqa: BLE001 — surface to main thread
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors  # no FileNotFoundError from shared-tmp unlink
    # exactly one winner per claimed version
    versions = [v for _, v, _ in wins]
    assert len(versions) == len(set(versions))
    # every manifest on disk is complete JSON carrying its winner's list
    by_version = {v: marker for _, v, marker in wins}
    snap_dir = sw._snap_dir("trace")
    for fname in _os.listdir(snap_dir):
        if not (fname.startswith("v") and fname.endswith(".json")):
            continue
        with open(_os.path.join(snap_dir, fname)) as f:
            m = _json.load(f)  # raises on torn/partial JSON
        if m["version"] in by_version:
            assert m["files"] == [by_version[m["version"]]], (
                f"v{m['version']} carries another thread's file list"
            )
    # no leaked tmp files; _current monotone at the max claimed version
    assert not [f for f in _os.listdir(snap_dir) if f.endswith(".tmp")]
    assert sw.current_version("trace") == max(versions)


def test_advance_current_never_lags_under_thread_race(tmp_path):
    """16 threads (more than the cores) advance one _current to versions
    1..16 at once, with a short switch interval so their read-compare-
    replace steps interleave: _current must end at 16 every time. An
    advancer that replaces after a newer one returned would leave it
    behind (without the lock, 148 of 200 such trials lagged)."""
    import sys
    import threading

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for trial in range(30):
            snap_dir = tmp_path / str(trial)
            snap_dir.mkdir()
            barrier = threading.Barrier(16)

            def advance(v: int) -> None:
                barrier.wait()
                SnapshotWarehouse._advance_current(str(snap_dir), v)

            threads = [
                threading.Thread(target=advance, args=(v,)) for v in range(1, 17)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
            assert (snap_dir / "_current").read_text() == "16"
    finally:
        sys.setswitchinterval(old_interval)


def test_timestamp_as_of_resolution(spark, sw):
    import time as _time

    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    t_after_v1 = _time.time()
    _time.sleep(0.02)
    sw.append(_day(spark, "d2", [("b", 2)]), "ods.t", ["d"])

    # instant between the commits resolves to v1
    assert sw.version_as_of("ods.t", t_after_v1) == 1
    assert sw.read("ods.t", as_of=t_after_v1).count() == 1
    # an instant in the future resolves to the current version
    assert sw.version_as_of("ods.t", _time.time() + 60) == 2
    # datetime input works too
    import datetime as dt

    assert (
        sw.version_as_of("ods.t", dt.datetime.now() + dt.timedelta(60)) == 2
    )
    # an instant before any commit is an error
    with pytest.raises(ValueError, match="no snapshot committed"):
        sw.version_as_of("ods.t", 1.0)
    # version and as_of are mutually exclusive
    with pytest.raises(ValueError, match="not both"):
        sw.read("ods.t", version=1, as_of=t_after_v1)


def test_timestamp_as_of_tolerates_legacy_manifests(spark, sw, tmp_path):
    import json as _json
    import os as _os

    sw.append(_day(spark, "d1", [("a", 1)]), "ods.t", ["d"])
    # strip committed_at, simulating a manifest written before upgrade
    mpath = _os.path.join(sw._snap_dir("ods.t"), "v1.json")
    m = _json.load(open(mpath))
    m.pop("committed_at")
    _json.dump(m, open(mpath, "w"))
    # legacy manifests sort as epoch 0: visible at any instant
    assert sw.version_as_of("ods.t", 1.0) == 1
