"""Source readers and landing ingest: URL landing, format round trips,
warehouse writes and schema records, the featurizer's session conf, and
the synthetic events source's option check."""

from __future__ import annotations

import functools
import os
import pathlib

import pytest

from pyspark.sql import functions as F

from covid_data_pipeline_spark.observe import spark_jobs
from covid_data_pipeline_spark.sources.ingest import land_url, landing_key
from covid_data_pipeline_spark.sources.readers import read_csv
from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse
from covid_data_pipeline_spark.sources.writers import SCHEMA_FILE, Warehouse


def inferred(spark, wh, table_name):
    """The table read the way it was before schema records: footer
    inference, per batch dir on the snapshot backend."""
    if isinstance(wh, Warehouse):
        return spark.read.parquet(wh.path(table_name))
    data = wh._data_dir(table_name)
    batches = {f.split(os.sep, 1)[0] for f in wh._alive_files(table_name)}
    parts = [
        spark.read.option("basePath", os.path.join(data, b)).parquet(os.path.join(data, b))
        for b in sorted(batches)
    ]
    return functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def assert_reads_as_inferred(spark, wh, table_name):
    got, want = wh.read(table_name), inferred(spark, wh, table_name)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_landing_key_layout():
    assert landing_key("2021-03-07") == "year=2021/month=3/2021-03-07.csv"


def test_land_url_then_spark_reads(spark, tmp_path):
    src = tmp_path / "src.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    landed = land_url(
        pathlib.Path(src).as_uri(), str(tmp_path / "landing"), "2021-03-07"
    )
    assert landed.endswith("year=2021/month=3/2021-03-07.csv")
    df = read_csv(spark, landed)
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def test_land_url_missing_source_raises(tmp_path):
    with pytest.raises(Exception):
        land_url(
            (tmp_path / "nope.csv").as_uri(), str(tmp_path / "landing"), "2021-03-07"
        )
    # No partial file left behind.
    assert not (tmp_path / "landing" / "year=2021").exists() or not list(
        (tmp_path / "landing" / "year=2021").rglob("*.csv")
    )


def test_land_url_failed_copy_leaves_nothing_readable(spark, tmp_path, monkeypatch):
    """A copy that dies mid-stream leaves no file a read of the landing
    root picks up, and no temp file behind."""
    import shutil

    def partial_copy(src, dst, length=0):
        dst.write(b"a,b\n2,partial\n")
        raise OSError("connection reset")

    src = tmp_path / "src.csv"
    src.write_text("a,b\n1,x\n")
    landing = tmp_path / "landing"
    land_url(src.as_uri(), str(landing), "2021-03-07")
    with monkeypatch.context() as m, pytest.raises(OSError, match="connection reset"):
        m.setattr(shutil, "copyfileobj", partial_copy)
        land_url(src.as_uri(), str(landing), "2021-03-08")
    rows = read_csv(spark, str(landing)).select("a", "b").collect()
    assert sorted(map(tuple, rows)) == [(1, "x")]
    assert sorted(p.name for p in landing.rglob("*") if p.is_file()) == ["2021-03-07.csv"]


def test_fake_featurize_emits_fixed_dim_vectors(spark):
    """MEDIA_SCHEMA rows → fake featurize: one fixed-dim vector and the
    payload's byte count per row. Building and collecting leave the
    session's Arrow batch size as it was: every later Arrow UDF in the
    session reads it."""
    from covid_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize_images,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        media = spark.createDataFrame(
            [(1, b"payload-one", None), (2, b"payload-two", None)], MEDIA_SCHEMA
        )
        feats = decode_and_featurize_images(media, fake=True).collect()
        assert spark.conf.get(key) == "1000"
    finally:
        spark.conf.set(key, previous)
    assert len(feats) == 2
    assert all(len(f["features"]) == 8 for f in feats)
    assert {f["n_bytes"] for f in feats} == {11}


def test_overwrite_partitions_is_dynamic_under_static_session(spark, tmp_path):
    """The write carries its own dynamic mode: under a session left at
    static it creates a missing table, replaces only the partitions in
    the frame (none for an empty frame), and leaves the session conf as
    it was."""
    from covid_data_pipeline_spark.sources.writers import Warehouse

    key = "spark.sql.sources.partitionOverwriteMode"
    previous = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        wh = Warehouse(spark, str(tmp_path))
        schema = "p int, v string"

        def write(rows):
            wh.overwrite_partitions(spark.createDataFrame(rows, schema), "l.t", ["p"])

        def stored():
            return sorted(map(tuple, wh.read("l.t").select("p", "v").collect()))

        write([(1, "a"), (2, "b")])
        write([(2, "c")])
        assert stored() == [(1, "a"), (2, "c")]
        write([])
        assert stored() == [(1, "a"), (2, "c")]
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, previous)


def test_replace_is_full_under_dynamic_session(spark, tmp_path):
    """The write carries its own static mode: under a session set to
    dynamic, replacing a partitioned table drops every partition absent
    from the new frame, and leaves the session conf as it was."""
    from covid_data_pipeline_spark.sources.writers import Warehouse

    key = "spark.sql.sources.partitionOverwriteMode"
    previous = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        wh = Warehouse(spark, str(tmp_path))
        schema = "p int, v string"
        wh.replace(spark.createDataFrame([(1, "x"), (2, "y")], schema), "l.t", ["p"])
        wh.replace(spark.createDataFrame([(3, "x")], schema), "l.t", ["p"])
        got = sorted(map(tuple, wh.read("l.t").select("p", "v").collect()))
        assert got == [(3, "x")]
        assert spark.conf.get(key) == "dynamic"
    finally:
        spark.conf.set(key, previous)


def test_max_records_per_file_rolls_output_files(spark, tmp_path):
    from covid_data_pipeline_spark.sources.writers import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.max_records_per_file = 100
    wh.replace(spark.range(0, 950).toDF("id").coalesce(1), "l.t")
    files = [
        f for f in pathlib.Path(wh.path("l.t")).rglob("*.parquet")
        if not f.name.startswith(("_", "."))
    ]
    # one task, 950 rows, 100-row cap -> 10 files; without the cap: 1
    assert len(files) == 10
    assert wh.read("l.t").count() == 950


def test_multi_format_round_trip_equivalence(spark, sf_dir, tmp_path):
    """Engine format coverage: the same relation written as parquet,
    ORC, JSON-lines, and CSV reads back value-identical (modulo the
    text formats' need for explicit schemas) — a user can land data in
    any of the four and the operator library sees identical rows."""
    from pyspark.sql import functions as F

    src = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .limit(200)
    )
    want = sorted(map(tuple, src.collect()))
    for fmt, opts in [
        ("parquet", {}),
        ("orc", {}),
        ("json", {}),
        ("csv", {"header": "true"}),
    ]:
        path = str(tmp_path / f"rt_{fmt}")
        src.write.format(fmt).options(**opts).mode("overwrite").save(path)
        back = (
            spark.read.format(fmt)
            .options(**opts)
            .schema(src.schema)  # text formats: no silent re-inference
            .load(path)
        )
        got = sorted(map(tuple, back.collect()))
        assert got == want, f"{fmt} round-trip diverged"


# -- schema records (writers.py: _schema.json) ------------------------------

_BATCH_SCHEMA = "d date, k string, v long, tags array<string>, m map<string,double>"


def _batch(spark, day, n):
    return spark.createDataFrame(
        [(day, f"k{i}", i, [f"t{i}"], {"x": i / 2}) for i in range(n)],
        _BATCH_SCHEMA,
    ).withColumn("d", F.col("d").cast("date"))


@pytest.mark.parametrize("backend", [Warehouse, SnapshotWarehouse])
def test_two_batch_read_runs_no_job_and_equals_inference(spark, tmp_path, backend):
    import datetime as dt

    wh = backend(spark, str(tmp_path / "wh"))
    wh.append(_batch(spark, dt.date(2021, 3, 1), 3), "l.t", partition_by=["d"])
    wh.append(_batch(spark, dt.date(2021, 3, 2), 4), "l.t", partition_by=["d"])
    _, jobs = spark_jobs(spark, lambda: wh.read("l.t"))
    assert jobs == 0
    assert_reads_as_inferred(spark, wh, "l.t")
    assert wh.read("l.t").count() == 7


def test_replace_with_new_schema_reads_new_schema(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.replace(spark.createDataFrame([(1, "a")], "id int, s string"), "l.t")
    wh.replace(spark.createDataFrame([(2.5, 7)], "x double, n long"), "l.t")
    assert wh.read("l.t").columns == ["x", "n"]
    assert [tuple(r) for r in wh.read("l.t").collect()] == [(2.5, 7)]
    _, jobs = spark_jobs(spark, lambda: wh.read("l.t"))
    assert jobs == 0
    assert_reads_as_inferred(spark, wh, "l.t")


def test_append_with_different_schema_drops_record(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.append(spark.createDataFrame([(1, "a")], "id int, s string"), "l.t")
    record = os.path.join(wh.path("l.t"), SCHEMA_FILE)
    assert os.path.exists(record)
    wh.append(spark.createDataFrame([(2, "b")], "id int, s string"), "l.t")
    assert os.path.exists(record)  # same schema: the record stays
    wh.append(spark.createDataFrame([(3, "c", 1.0)], "id int, s string, w double"), "l.t")
    assert not os.path.exists(record)
    assert_reads_as_inferred(spark, wh, "l.t")
    assert wh.read("l.t").count() == 3


def test_table_without_record_still_reads(spark, tmp_path):
    """A table written before schema records reads by inference, and an
    append of the same schema does not record one it cannot vouch for."""
    wh = Warehouse(spark, str(tmp_path))
    spark.createDataFrame([(1, "a")], "id int, s string").write.parquet(wh.path("l.t"))
    assert_reads_as_inferred(spark, wh, "l.t")
    wh.append(spark.createDataFrame([(2, "b")], "id int, s string"), "l.t")
    assert not os.path.exists(os.path.join(wh.path("l.t"), SCHEMA_FILE))
    assert sorted(r["id"] for r in wh.read("l.t").collect()) == [1, 2]


def test_empty_partitioned_write_to_missing_table(spark, tmp_path):
    from pyspark.errors import AnalysisException

    wh = Warehouse(spark, str(tmp_path))
    empty = spark.createDataFrame([], "p int, v string")
    wh.append(empty, "l.t", partition_by=["p"])
    assert not wh.exists("l.t")
    assert not os.path.exists(os.path.join(wh.path("l.t"), SCHEMA_FILE))
    with pytest.raises(AnalysisException):
        wh.read("l.t")
    # The first write with rows records the schema.
    wh.append(spark.createDataFrame([(1, "a")], "p int, v string"), "l.t", partition_by=["p"])
    assert os.path.exists(os.path.join(wh.path("l.t"), SCHEMA_FILE))
    assert_reads_as_inferred(spark, wh, "l.t")


def test_synthetic_source_rejects_unknown_option(spark):
    """A misspelt option fails the read instead of falling back to the
    8 x 1000-row defaults, naming the options the source accepts."""
    from covid_data_pipeline_spark.sources.pyds import _Opts, register_synthetic_source

    with pytest.raises(ValueError, match=r"\['n_rows'\]; accepted: .*'numpartitions'"):
        _Opts({"n_rows": "16000000", "numpartitions": "64"})
    register_synthetic_source(spark)
    read = spark.read.format("synthetic_events").option("n_rows", 16).load()
    with pytest.raises(Exception, match="n_rows"):
        read.count()
