"""Table-health maintenance reports: small-file histogram + footer
clustering overlap (metadata-only passes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from covid_data_pipeline_spark.sources.maintenance import (
    clustering_overlap,
    file_health_report,
)


def test_file_health_flags_fragmented_table(spark, tmp_path):
    frag = str(tmp_path / "frag")
    spark.range(10_000).repartition(40).write.mode("overwrite").parquet(frag)
    rep = file_health_report(frag, small_file_bytes=1 * 1024 * 1024)
    assert rep["n_files"] == 40
    assert rep["small_file_byte_pct"] == 100.0  # all bytes in tiny files
    compact = str(tmp_path / "compact")
    spark.range(10_000).coalesce(1).write.mode("overwrite").parquet(compact)
    rep2 = file_health_report(compact, small_file_bytes=1024)  # 1 KB bar
    assert rep2["n_files"] == 1
    assert rep2["small_file_byte_pct"] == 0.0
    assert file_health_report(str(tmp_path / "missing"))["n_files"] == 0


def test_clustering_overlap_sorted_vs_shuffled(spark, tmp_path):
    sorted_dir = str(tmp_path / "sorted")
    (
        spark.range(100_000)
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .parquet(sorted_dir)
    )
    shuffled_dir = str(tmp_path / "shuffled")
    (
        spark.range(100_000)
        .select(F.col("id"))
        .repartition(8)  # round-robin: every file spans the full range
        .write.mode("overwrite")
        .parquet(shuffled_dir)
    )
    good = clustering_overlap(sorted_dir, "id")
    bad = clustering_overlap(shuffled_dir, "id")
    assert good["n_files"] == 8 and bad["n_files"] == 8
    # range-partitioned + sorted: disjoint envelopes, everything prunable
    assert good["overlap_pct"] == 0.0
    assert good["prunable"] == 8
    # round-robin: every file overlaps every other
    assert bad["overlap_pct"] == 100.0
    assert bad["prunable"] == 0
