"""Table maintenance on ``SnapshotWarehouse``: a sorted compaction turns
overlapping file envelopes into disjoint ones, so footer skipping prunes."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from covid_data_pipeline_spark.sources.snapshots import SnapshotWarehouse


def _envelopes(sw, table, column):
    """(min, max) of ``column`` per alive file, from the parquet footers."""
    files, _ = sw.prune_files(table, column)  # no bounds: every file
    out = []
    for rel in files:
        md = pq.ParquetFile(os.path.join(sw.path(table), "data", rel)).metadata
        stats = [
            md.row_group(rg).column(ci).statistics
            for rg in range(md.num_row_groups)
            for ci in range(md.num_columns)
            if md.row_group(rg).column(ci).path_in_schema == column
        ]
        out.append((min(s.min for s in stats), max(s.max for s in stats)))
    return sorted(out)


def _overlapping_pairs(envs):
    return sum(
        1
        for i, (lo_a, hi_a) in enumerate(envs)
        for lo_b, hi_b in envs[i + 1 :]
        if lo_a <= hi_b and lo_b <= hi_a
    )


def test_clustering_overlap_sorted_vs_shuffled(spark, tmp_path):
    sw = SnapshotWarehouse(spark, str(tmp_path / "wh"))
    # round-robin: every file spans the full range
    sw.append(spark.range(10_000).repartition(8), "t")
    bad = _envelopes(sw, "t", "id")
    assert len(bad) == 8
    assert _overlapping_pairs(bad) == 8 * 7 // 2  # every file overlaps every other
    kept, total = sw.prune_files("t", "id", lo=0, hi=100)
    assert len(kept) == total == 8  # nothing prunable

    # range-partitioned + sorted rewrite: disjoint envelopes
    sw.compact("t", target_file_rows=1_250, sort_by=["id"])
    good = _envelopes(sw, "t", "id")
    assert len(good) >= 8
    assert _overlapping_pairs(good) == 0
    kept, total = sw.prune_files("t", "id", lo=0, hi=100)
    assert total == len(good) and len(kept) == 1
    assert sw.read_pruned("t", "id", lo=0, hi=100).count() == 101
