"""Table-health maintenance reports: the two numbers an operator needs
before scheduling compaction or re-clustering on a 100 TB warehouse.

* **Small files** kill scan throughput (per-file open/footer cost, tiny
  row groups, task-scheduling overhead): `file_health_report` returns
  per-table file count, byte histogram, and the fraction of bytes in
  files under a threshold — the direct input to `Warehouse.compact`'s
  "is it worth it" decision.
* **Clustering decay** kills data skipping: parquet footer min/max
  stats only prune when file ranges don't overlap. `clustering_overlap`
  reads the FOOTERS (never the data) and reports the overlap fraction
  of file ranges on a column — 0.0 means perfectly sorted/Z-ordered
  (every file prunable), → 1.0 means stats are useless and a re-sort
  (`write_zordered` / sortWithinPartitions) would pay.

Both are driver-side METADATA passes (os.walk + pyarrow footer reads,
KBs per file) — the one place driver-side work is the honest design;
at 1000-table scale, run them per-table from the scheduler.
"""

from __future__ import annotations

import os


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def file_health_report(path: str, small_file_bytes: int = 32 * 1024 * 1024) -> dict:
    """File-size health of a parquet table directory.

    Returns ``{n_files, total_bytes, small_files, small_file_byte_pct,
    p50_bytes, max_bytes}`` — ``small_file_byte_pct`` (share of BYTES
    living in files under the threshold) is the compaction trigger:
    a high file COUNT with tiny byte share is harmless; a high byte
    share means most of every scan pays per-file overhead."""
    sizes = sorted(os.path.getsize(f) for f in _parquet_files(path))
    if not sizes:
        return {
            "n_files": 0,
            "total_bytes": 0,
            "small_files": 0,
            "small_file_byte_pct": 0,
            "p50_bytes": 0,
            "max_bytes": 0,
        }
    total = sum(sizes)
    small = [s for s in sizes if s < small_file_bytes]
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "small_files": len(small),
        "small_file_byte_pct": round(100 * sum(small) / total, 2),
        "p50_bytes": sizes[len(sizes) // 2],
        "max_bytes": sizes[-1],
    }


def clustering_overlap(path: str, column: str) -> dict:
    """Data-skipping quality of ``column`` from parquet footer min/max.

    For every file, take the column's [min, max] envelope across its
    row groups; count file PAIRS whose envelopes overlap. Returns
    ``{n_files, overlapping_pairs, overlap_pct, prunable}`` where
    ``overlap_pct`` is overlapping pairs / all pairs (0 = perfectly
    clustered, every range disjoint; 100 = every file overlaps every
    other, min/max pruning never skips anything) and ``prunable`` is
    the count of files disjoint from ALL others. Computed by a sweep
    over ranges sorted by min — O(F log F), footers only."""
    import pyarrow.parquet as pq

    ranges = []
    for f in _parquet_files(path):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema != column or col.statistics is None:
                    continue
                st = col.statistics
                if not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi))
    n = len(ranges)
    if n < 2:
        return {"n_files": n, "overlapping_pairs": 0, "overlap_pct": 0.0,
                "prunable": n}
    ranges.sort()
    overlapping = 0
    overlapped_files = set()
    # sweep: for each range, scan forward while mins fall inside it
    for i, (lo_i, hi_i) in enumerate(ranges):
        for j in range(i + 1, n):
            if ranges[j][0] > hi_i:
                break
            overlapping += 1
            overlapped_files.add(i)
            overlapped_files.add(j)
    all_pairs = n * (n - 1) // 2
    return {
        "n_files": n,
        "overlapping_pairs": overlapping,
        "overlap_pct": round(100 * overlapping / all_pairs, 2),
        "prunable": n - len(overlapped_files),
    }
