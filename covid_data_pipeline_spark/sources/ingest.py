"""Landing-zone ingest (SURVEY.md §2.1 S5): fetch a daily source file by
URL and land it under hive-style date keys — the engine twin of the
reference's GitHub→MinIO landing step (covid_to_s3.py:48-80, key layout
:41). Driver-side Python by design: landing is orchestration I/O, not a
relational operator; Spark picks the file up with a batch scan of the
landing dir.

Stdlib-only (urllib) so it runs anywhere; at scale the landing dir is an
object store mount and this function is called once per arriving file by
the scheduler — bytes stream through, nothing is held in memory beyond
one chunk.
"""

from __future__ import annotations

import os
import shutil
import urllib.request
from datetime import date, datetime


def landing_key(report_date: str | date, suffix: str = "csv") -> str:
    """``year=YYYY/month=M/YYYY-MM-DD.csv`` — the reference's partitioned
    object layout (covid_to_s3.py:41), readable as hive partitions."""
    d = (
        datetime.strptime(report_date, "%Y-%m-%d").date()
        if isinstance(report_date, str)
        else report_date
    )
    return f"year={d.year}/month={d.month}/{d.isoformat()}.{suffix}"


def land_url(
    url: str,
    landing_root: str,
    report_date: str | date,
    suffix: str = "csv",
    timeout: float = 30.0,
    chunk_bytes: int = 1 << 20,
) -> str:
    """GET ``url`` and stream it to ``<landing_root>/<landing_key>``.
    Returns the landed path. Raises on HTTP errors (the reference checks
    status and aborts the day, covid_to_s3.py:58-59). Writes to a
    ``.``-prefixed temp name in the same directory, which Spark's file
    index skips, then renames it into place, so readers never see a
    partial file; a failed copy removes the temp file."""
    dest = os.path.join(landing_root, landing_key(report_date, suffix))
    head, name = os.path.split(dest)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, f".{name}.inprogress")
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            status = getattr(resp, "status", 200)
            if status and status >= 400:
                raise OSError(f"GET {url} -> HTTP {status}")
            with open(tmp, "wb") as f:
                shutil.copyfileobj(resp, f, chunk_bytes)
        os.replace(tmp, dest)
    finally:
        if os.path.exists(tmp):  # the copy failed before the rename
            os.remove(tmp)
    return dest
