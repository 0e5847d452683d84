"""Python Data Source API sources (Spark 4, SPARK-44076).

The reference's ingest surface is imperative driver code (HTTP GET →
landing file → scan; covid_to_s3.py:48-80). Spark 4's Python Data Source
API is the engine-native way to express a custom source: the source
declares schema + partitions, executors pull their own partition's data,
and Catalyst sees it as a normal scan (filter pushdown included).

`SyntheticEventsDataSource` generates the events table's shape
deterministically at any scale — the tool a 100 TB deployment uses to
smoke-test a cluster, size shuffle partitions, and benchmark operators
without reading a byte of input I/O:

* **batch**: N input partitions × M rows, generated executor-side as
  Arrow RecordBatches (vectorized numpy, no per-row Python), so a
  ``local[32]`` session fills 32 cores and a 1000-executor cluster fills
  4000 — generation cost scales out exactly like a parquet scan.
* **filter pushdown**: with ``absorbFilters=true``,
  ``EqualTo(event_type, …)`` is absorbed into the generator (rows are
  masked before the batch is built), demonstrating the API's
  pushFilters contract; all other predicates are left for Spark to
  evaluate. Absorption is OPT-IN because of a Spark 4.1 scan-caching
  hazard this repo hit at 16M rows: a DataFrame's filterLESS queries
  can reuse the relation's most-recently-built scan — INCLUDING a
  filter a previous query pushed into it — silently dropping rows
  (observed: ``ev.where(type='error').count()`` then ``ev.count()``
  returns the error count; a fresh ``.load()`` is unaffected). With
  absorption off (default) the scan always generates every row and
  Spark applies all predicates post-scan, so a shared relation can
  never be poisoned; enable it only on a single-purpose relation used
  by one query shape.
* **streaming**: a `SimpleDataSourceStreamReader` replays the same
  deterministic rows in bounded micro-batches with exact offset
  tracking, so the watermarked windows in ``streaming/windows.py`` can
  be tested against their batch results on identical data
  (tests/test_pyds.py).

Determinism: every field derives from splitmix64(seed ^ event_id) — no
RNG state anywhere, so task retries and offset replays reproduce
identical rows (the same property the repo's hash-split sampler relies
on).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from datetime import datetime
from typing import Any

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 over uint64 — the stateless per-id hash."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


_SCHEMA_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)
_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
_EPOCH = datetime(2024, 1, 1)


def _gen_batch(
    start_id: int,
    end_id: int,
    seed: int,
    n_users: int,
    step_us: int,
    event_type_eq: str | None = None,
) -> pa.RecordBatch:
    """Rows [start_id, end_id) as one Arrow RecordBatch, all numpy ops."""
    ids = np.arange(start_id, end_id, dtype=np.uint64)
    h = _splitmix64(ids ^ np.uint64(seed))
    types = np.array(EVENT_TYPES)
    etype = types[(h >> np.uint64(8)) % np.uint64(len(EVENT_TYPES))]
    if event_type_eq is not None:
        mask = etype == event_type_eq
        ids, h, etype = ids[mask], h[mask], etype[mask]
    epoch_us = int((_EPOCH - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    ts = (epoch_us + ids.astype(np.int64) * step_us).astype("datetime64[us]")
    user_id = ((h >> np.uint64(16)) % np.uint64(n_users)).astype(np.int64)
    value = np.round((h % np.uint64(100000)).astype(np.float64) / 100.0, 2)
    k = (h % np.uint64(100)).astype(np.int64)
    props = np.char.add(np.char.add('{"k": ', k.astype("U3")), "}")
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids.astype(np.int64), pa.int64()),
            pa.array(ts, pa.timestamp("us")),
            pa.array(user_id, pa.int64()),
            pa.array(etype, pa.string()),
            pa.array(value, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=_ARROW_SCHEMA,
    )


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _Opts:
    """Parsed, validated source options (shared batch/stream)."""

    # Lower-case: Spark hands options over case-insensitively.
    KEYS = frozenset({
        "numpartitions", "rowsperpartition", "nusers", "stepseconds",
        "seed", "rowsperbatch", "absorbfilters", "maxrows",
    })

    def __init__(self, options: dict):
        unknown = sorted(set(options) - self.KEYS)
        if unknown:
            # A misspelt size option would otherwise fall back to the
            # 8 x 1000-row default without a word.
            raise ValueError(
                f"unknown synthetic_events option(s) {unknown}; "
                f"accepted: {sorted(self.KEYS)}"
            )
        self.num_partitions = int(options.get("numpartitions", 8))
        self.rows_per_partition = int(options.get("rowsperpartition", 1000))
        self.n_users = int(options.get("nusers", 1000))
        self.step_us = int(options.get("stepseconds", 1)) * 1_000_000
        self.seed = int(options.get("seed", 42))
        self.rows_per_batch = int(options.get("rowsperbatch", 500))
        self.absorb_filters = (
            str(options.get("absorbfilters", "false")).lower() == "true"
        )
        self.max_rows = int(
            options.get("maxrows", self.num_partitions * self.rows_per_partition)
        )
        if self.num_partitions <= 0 or self.rows_per_partition < 0:
            raise ValueError("numPartitions must be > 0, rowsPerPartition >= 0")


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, opts: _Opts):
        self.opts = opts
        self.event_type_eq: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb one `event_type = literal` filter into the generator;
        everything else is returned as unsupported (Spark evaluates it
        post-scan — the standard partial-pushdown contract). Absorption
        only happens under ``absorbFilters=true`` — see the module
        docstring for the shared-relation scan-caching hazard that
        makes it opt-in."""
        for f in filters:
            if (
                self.opts.absorb_filters
                and isinstance(f, EqualTo)
                and f.attribute == ("event_type",)
                and self.event_type_eq is None
                and isinstance(f.value, str)
            ):
                self.event_type_eq = f.value
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        o = self.opts
        return [
            _Range(p * o.rows_per_partition, (p + 1) * o.rows_per_partition)
            for p in range(o.num_partitions)
        ]

    def read(self, partition: _Range) -> Iterator[pa.RecordBatch]:
        o = self.opts
        yield _gen_batch(
            partition.start,
            partition.end,
            o.seed,
            o.n_users,
            o.step_us,
            self.event_type_eq,
        )


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Bounded deterministic stream: emits ``rowsPerBatch`` rows per
    micro-batch until ``maxRows``, then reports caught-up (same end
    offset, empty batch) so `processAllAvailable()` terminates. Offsets
    are row positions; replay of [start, end) rebuilds identical rows."""

    def __init__(self, opts: _Opts):
        self.opts = opts

    def initialOffset(self) -> dict:
        return {"next_row": 0}

    def _rows(self, start: int, end: int) -> Iterator[tuple]:
        # Materialized list iterator, NOT a generator: Spark's prefetch
        # cache copy.copy()s the iterator when planning partitions, and
        # generators aren't copyable.
        batch = _gen_batch(start, end, self.opts.seed, self.opts.n_users, self.opts.step_us)
        return iter(
            [
                (
                    row["event_id"],
                    row["ts"],
                    row["user_id"],
                    row["event_type"],
                    row["value"],
                    row["props"],
                )
                for row in batch.to_pylist()
            ]
        )

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        s = int(start["next_row"])
        e = min(s + self.opts.rows_per_batch, self.opts.max_rows)
        if e <= s:
            return iter(()), {"next_row": s}
        return self._rows(s, e), {"next_row": e}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._rows(int(start["next_row"]), int(end["next_row"]))


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` after registration.

    Options (case-insensitive): numPartitions, rowsPerPartition, nUsers,
    stepSeconds, seed, absorbFilters (opt-in pushdown — see the module
    docstring's scan-caching hazard); streaming adds rowsPerBatch,
    maxRows.
    """

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def reader(self, schema: Any) -> SyntheticEventsReader:
        return SyntheticEventsReader(_Opts(dict(self.options)))

    def simpleStreamReader(self, schema: Any) -> SyntheticEventsStreamReader:
        return SyntheticEventsStreamReader(_Opts(dict(self.options)))


def register_synthetic_source(spark) -> None:
    """Idempotent registration of the synthetic events source."""
    spark.dataSource.register(SyntheticEventsDataSource)
