"""Every QuerySpec with an oracle must match DuckDB at sf0.001 — a local
mirror of the driver's CORRECTNESS gate (row count + schema +
order-insensitive values)."""

from __future__ import annotations

import pytest

from covid_data_pipeline_spark.harness.oracle import compare
from covid_data_pipeline_spark.harness.registry import QUERIES

_WITH_ORACLE = [name for name, spec in QUERIES.items() if spec.oracle is not None]


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, name):
    compare(QUERIES[name], spark, sf_dir)


def test_oracle_no_hugeint_outputs(sf_dir):
    """The driver's hash layer is dtype-sensitive: DuckDB HUGEINT /
    DECIMAL128 output columns (e.g. an uncast SUM over integers) hash
    differently from Spark's BIGINT even when values are identical —
    the exact artifact behind round 2's tpch_q12 red row. Every oracle
    must CAST such aggregates, so no output column may be int128."""
    import os

    import duckdb

    from covid_data_pipeline_spark.harness.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
        offenders = []
        for name, spec in QUERIES.items():
            if spec.oracle is None:
                continue
            # LIMIT 0: DuckDB binds the oracle (types resolved) but
            # produces no rows, so no oracle runs in full.
            sql = f"SELECT * FROM ({spec.oracle}) LIMIT 0"
            schema = con.execute(sql).arrow().schema
            offenders.extend(
                (name, f.name, str(f.type))
                for f in schema
                if "decimal" in str(f.type) or "128" in str(f.type)
            )
        assert not offenders, f"HUGEINT/int128 oracle outputs: {offenders}"
    finally:
        con.close()


def test_rows_only_queries_run(spark, sf_dir):
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            assert spec.fn(spark, sf_dir).count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0
    # queries()/oracle_sql() contract: oracle keys ⊆ query keys
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)


def test_norm_distinguishes_negative_zero():
    """Round-5 lesson (`embedding_standardize`): DuckDB's ROUND keeps
    the sign bit on a tiny negative that rounds to zero while Spark
    normalizes to +0.0; the driver's value hash compares
    representations, so the row is red even though -0.0 == 0.0. The
    mirror's canonicalizer must therefore be representation-faithful —
    the pre-fix query class has to FAIL locally before a driver window
    slot is spent."""
    from covid_data_pipeline_spark.harness.oracle import _norm

    assert _norm(-0.0) != _norm(0.0)
    assert _norm(-0.0) == _norm(-1e-12)  # both round to -0.0 at 9 dp
    assert _norm(float("nan")) == "NaN"
    assert _norm(None) is None
    # Decimal boundaries still compare numerically against doubles.
    from decimal import Decimal

    assert _norm(Decimal("1.5")) == _norm(1.5)


def test_round_stable_clears_negative_zero(spark):
    """`functions.scalar.round_stable` (the registry-wide query-boundary
    convention) must emit +0.0 where F.round would leave the sign of a
    tiny negative ambiguous across engines, and be the identity
    elsewhere — including NULL and NaN."""
    import math

    from pyspark.sql import functions as F

    from covid_data_pipeline_spark.functions.scalar import round_stable

    row = spark.range(1).select(
        round_stable(F.lit(-1e-9), 4).alias("z"),
        round_stable(F.lit(-1.23456), 4).alias("neg"),
        round_stable(F.lit(None).cast("double"), 4).alias("nul"),
        round_stable(F.lit(float("nan")), 4).alias("nan"),
    ).collect()[0]
    assert math.copysign(1.0, row["z"]) == 1.0 and row["z"] == 0.0
    assert row["neg"] == -1.2346
    assert row["nul"] is None
    assert math.isnan(row["nan"])
    # And the DuckDB-side convention `(ROUND(x, d) + 0)` agrees.
    import duckdb

    a, b = duckdb.sql(
        "SELECT ROUND(-1e-9, 4) AS pre, ROUND(-1e-9, 4) + 0 AS post"
    ).fetchone()
    assert math.copysign(1.0, a) == -1.0  # DuckDB keeps the sign...
    assert math.copysign(1.0, b) == 1.0  # ...and the guard clears it
