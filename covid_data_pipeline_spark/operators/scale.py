"""Skew and co-location machinery for 100 TB execution.

Skew and layout tools, each a thin, tested composition of DataFrame
built-ins:

* salted two-stage aggregation — when ONE group key dominates (a
  boilerplate country, an empty-string fingerprint), the final aggregate
  task for that key becomes the straggler even with map-side partial
  aggregation. Stage 1 aggregates on (key, salt) spreading the hot key
  over N tasks; stage 2 merges the N partials. Exact for algebraic
  aggregates (sum/count/min/max).
* salted join — replicate the build side across N salt values and salt
  the probe side, so a hot key's probe rows spread over N tasks. Result
  set is identical to the unsalted join for any salt assignment (each
  probe row meets exactly one replica of each matching build row).
  Prefer AQE's skew-join splitting when it fires; salting is for the
  cases it can't see (e.g. skew introduced after the last shuffle).
* Morton key — the Z-order sort key that `SnapshotWarehouse.compact`
  and the `zorder_locality_orders` query lay files out by.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    num_salts: int = 16,
    count_col: str | None = None,
) -> DataFrame:
    """Two-stage skew-proof groupBy-sum (+ optional row count).

    Salt is derived from the row content hash — deterministic, no RNG in
    the task (safe under task retry)."""
    keys, sum_cols = list(keys), list(sum_cols)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(num_salts))
    stage1_aggs = [F.sum(c).alias(c) for c in sum_cols]
    stage2_aggs: list[Column] = [F.sum(c).alias(c) for c in sum_cols]
    if count_col:
        stage1_aggs.append(F.count(F.lit(1)).alias(count_col))
        stage2_aggs.append(F.sum(count_col).alias(count_col))
    return (
        df.withColumn(_SALT, salt)
        .groupBy(*keys, _SALT)
        .agg(*stage1_aggs)
        .groupBy(*keys)
        .agg(*stage2_aggs)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: probe (left) rows get a content-hash salt,
    build (right) rows are replicated once per salt value; joining on
    (keys, salt) spreads any hot key across ``num_salts`` tasks. The
    build side grows ``num_salts``× — use for moderate build sides with
    a skewed probe side (``how`` ∈ inner/left)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (build side is replicated)")
    on = list(on)
    l_salted = left.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts))
    )
    r_replicated = right.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return l_salted.join(r_replicated, on=[*on, _SALT], how=how).drop(_SALT)


def split_skew_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    num_salts: int = 16,
    hot_multiple: float = 10.0,
    how: str = "inner",
) -> DataFrame:
    """Differentiated (hot/cold split) skew join — the production
    refinement of :func:`salted_join`: instead of replicating the WHOLE
    build side ``num_salts``×, detect the probe side's hot keys and pay
    replication for those keys' build rows ONLY. Cold keys take a plain
    hash join; hot-key probe rows are salted and joined against
    hot-only build rows exploded per salt; the two halves union.

    Result is row-identical to ``left.join(right, on, how)`` for
    inner/left joins (pytest-proven, incl. NULL probe keys, which are
    never hot and flow through the cold left join).

    Scale shape: hot-key detection is one map-side-combined groupBy on
    the probe keys; the hot set (keys with ≥ ``hot_multiple``× the mean
    per-key count) is by construction tiny — at most
    total/(hot_multiple·mean) keys — and re-enters BOTH sides as a
    broadcast membership tag, never a driver collect. AQE's skew-join
    split solves the same problem transparently for sort-merge joins;
    this operator is the explicit form for when the build side must
    stay a hash join or the engine's thresholds don't fire.
    """
    if how not in ("inner", "left"):
        raise ValueError("split_skew_join supports inner/left")
    on = list(on)
    taken = set(left.columns) | set(right.columns)
    clash = taken & {"__hot", _SALT, "__kr", "__t", "__k"}
    if clash:
        raise ValueError(
            f"split_skew_join reserves columns {sorted(clash)} — rename them"
        )
    counts = left.groupBy(*on).agg(F.count(F.lit(1)).alias("__kr"))
    tot = counts.agg(
        F.sum("__kr").alias("__t"), F.count(F.lit(1)).alias("__k")
    )
    hot = (
        # bcast: const(1) scalar totals agg
        counts.join(F.broadcast(tot))
        .filter(
            F.col("__kr") * F.col("__k") >= F.lit(hot_multiple) * F.col("__t")
        )
        .select(*on)
    )
    # bcast: const(<= |keys| / hot_multiple by construction) share-thresholded hot keys
    hot_b = F.broadcast(hot.withColumn("__hot", F.lit(1)))
    l_tag = left.join(hot_b, on=on, how="left")
    r_tag = right.join(hot_b, on=on, how="left")
    l_cold = l_tag.filter(F.col("__hot").isNull()).drop("__hot")
    l_hot = l_tag.filter(F.col("__hot").isNotNull()).drop("__hot")
    r_cold = r_tag.filter(F.col("__hot").isNull()).drop("__hot")
    r_hot = r_tag.filter(F.col("__hot").isNotNull()).drop("__hot")
    cold = l_cold.join(r_cold, on=on, how=how)
    # the hot half IS a salted join, restricted to hot rows — one
    # implementation owns the salt/replicate/join sequence
    hot_joined = salted_join(l_hot, r_hot, on=on, num_salts=num_salts, how=how)
    return cold.unionByName(hot_joined)


def morton_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Z-order (Morton) interleave of two non-negative ints, ``bits``
    low bits each → one long sort key. Bit i of x lands at position 2i,
    bit i of y at 2i+1, so sorting by the key clusters rows that are
    close in BOTH dimensions — the multi-column data-skipping layout
    linear sort-by-(x,y) can't give (a range predicate on y alone hits
    every file under a plain x-major sort).

    Pure shift/and/or column arithmetic: fully codegen'd, no UDF.
    Callers map raw values into [0, 2^bits) first (truncate a date to
    day-number, quantize a price to its bucket)."""
    cx = (F.col(x) if isinstance(x, str) else x).cast("long")
    cy = (F.col(y) if isinstance(y, str) else y).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def skew_profile(
    df: DataFrame,
    keys: Sequence[str],
    top_n: int = 20,
    hot_multiple: float = 10.0,
) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key row counts, share of total,
    and a hot-key flag (count ≥ ``hot_multiple`` × the mean per-key
    count) for the ``top_n`` heaviest keys.

    This is the measurement half of the salting tools above: run it on a
    join key BEFORE a 100 TB run to decide between plain shuffle, AQE
    skew-split, and explicit salting. Scale shape: one map-side-combined
    groupBy on the key; the global totals reduce to a SINGLE row that
    re-enters the plan via a broadcast join — no single-partition window
    over the full key set, so the profile itself cannot straggle.
    Deterministic output order (count desc, then keys) for stable
    cross-engine comparison.

    Shares are reported in integer basis points (``pct_bp``: share of
    total ×10000; ``skew_bp``: multiple of the mean per-key count
    ×10000) via ``floor`` rather than decimal ``round`` — IEEE division
    of exact integers is bit-identical across engines, while decimal
    rounding of a half-way double (1.005) is not (repo float policy).
    """
    keys = list(keys)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("key_rows"))
    totals = counts.agg(
        F.sum("key_rows").alias("__total_rows"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    ratio = F.col("key_rows") * F.col("__n_keys") / F.col("__total_rows")
    return (
        # bcast: const(1) scalar totals agg
        counts.join(F.broadcast(totals))
        .select(
            *keys,
            "key_rows",
            F.floor(F.col("key_rows") * 10000.0 / F.col("__total_rows"))
            .cast("bigint")
            .alias("pct_bp"),
            F.floor(ratio * 10000.0).cast("bigint").alias("skew_bp"),
            (ratio >= F.lit(hot_multiple)).alias("is_hot"),
        )
        .orderBy(F.col("key_rows").desc(), *[F.col(k).asc() for k in keys])
        .limit(top_n)
    )


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    out_col: str = "shard",
    salt: str = "",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998): each row goes to ``argmax over shards of
    h(id, shard)``. The property that matters for 100 TB layout
    management: growing ``n_shards`` by one relocates only ~1/(n+1) of
    the rows (only rows whose NEW shard wins the argmax move), versus
    ``hash(id) % n`` which reshuffles nearly everything — so a shard
    split is an incremental copy, not a full rewrite.

    Pure projection — literally zero shuffle: the n_shards candidates
    are materialized per row as an array of (score, shard) structs via
    ``transform(sequence(...))``, scored with the portable md5-prefix
    hash (so plain SQL replays the exact assignment), and the argmax
    taken with ``array_max`` (struct comparison is lexicographic, so
    score decides and shard breaks ties, identical to a max_by struct
    tiebreak). Because no aggregation is involved, duplicate input rows
    pass through unchanged and non-groupable column types (map, ...)
    are fine — the earlier groupBy(*all-columns) formulation silently
    collapsed duplicates and rejected maps."""
    from covid_data_pipeline_spark.operators.features import (
        portable_token_hash,
    )

    c = F.col(id_col)
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: F.struct(
            portable_token_hash(
                F.concat(
                    c.cast("string"), F.lit(":"), s.cast("string"),
                    F.lit(salt),
                )
            ).alias("score"),
            s.alias("shard"),
        ),
    )
    return df.withColumn(out_col, F.array_max(scored)["shard"])
