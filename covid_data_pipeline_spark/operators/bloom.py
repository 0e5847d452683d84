"""Portable Bloom-filter semi-join pruning (runtime row filters).

The reference's federated INSERT...SELECTs (e.g. Trino alert SQLs,
reference `airflow/dags/covid_alerts_dag.py:38-59`) ship every fact row
to the join; at 100 TB the standard fix is a runtime Bloom filter: build
a compact bit set over the (selective) build side's keys, push it into
the probe side's scan as a cheap map-side filter, and let the exact join
only pay for rows that *might* match. Spark 3.3+ plans this natively via
``spark.sql.optimizer.runtime.bloomFilter.enabled`` (injected bloom
aggregate + ``might_contain``); this module is the *explicit, portable*
twin — the bloom math is md5-based integer arithmetic that replays
bit-for-bit in any ANSI engine, so the prefilter's exact pass/fail set
(including its false positives) is oracle-checkable, not just its
semantics.

Design
------
* **63-bit words.** The bit array is ``array<bigint>`` with 63 usable
  bits per word, so every mask is ``1 << bit`` with ``bit <= 62`` —
  always positive, no sign-bit games on either engine (DuckDB's ``<<``
  overflows at ``1 << 63``).
* **Kirsch–Mitzenmacher double hashing.** Position ``i`` is
  ``(h1 + i*h2) mod m`` from two salted
  :func:`operators.dedup.portable_hash31` hashes — k positions from two
  md5s, all arithmetic inside signed 64-bit.
* **Model-sized blooms collect; giant blooms stay native.** The word
  vector is config-bounded (``m_words`` entries, independent of member
  count), so it collects like a centroid matrix and the probe-side
  check is a pure codegen map filter — zero shuffle, pushable right
  behind the scan. A fact-to-fact bloom (1e9+ keys, GB-sized bits)
  should use Spark's native runtime filter instead; this operator
  targets the dimension-predicate prefilters the reference's alert
  queries actually run.
* **No false negatives, ever** — the exact join after the prefilter is
  what produces the answer; the bloom only prunes. ``k * h2`` stays
  below 2^36, far inside BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from covid_data_pipeline_spark.operators.dedup import portable_hash31

__all__ = ["bloom_build", "bloom_contains"]

_BITS_PER_WORD = 63

# F.shiftleft only accepts a literal shift amount — column shifts go
# through this 63-entry lookup instead (element_at on an array literal
# is still pure codegen arithmetic).
_MASKS = [1 << b for b in range(_BITS_PER_WORD)]


def _mask_at(bit: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(m).cast("bigint") for m in _MASKS]),
        (bit + 1).cast("int"),
    )


def _h1h2(key: Column) -> tuple[Column, Column]:
    s = key.cast("string")
    return (
        portable_hash31(F.concat(F.lit("bh1:"), s)),
        portable_hash31(F.concat(F.lit("bh2:"), s)),
    )


def bloom_build(
    df: DataFrame, key_col: str, m_words: int = 8, k: int = 3
) -> list[int]:
    """Aggregate the build side into a dense ``m_words``-long word list
    (63 bits each). One map-side-combining aggregation over the member
    keys; the result is model-sized (``m_words`` longs regardless of
    member count), so collecting it is the centroid-matrix pattern, not
    a corpus collect."""
    if m_words <= 0 or k <= 0:
        raise ValueError(f"m_words and k must be positive, got {m_words}, {k}")
    m_bits = m_words * _BITS_PER_WORD
    h1, h2 = _h1h2(F.col(key_col))
    pos = F.explode(
        F.array(*[(h1 + F.lit(i) * h2) % m_bits for i in range(k)])
    ).alias("p")
    words = (
        df.select(pos)
        .select(
            (F.col("p") / _BITS_PER_WORD).cast("bigint").alias("w"),
            _mask_at(F.col("p") % _BITS_PER_WORD).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    dense = [0] * m_words
    for r in words:
        dense[int(r["w"])] = int(r["word"])
    return dense


def bloom_contains(
    key: Column, words: list[int], k: int = 3
) -> Column:
    """Boolean column: every one of the key's ``k`` bloom bits is set in
    ``words``. Pure codegen integer arithmetic over an array literal —
    no join, no shuffle; Catalyst keeps it next to the scan filter."""
    m_words = len(words)
    m_bits = m_words * _BITS_PER_WORD
    arr = F.array(*[F.lit(int(w)).cast("bigint") for w in words])
    h1, h2 = _h1h2(key)
    cond = F.lit(True)
    for i in range(k):
        p = (h1 + F.lit(i) * h2) % m_bits
        word = F.element_at(
            arr, ((p / _BITS_PER_WORD).cast("bigint") + 1).cast("int")
        )
        mask = _mask_at(p % _BITS_PER_WORD)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond
