"""Benchmark decontamination: remove corpus documents that overlap a
held-out evaluation set by any word n-gram.

The standard LLM-training hygiene step (n-gram collision against eval
benchmarks, cf. the GPT-3/PaLM appendix methodology): a corpus document
is contaminated if it shares at least one k-token shingle with any
benchmark document. Sits beyond the reference's own surface alongside
the dedup family (same shingle machinery, `functions/text.word_shingles`).

Scale shape: grams are hashed to int64 (``xxhash64``) before the join,
so the shuffle carries 8-byte keys instead of ~50-byte strings; the
benchmark side (small by construction — eval sets are thousands of
docs, the corpus is billions) is distinct-ed and broadcast, making the
contamination check a map-side semi-join over the exploded corpus
grams: one shuffle-free pass over the corpus at any scale. A 64-bit
collision (~1e-9 at 1e5 benchmark grams) can only over-remove, never
leak contamination through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import word_shingles

__all__ = ["contaminated_ids", "decontaminate"]


def _gram_keys(df: DataFrame, text_col: str, ngram: int) -> DataFrame:
    g = F.explode(word_shingles(text_col, k=ngram)).alias("_gram")
    out = df.select(*df.columns, g)
    return out.select(*df.columns, F.xxhash64("_gram").alias("_gram_key"))


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Distinct ``id_col`` of corpus docs sharing ≥1 word n-gram with the
    benchmark. Documents shorter than ``ngram`` tokens fall back to a
    single whole-document gram (word_shingles semantics), so short exact
    copies are still caught."""
    bench = (
        _gram_keys(benchmark.select(text_col), text_col, ngram)
        .select("_gram_key")
        .distinct()
    )
    corpus_grams = _gram_keys(corpus.select(id_col, text_col), text_col, ngram)
    return (
        # bcast: model eval-suite gram keys (benchmarks are bounded by contract)
        corpus_grams.join(F.broadcast(bench), "_gram_key", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Corpus minus contaminated docs (left anti on the id)."""
    dirty = contaminated_ids(corpus, benchmark, text_col, id_col, ngram)
    return corpus.join(dirty, id_col, "left_anti")
