"""Decontamination, PII scrub, and repetition-signal unit behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.text import (
    repetition_fraction,
    scrub_pii,
)
from covid_data_pipeline_spark.operators.decontam import (
    contaminated_ids,
    decontaminate,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


BENCH_SENT = "the quick brown fox jumps over the lazy dog tonight"


def test_mid_document_overlap_is_caught(spark):
    corpus = _docs(
        spark,
        [
            (1, f"intro words then {BENCH_SENT} and a long tail of filler"),
            (2, "completely unrelated content about spark partitions and shuffles"),
            (3, "short doc"),
        ],
    )
    bench = _docs(spark, [(100, BENCH_SENT)])
    dirty = {r["doc_id"] for r in contaminated_ids(corpus, bench, ngram=8).collect()}
    assert dirty == {1}
    clean = {r["doc_id"] for r in decontaminate(corpus, bench, ngram=8).collect()}
    assert clean == {2, 3}


def test_short_docs_fall_back_to_whole_gram(spark):
    # Benchmark doc shorter than the ngram: exact short copies in the
    # corpus must still be caught via the whole-document gram.
    corpus = _docs(spark, [(1, "tiny eval answer"), (2, "tiny eval answer plus")])
    bench = _docs(spark, [(100, "tiny eval answer")])
    dirty = {r["doc_id"] for r in contaminated_ids(corpus, bench, ngram=8).collect()}
    assert dirty == {1}  # doc 2's whole-gram differs — no overlap


def _py_grams(text: str, k: int) -> set[str]:
    """word_shingles on single-space lowercase text: the distinct
    k-token grams, or the whole text when it has fewer than k tokens."""
    toks = text.split(" ")
    if len(toks) < k:
        return {text}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_hashed_grams_match_python_reference(spark):
    """The hashed-gram semi-join flags exactly the docs whose raw string
    grams meet the benchmark's: an overlap of k tokens is caught, one of
    k - 1 is not, and a short doc matches only a short benchmark doc."""
    words = BENCH_SENT.split(" ")
    texts = {
        i: f"document {i} body {BENCH_SENT if i % 3 == 0 else 'clean text here'} end"
        for i in range(12)
    }
    texts[20] = "prefix " + " ".join(words[2:]) + " suffix"  # last 8 tokens
    texts[21] = "prefix " + " ".join(words[3:]) + " suffix"  # last 7 tokens
    texts[22] = "tiny eval answer"
    texts[23] = "tiny eval"
    bench_texts = [BENCH_SENT, "tiny eval answer"]
    k = 8
    bench_grams = set().union(*(_py_grams(t, k) for t in bench_texts))
    want = {i for i, t in texts.items() if _py_grams(t, k) & bench_grams}
    corpus = _docs(spark, sorted(texts.items()))
    bench = _docs(spark, list(enumerate(bench_texts, start=100)))
    got = {r["doc_id"] for r in contaminated_ids(corpus, bench, ngram=k).collect()}
    assert got == want == {0, 3, 6, 9, 20, 22}


def test_scrub_pii_redacts_emails_and_ids(spark):
    df = spark.createDataFrame(
        [(1, "Mail Bob.Smith+x@Sub.Example.ORG or ssn 123-45-6789 ok")],
        "doc_id LONG, text STRING",
    )
    out = df.select(scrub_pii("text").alias("t")).first()["t"]
    assert out == "Mail [EMAIL] or ssn [ID] ok"


def test_repetition_fraction_bounds(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 trigrams, 3 distinct
            (2, "all distinct words in this one sentence"),
            (3, "two words"),  # shorter than k → 0.0
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", F.round(repetition_fraction("text"), 4).alias("f")).collect()
    }
    assert got[1] == round(1 - 3 / 7, 4)
    assert got[2] == 0.0
    assert got[3] == 0.0
