"""DQ rule framework: violations counted correctly, gate raises."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from covid_data_pipeline_spark.operators.quality import (
    check,
    dq_report,
    in_range,
    in_set,
    not_null,
)


def test_dq_report_counts(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (None, 3.0, "Z"), (4, None, "A")],
        "k long, v double, s string",
    )
    rep = {
        r["rule"]: (r["violations"], r["total"], r["pass_ratio"])
        for r in dq_report(
            df, [not_null("k"), in_range("v", lo=0), in_set("s", ("A", "B"))]
        ).collect()
    }
    assert rep["not_null(k)"] == (1, 4, 0.75)
    assert rep["in_range(v)"][0] == 1  # NULL v passes (null-tolerant range)
    assert rep["in_set(s)"][0] == 1


def test_check_raises_and_passes(spark):
    ok = spark.createDataFrame([(1,), (2,)], "k long")
    check(ok, [not_null("k")])  # no raise
    bad = spark.createDataFrame([(1,), (None,)], "k long")
    with pytest.raises(ValueError, match="not_null"):
        check(bad, [not_null("k")])


def test_gopher_flags_planted_rules(spark):
    from pyspark.sql import functions as F

    from covid_data_pipeline_spark.functions.text import gopher_flags

    filler = "vector "
    good = "the of " + filler * 58
    short = "the of just a few words here"
    short_words = "the of " + "ab " * 58
    symbols = "the of " + filler * 48 + "# " * 10
    numeric = "the of " + filler * 43 + "123 " * 15
    no_stop = filler * 60
    bullets = "\n".join(["- the of " + filler * 6] * 10)
    ellipsis = "\n".join(
        ["the of " + filler * 4 + "..."] * 4 + [("the of " + filler * 4)] * 6
    )
    docs = [
        (1, good), (2, short), (3, short_words), (4, symbols),
        (5, numeric), (6, no_stop), (7, bullets), (8, ellipsis),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", gopher_flags("text").alias("g")).collect()
    }
    assert rows[1]["gopher_pass"]
    assert not rows[2]["word_count_ok"] and not rows[2]["gopher_pass"]
    assert not rows[3]["mean_word_len_ok"] and rows[3]["word_count_ok"]
    assert not rows[4]["symbol_ratio_ok"] and rows[4]["alpha_word_ok"]
    assert not rows[5]["alpha_word_ok"] and rows[5]["mean_word_len_ok"]
    assert not rows[6]["stopword_ok"] and rows[6]["word_count_ok"]
    assert not rows[7]["bullet_ok"] and rows[7]["stopword_ok"]
    assert not rows[8]["ellipsis_ok"] and rows[8]["symbol_ratio_ok"]
    # every failure is a single-rule failure except where documented
    for i in (2, 3, 4, 5, 6, 7, 8):
        assert not rows[i]["gopher_pass"]


def test_profile_columns_counts_nulls_and_distincts(spark):
    from covid_data_pipeline_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b"), (None, None)],
        "k bigint, v string",
    )
    got = {r["col_name"]: r for r in profile_columns(df).collect()}
    assert got["k"]["n_rows"] == 5
    assert got["k"]["n_nulls"] == 2 and got["k"]["n_distinct"] == 3
    assert got["v"]["n_nulls"] == 2 and got["v"]["n_distinct"] == 2


def test_profile_columns_approx_path_no_expand(spark):
    from covid_data_pipeline_spark.operators.quality import profile_columns

    df = spark.range(10_000).selectExpr("id AS k", "id % 97 AS v")
    out = profile_columns(df, approx=True)
    got = {r["col_name"]: r for r in out.collect()}
    # HLL estimates within a few % of truth; nulls/rows stay exact
    assert abs(got["k"]["n_distinct"] - 10_000) <= 500
    assert got["v"]["n_distinct"] == 97 or abs(got["v"]["n_distinct"] - 97) <= 5
    assert got["k"]["n_nulls"] == 0 and got["k"]["n_rows"] == 10_000
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # sketches need no row expansion


def test_mad_outliers_planted_and_robust(spark):
    from covid_data_pipeline_spark.operators.relational import mad_outliers

    # group g: tight cluster around 10.00 with two wild points; the
    # wild points must be flagged and must NOT drag the median/MAD
    rows = [(i, "g", 10.0 + (i % 5) * 0.01) for i in range(20)]
    rows += [(100, "g", 500.0), (101, "g", -300.0)]
    # group h: constant values -> MAD 0, any deviation is an outlier
    rows += [(200, "h", 1.0), (201, "h", 1.0), (202, "h", 1.0), (203, "h", 7.0)]
    # NULL value: excluded from stats, NULL flag
    rows += [(300, "g", None)]
    df = spark.createDataFrame(rows, "id long, grp string, value double")
    out = mad_outliers(df, ["grp"], "value", k=3).collect()
    flags = {r["id"]: r["is_outlier"] for r in out}
    assert flags[100] and flags[101]
    assert not any(flags[i] for i in range(20))
    assert flags[203] and not flags[200]
    assert flags[300] is None
    g = next(r for r in out if r["id"] == 0)
    assert g["med_q"] == 1002  # lower median of 10.00..10.04 cents
    assert g["mad_q"] <= 2  # wild points did not inflate the MAD


def test_mad_outliers_partitioning_invariant(spark):
    from covid_data_pipeline_spark.operators.relational import mad_outliers

    import random

    rng = random.Random(11)
    rows = [
        (i, rng.choice(["a", "b", "c"]), round(rng.gauss(50, 5), 2))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, value double")
    base = {
        (r["id"], r["is_outlier"])
        for r in mad_outliers(df, ["grp"], "value").collect()
    }
    rep = {
        (r["id"], r["is_outlier"])
        for r in mad_outliers(df.repartition(13), ["grp"], "value").collect()
    }
    assert base == rep


def test_mask_columns_policies(spark):
    import pytest as _pytest

    from covid_data_pipeline_spark.operators.quality import mask_columns

    df = spark.createDataFrame(
        [(1, "Alice Smith", "555-123-4567", 42.5), (2, "Bo", None, None)],
        "id long, name string, phone string, bal double",
    )
    out = mask_columns(
        df,
        {
            "name": "hash",
            "phone": "last4",
            "bal": "null",
            "id": F.col("id") * 100,  # custom Column policy
        },
    ).collect()
    r1 = next(r for r in out if r["id"] == 100)
    assert len(r1["name"]) == 64 and r1["name"] != "Alice Smith"
    assert r1["phone"] == "********4567"
    assert r1["bal"] is None
    r2 = next(r for r in out if r["id"] == 200)
    assert r2["phone"] is None            # NULL passes through last4
    # hash is deterministic & distinct per value
    again = mask_columns(df, {"name": "hash"}).collect()
    assert {r["name"] for r in again} == {r1["name"]} | {
        next(r["name"] for r in again if r["id"] == 2)
    }
    with _pytest.raises(ValueError, match="unknown column"):
        mask_columns(df, {"nope": "hash"})
    with _pytest.raises(ValueError, match="unknown policy"):
        mask_columns(df, {"name": "rot13"})


def test_flesch_components_hand_case(spark):
    """Sentence/syllable heuristics and the Flesch formula on a doc
    with known counts."""
    from covid_data_pipeline_spark.harness.registry import QUERIES  # noqa: F401
    from covid_data_pipeline_spark.functions.text import (
        sentence_count,
        syllable_count,
        token_count,
    )
    from pyspark.sql import functions as F

    # "the cat sat. it ran away! done" -> 2 terminator runs, 7 words
    # vowel groups: the(1) cat(1) sat(1) it(1) ran(1) away(2) done(2) = 9
    df = spark.createDataFrame(
        [(1, "the cat sat. it ran away! done"), (2, "no terminator here")],
        "doc_id long, text string",
    )
    m = df.select(
        "doc_id",
        token_count("text").alias("w"),
        sentence_count("text").alias("s"),
        syllable_count("text").alias("y"),
    ).collect()
    got = {r["doc_id"]: (r["w"], r["s"], r["y"]) for r in m}
    assert got[1] == (7, 2, 9)
    assert got[2][1] == 1  # fragment floors at one sentence


def test_fd_profile_g3_semantics(spark):
    """FD audit: exact g3 repair cost, NULL rhs is its own value."""
    from covid_data_pipeline_spark.operators.quality import fd_profile

    rows = [
        (1, "x"), (1, "x"), (1, "y"),   # group 1: majority x -> 1 del
        (2, "z"), (2, "z"),             # group 2: holds
        (3, None), (3, "x"),            # group 3: NULL distinct from x
    ]
    df = spark.createDataFrame(rows, "a BIGINT, b STRING")
    got = fd_profile(df, [(("a",), "b")]).collect()[0]
    assert got["fd"] == "a -> b"
    assert got["n_groups"] == 3
    assert got["violating_groups"] == 2
    assert got["violating_rows"] == 2  # 1 (grp1) + 1 (grp3)
    assert got["holds"] is False
    key = fd_profile(df, [(("a", "b"), "b")]).collect()[0]
    assert key["holds"] is True and key["violating_rows"] == 0

    import pytest as _pt
    with _pt.raises(ValueError):
        fd_profile(df, [])


def test_woe_encoding_python_reference(spark):
    """WOE/IV vs a Python reference; NULL labels excluded, NULL
    category is its own value."""
    import math

    from covid_data_pipeline_spark.operators.features import woe_encoding

    rows = [
        ("a", True), ("a", True), ("a", False),
        ("b", False), ("b", False), ("b", True),
        (None, True), ("a", None),   # null category / null label
    ]
    df = spark.createDataFrame(rows, "c STRING, y BOOLEAN")
    got = {
        r["c"]: (r["n_good"], r["n_bad"], r["woe_micro"], r["iv_term"])
        for r in woe_encoding(df, "c", "y").collect()
    }
    g, b = 4, 3  # labeled rows only
    def woe(ng, nb):
        return round(math.log((ng + 1) * (b + 2) / ((nb + 1) * (g + 2))) * 1e6)
    assert got["a"][:3] == (2, 1, woe(2, 1))
    assert got["b"][:3] == (1, 2, woe(1, 2))
    assert got[None][:3] == (1, 0, woe(1, 0))  # null category kept
    for c, (ng, nb, wm, iv) in got.items():
        want_iv = round((ng / g - nb / b) * (wm / 1e6), 6)
        assert abs(iv - want_iv) < 1e-12, c


def test_woe_encoding_single_class_yields_null_iv(spark):
    """ADVICE r8: a degenerate label distribution (all-good or
    all-bad) must produce NULL iv_term via try_divide, never
    Infinity/NaN — same policy as t_closeness."""
    from covid_data_pipeline_spark.operators.features import woe_encoding

    df = spark.createDataFrame(
        [("a", True), ("a", True), ("b", True)], "c STRING, y BOOLEAN"
    )
    rows = woe_encoding(df, "c", "y").collect()
    assert rows and all(r["iv_term"] is None for r in rows)
    # woe itself stays finite (Laplace smoothing)
    assert all(r["woe_micro"] is not None for r in rows)
