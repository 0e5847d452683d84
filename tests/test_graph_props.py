"""Property-based tests for connected components: labels must match a
reference union-find on every random edge set, on both strategies —
the driver finish (the default constant, every graph here is small),
the star rounds (constant 0) and a constant a graph crosses mid-loop —
and the per-partition union-find pre-contraction must be
label-invisible on arbitrary graphs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from covid_data_pipeline_spark.operators import graph
from covid_data_pipeline_spark.operators.graph import connected_components

_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)

# The monkeypatch fixture is function-scoped and shared by the examples
# on purpose: it sets the same constant for every one of them.
_props = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _reference_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Plain Python union-find ground truth: node -> component min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _labels(df) -> dict:
    return {r["node"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize(
    "finish_edges",
    [
        None,  # default constant: the driver finish
        pytest.param(0, marks=pytest.mark.slow),  # ~40 s: star rounds only
        pytest.param(8, marks=pytest.mark.slow),  # ~25 s: crossed mid-loop
    ],
)
@_props
@given(edges=_edges)
def test_cc_matches_reference_union_find(spark, monkeypatch, finish_edges, edges):
    if finish_edges is not None:
        monkeypatch.setattr(graph, "_LOCAL_FINISH_EDGES", finish_edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    expect = _reference_components([e for e in edges if e[0] != e[1]])
    # self-loop-only nodes are absent without nodes= (documented)
    assert _labels(connected_components(df)) == expect


@pytest.mark.slow  # ~50 s: star rounds on both sides
@_props
@given(edges=_edges, parts=st.sampled_from([1, 3, 7]))
def test_pre_contraction_is_label_invisible(spark, monkeypatch, edges, parts):
    """Labels with and without the pre-contraction (``_local_contract``
    patched to the identity) must be identical on any graph under any
    partitioning (the contraction is union-preserving, so this is the
    invariant that makes it safe to always run). The constant is 0 so
    that both calls run the rounds."""
    monkeypatch.setattr(graph, "_LOCAL_FINISH_EDGES", 0)
    df = spark.createDataFrame(edges, "src long, dst long").repartition(parts)
    with_pc = _labels(connected_components(df))
    with monkeypatch.context() as m:
        m.setattr(graph, "_local_contract", lambda e: e)
        without_pc = _labels(connected_components(df))
    assert with_pc == without_pc


def test_finish_crossed_mid_loop(spark, monkeypatch):
    """The complete graph on 20 nodes (190 edges) shrinks to a 19-edge
    star after one round, so a constant of 50 finishes after round 1
    where the rounds alone need a second round to confirm convergence.
    The pre-contraction is the identity so that the rounds see K20."""
    monkeypatch.setattr(graph, "_local_contract", lambda e: e)
    k20 = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    df = spark.createDataFrame(k20, "src long, dst long")
    got = {}
    for finish_edges in (0, 50):
        monkeypatch.setattr(graph, "_LOCAL_FINISH_EDGES", finish_edges)
        stats: dict = {}
        labels = _labels(connected_components(df, stats=stats))
        got[finish_edges] = (stats["rounds"], labels)
    everyone_zero = {n: 0 for n in range(20)}
    assert got[0] == (2, everyone_zero)
    assert got[50] == (1, everyone_zero)


def test_finish_keeps_nodes_singletons(spark):
    stats: dict = {}
    edges = spark.createDataFrame([(4, 2), (2, 9), (7, 7)], "src long, dst long")
    nodes = spark.range(10).select(F.col("id").alias("doc_id"))
    got = _labels(connected_components(edges, nodes=nodes, stats=stats))
    assert stats["rounds"] == 0
    # 7 has only a self-loop: it is a singleton like every isolated node.
    assert got == {n: 2 if n in (2, 4, 9) else n for n in range(10)}


def test_finish_string_ids(spark):
    stats: dict = {}
    edges = spark.createDataFrame(
        [("pear", "fig"), ("fig", "kiwi"), ("plum", "date")], "a string, b string"
    )
    got = _labels(connected_components(edges, src="a", dst="b", stats=stats))
    assert stats["rounds"] == 0
    assert got == {
        "fig": "fig", "kiwi": "fig", "pear": "fig",
        "date": "date", "plum": "date",
    }
