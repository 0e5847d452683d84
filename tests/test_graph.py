"""Connected components: multi-hop transitivity, singletons, determinism."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from covid_data_pipeline_spark.observe import spark_jobs
from covid_data_pipeline_spark.operators import graph
from covid_data_pipeline_spark.operators.graph import (
    connected_components,
    largest_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src LONG, dst LONG")


def _labels(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_path_graph_collapses_transitively(spark):
    # 0-1-2-3-4 chain: every node must reach label 0 (multi-hop, the
    # case a pairwise-only dedup gets wrong).
    got = _labels(connected_components(_edges(spark, [(i, i + 1) for i in range(4)])))
    assert got == {i: 0 for i in range(5)}


def test_two_components_and_reversed_duplicate_edges(spark):
    pairs = [(1, 2), (2, 1), (2, 3), (10, 11), (11, 10), (10, 10)]
    got = _labels(connected_components(_edges(spark, pairs)))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_singletons_via_nodes_param(spark):
    nodes = spark.range(6).select(F.col("id").alias("doc_id"))
    got = _labels(
        connected_components(_edges(spark, [(0, 1), (3, 4)]), nodes=nodes)
    )
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 5}


def test_long_cycle_converges_within_log_rounds(spark, monkeypatch):
    # 64-node ring: diameter 32, but star rounds need only ~log2(64).
    # The finish constant is 0 so that the star rounds label the ring.
    monkeypatch.setattr(graph, "_LOCAL_FINISH_EDGES", 0)
    n = 64
    ring = [(i, (i + 1) % n) for i in range(n)]
    stats: dict = {}
    got = _labels(
        connected_components(_edges(spark, ring), stats=stats)
    )
    assert got == {i: 0 for i in range(n)}
    assert 1 <= stats["rounds"] <= 14


@pytest.mark.slow  # ~16s (r11 fast tier)
def test_labels_stable_under_partitioning(spark):
    pairs = [(i, i + 100) for i in range(20)] + [(i + 100, (i + 1) % 20) for i in range(20)]
    e = _edges(spark, pairs)
    a = _labels(connected_components(e))
    b = _labels(connected_components(e.repartition(7)))
    assert a == b


def test_small_graph_job_budget(spark, monkeypatch):
    """Building CC over a checkpointed 300-edge graph. At the default
    constant the driver finish labels it in at most 2 Spark jobs. With
    the constant at 0, the pre-contraction, 3 star rounds and the
    exceptAll confirmation take at most 16: each round's convergence
    probe rides its checkpoint's job."""
    e = _edges(spark, [(i, (i * 7 + 3) % 200) for i in range(300)])
    e = e.repartition(4).localCheckpoint()
    for finish_edges, budget in ((graph._LOCAL_FINISH_EDGES, 2), (0, 16)):
        monkeypatch.setattr(graph, "_LOCAL_FINISH_EDGES", finish_edges)
        comps, jobs = spark_jobs(spark, lambda: connected_components(e))
        assert jobs <= budget, finish_edges
        assert comps.count() == 300


def test_largest_components_head(spark):
    # Component {0..4} (size 5) and {10,11} (size 2).
    e = _edges(spark, [(i, i + 1) for i in range(4)] + [(10, 11)])
    rows = largest_components(connected_components(e), top_k=1).collect()
    assert [(r["component"], r["size"]) for r in rows] == [(0, 5)]


# ---------------------------------------------------------------------------
# Property-based: agree with a pure-Python union-find on arbitrary graphs
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_node = st.integers(min_value=0, max_value=40)


def _union_find(pairs):
    parent = {}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    groups = {}
    for n in list(parent):
        groups.setdefault(find(n), []).append(n)
    return {n: min(g) for g in groups.values() for n in g}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # ~27s (r11 fast tier)
@given(pairs=st.lists(st.tuples(_node, _node), min_size=1, max_size=60))
def test_components_match_union_find(spark, pairs):
    expected = {
        n: c for n, c in _union_find(pairs).items()
    }
    # Self-loop-only nodes are singletons in union-find but carry no
    # real edge — the operator drops them unless passed via `nodes=`.
    real = {n for u, v in pairs if u != v for n in (u, v)}
    expected = {n: c for n, c in expected.items() if n in real}
    got = _labels(connected_components(_edges(spark, pairs)))
    assert got == expected


# --- pagerank_int ---------------------------------------------------------


def _pagerank_py(edges, iters=5, num=85, den=100, scale=10**12):
    """Pure-Python replica of the integer fixed point — the executable
    spec pagerank_int must match bit-for-bit."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        nxt = {v: (scale * (den - num)) // (den * n) for v in nodes}
        for s, d in edges:
            nxt[d] += (num * rank[s]) // (den * outdeg[s])
        rank = nxt
    return rank


def test_pagerank_matches_integer_spec(spark):
    from covid_data_pipeline_spark.operators.graph import pagerank_int

    # ring + a hub everyone links to
    edges = [(i, (i + 1) % 6) for i in range(6)] + [(i, 9) for i in range(6)]
    edges += [(9, 0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank_int(df, iters=5).collect()}
    assert got == _pagerank_py(edges, iters=5)


def test_pagerank_hub_outranks_leaves_and_mass_conserved(spark):
    from covid_data_pipeline_spark.operators.graph import pagerank_int

    edges = [(i, 0) for i in range(1, 20)] + [(0, 0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = {r.node: r.rank for r in pagerank_int(df, iters=4).collect()}
    # every leaf feeds the self-looped hub; leaves keep only teleport
    assert rows[0] > max(v for k, v in rows.items() if k != 0)
    # floors only ever LOSE mass: deficit_{t+1} ≤ d·deficit_t + N + E,
    # geometric steady state ≈ (N+E)/(1−d) — assert a loose multiple
    total = sum(rows.values())
    assert 0 <= 10**12 - total < (len(edges) + len(rows)) * 20


def test_pagerank_partitioning_invariant(spark):
    from covid_data_pipeline_spark.operators.graph import pagerank_int

    edges = [(i, (i * 7) % 23) for i in range(23) if i != (i * 7) % 23]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    a = {r.node: r.rank for r in pagerank_int(df.repartition(1), iters=6).collect()}
    b = {r.node: r.rank for r in pagerank_int(df.repartition(16), iters=6).collect()}
    assert a == b == _pagerank_py(edges, iters=6)


def test_bfs_distances_levels_and_termination(spark):
    from covid_data_pipeline_spark.operators.graph import bfs_distances

    # path graph 0-1-2-3-4-5 plus an isolated source 99
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,), (99,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, srcs, max_hops=10).collect()
    }
    assert got == {0: 0, 99: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}

    # horizon cap: nothing past max_hops
    capped = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, srcs, max_hops=2).collect()
    }
    assert capped == {0: 0, 99: 0, 1: 1, 2: 2}

    # multi-source min level: adding source 5 halves distances from the
    # far end; direction of the stored edge must not matter
    both = {
        r["node"]: r["dist"]
        for r in bfs_distances(
            edges,
            spark.createDataFrame([(0,), (5,)], "node long"),
            max_hops=10,
        ).collect()
    }
    assert both == {0: 0, 5: 0, 1: 1, 4: 1, 2: 2, 3: 2}


def test_bfs_distances_partitioning_invariant(spark):
    import random

    from covid_data_pipeline_spark.operators.graph import bfs_distances

    rng = random.Random(13)
    edges = spark.createDataFrame(
        [(rng.randrange(300), rng.randrange(300)) for _ in range(600)],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(i,) for i in range(3)], "node long")
    a = sorted(map(tuple, bfs_distances(edges, srcs, max_hops=8).collect()))
    b = sorted(
        map(
            tuple,
            bfs_distances(
                edges.repartition(17), srcs, max_hops=8
            ).collect(),
        )
    )
    assert a == b and len(a) > 3


def test_shortest_paths_weighted_semantics(spark):
    from covid_data_pipeline_spark.operators.graph import shortest_paths

    # diamond: 0->1 (w1), 1->3 (w1) vs 0->2 (w5), 2->3 (w1); plus a
    # long cheap detour 0->4->5->3 (w 1+1+1) needing 3 hops
    edges = spark.createDataFrame(
        [
            (0, 1, 1), (1, 3, 1),
            (0, 2, 5), (2, 3, 1),
            (0, 4, 1), (4, 5, 1), (5, 3, 1),
            (0, 0, 99),        # self loop ignored
            (1, 3, 7),         # duplicate edge: min weight wins
        ],
        "src long, dst long, weight long",
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, srcs, max_hops=10).collect()
    }
    assert got == {0: 0, 1: 1, 2: 3, 3: 2, 4: 1, 5: 2}  # 2 via 0-1-3-2

    # hop bound is semantic: within 1 hop node 3 is unreachable
    one_hop = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, srcs, max_hops=1).collect()
    }
    assert 3 not in one_hop and one_hop[1] == 1 and one_hop[2] == 5

    # undirected: same answers from the other end
    rev = {
        r["node"]: r["dist"]
        for r in shortest_paths(
            edges, spark.createDataFrame([(3,)], "node long"), max_hops=10
        ).collect()
    }
    assert rev[0] == 2 and rev[2] == 1


def test_shortest_paths_partitioning_invariant(spark):
    import random

    from covid_data_pipeline_spark.operators.graph import shortest_paths

    rng = random.Random(19)
    edges = spark.createDataFrame(
        [
            (rng.randrange(200), rng.randrange(200), rng.randint(1, 9))
            for _ in range(500)
        ],
        "src long, dst long, weight long",
    )
    srcs = spark.createDataFrame([(0,), (1,)], "node long")
    a = sorted(map(tuple, shortest_paths(edges, srcs, max_hops=6).collect()))
    b = sorted(
        map(
            tuple,
            shortest_paths(
                edges.repartition(13), srcs, max_hops=6
            ).collect(),
        )
    )
    assert a == b and len(a) > 5


@pytest.mark.slow  # ~9s (r11 fast tier)
def test_personalized_pagerank_concentrates_on_seeds(spark):
    from covid_data_pipeline_spark.operators.graph import pagerank_int

    # two disjoint 4-cycles; seeds only in the first
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (10, 11), (11, 12), (12, 13), (13, 10)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    r = {
        x["node"]: x["rank"]
        for x in pagerank_int(edges, iters=6, sources=seeds).collect()
    }
    # the unseeded component receives ZERO mass
    assert all(r[n] == 0 for n in (10, 11, 12, 13))
    # the seeded component holds ~all mass (on a pure cycle the bulk
    # rotates with the iteration count, so no pointwise seed-max claim)
    assert all(r[n] > 0 for n in (0, 1, 2, 3))
    assert sum(r[n] for n in (0, 1, 2, 3)) > 0.99 * 10**12
    # uniform variant spreads across both components
    u = {
        x["node"]: x["rank"]
        for x in pagerank_int(edges, iters=6).collect()
    }
    assert all(u[n] > 0 for n in (10, 11, 12, 13))
    # determinism under repartitioning
    r2 = {
        x["node"]: x["rank"]
        for x in pagerank_int(
            edges.repartition(7), iters=6, sources=seeds
        ).collect()
    }
    assert r == r2


@pytest.mark.slow  # ~7s (r11 fast tier)
def test_personalized_pagerank_ignores_out_of_graph_seeds(spark):
    """A seed id absent from the edge set must not dilute the teleport
    divisor |S| — it has no rank row, so counting it would leak its
    whole teleport share and drop total mass below scale."""
    from covid_data_pipeline_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    in_graph = spark.createDataFrame([(0,)], "node long")
    with_ghost = spark.createDataFrame([(0,), (999,)], "node long")
    a = sorted(
        map(tuple, pagerank_int(edges, iters=4, sources=in_graph).collect())
    )
    b = sorted(
        map(tuple, pagerank_int(edges, iters=4, sources=with_ghost).collect())
    )
    assert a == b
    total = sum(r for _, r in b)
    assert total > 0.999 * 10**12


def test_link_prediction_hand_graph(spark):
    import math

    from covid_data_pipeline_spark.operators.graph import link_prediction

    # K4 minus the 1-4 edge: (1,4) is the only non-adjacent pair with
    # common neighbors {2, 3}, both of degree 3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "src long, dst long"
    )
    out = link_prediction(edges, top=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"]) == (1, 4)
    assert r["common_neighbors"] == 2
    assert r["adamic_adar"] == round(2 / math.log(3), 4)


def test_link_prediction_direction_and_duplicate_invariant(spark):
    from covid_data_pipeline_spark.operators.graph import link_prediction

    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "src long, dst long"
    )
    # reversed orientations + duplicate edges must not change scores
    e2 = spark.createDataFrame(
        [(2, 1), (3, 2), (2, 3), (3, 1), (4, 3), (4, 2), (4, 2)],
        "src long, dst long",
    )
    assert sorted(map(tuple, link_prediction(e1).collect())) == sorted(
        map(tuple, link_prediction(e2).collect())
    )


def test_label_propagation_two_cliques_converge_to_min_ids(spark):
    from covid_data_pipeline_spark.operators.graph import label_propagation

    # two disjoint 4-cliques: plurality voting collapses each onto its
    # minimum id within two synchronous rounds (hand-checked)
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]), "src long, dst long"
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=2).collect()
    }
    assert all(got[n] == 1 for n in (1, 2, 3, 4))
    assert all(got[n] == 10 for n in (10, 11, 12, 13))


def test_label_propagation_deterministic_under_repartition(spark):
    from covid_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40)] + [(5, 6), (6, 7), (5, 7)],
        "src long, dst long",
    )
    a = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    b = sorted(
        map(tuple, label_propagation(edges.repartition(11), rounds=3).collect())
    )
    assert a == b


def test_kcore_clique_survives_tail_peels(spark):
    """5-clique + pendant path: k=3 keeps exactly the clique (degree 4
    each); the path peels away over multiple synchronous rounds."""
    from covid_data_pipeline_spark.operators.graph import kcore

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(4, 10), (10, 11), (11, 12)]  # hangs off clique node 4
    df = spark.createDataFrame(clique + path, "lo long, hi long")
    got = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}


def test_kcore_matches_python_peel_random(spark):
    """Synchronous peel fixpoint equals a plain-Python peel on a random
    graph, for several k."""
    import random

    from covid_data_pipeline_spark.operators.graph import kcore

    rng = random.Random(11)
    edges = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randint(0, 80), rng.randint(0, 80)) for _ in range(300)
        )
        if a != b
    }
    adj0 = {}
    for a, b in edges:
        adj0.setdefault(a, set()).add(b)
        adj0.setdefault(b, set()).add(a)
    df = spark.createDataFrame(sorted(edges), "lo long, hi long")
    for k in (2, 3, 4, 5):
        adj = {n: set(nb) for n, nb in adj0.items()}
        while True:
            drop = [n for n, nb in adj.items() if len(nb) < k]
            if not drop:
                break
            for n in drop:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
        expected = {n: len(nb) for n, nb in adj.items()}
        got = {
            r["node"]: r["core_degree"] for r in kcore(df, k=k).collect()
        }
        assert got == expected, f"k={k}"


def test_ktruss_k4_keeps_clique_drops_bowtie(spark):
    """K4 is its own 4-truss (every edge in 2 triangles); a bowtie of
    two triangles sharing an edge collapses entirely at k=4 (the shared
    edge alone can't keep support once the wings peel)."""
    from covid_data_pipeline_spark.operators.graph import ktruss

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    bowtie = [(10, 11), (10, 12), (11, 12), (11, 13), (12, 13)]
    df = spark.createDataFrame(k4 + bowtie, "lo long, hi long")
    got = {(r["lo"], r["hi"]): r["support"] for r in ktruss(df, 4).collect()}
    assert got == {e: 2 for e in k4}


def test_ktruss_matches_python_peel_random(spark):
    import random

    from covid_data_pipeline_spark.operators.graph import ktruss

    rng = random.Random(5)
    edges = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randint(0, 40), rng.randint(0, 40)) for _ in range(260)
        )
        if a != b
    }
    df = spark.createDataFrame(sorted(edges), "lo long, hi long")
    for k in (3, 4, 5):
        es = set(edges)
        while True:
            adj = {}
            for a, b in es:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            sup = {e: len(adj[e[0]] & adj[e[1]]) for e in es}
            drop = {e for e, s in sup.items() if s < k - 2}
            if not drop:
                break
            es -= drop
        expected = {e: sup[e] for e in es}
        got = {
            (r["lo"], r["hi"]): r["support"]
            for r in ktruss(df, k).collect()
        }
        assert got == expected, f"k={k}"
