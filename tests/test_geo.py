"""Spatial operators (`operators/geo.py`): hand-checkable geometries.

Oracle-level verification of the four geo queries runs in
tests/test_oracle_parity.py; these tests pin the operator semantics on
constructed points where the right answer is visible by eye — cell
boundary membership, pairs that straddle cell borders, kNN tie breaks,
and every DBSCAN role (core / border / noise) including the
min-cluster-id border assignment rule.
"""

from __future__ import annotations

import pytest

# r11 fast-tier marking (VERDICT r10 ask #3): the full suite runs ~52
# min, which times out the driver's verify window; this module's tests
# are in the SLOW tier (fast tier = `pytest tests/` with the default
# addopts, full suite = `pytest tests/ -m ""` — run per round).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from covid_data_pipeline_spark.operators.geo import (
    cell_density,
    dbscan,
    grid_cells,
    nearest_neighbors,
    radius_pairs,
)


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id BIGINT, x BIGINT, y BIGINT")


def test_grid_cells_boundary(spark):
    # coordinate == cell_size lands in the NEXT cell (floor semantics)
    df = _pts(spark, [(1, 0, 0), (2, 99, 100), (3, 100, 199), (4, 200, 0)])
    got = {
        r["id"]: (r["cell_x"], r["cell_y"])
        for r in grid_cells(df, "x", "y", 100).collect()
    }
    assert got == {1: (0, 0), 2: (0, 1), 3: (1, 1), 4: (2, 0)}


def test_grid_cells_rejects_nonpositive_cell(spark):
    df = _pts(spark, [(1, 0, 0)])
    with pytest.raises(ValueError):
        grid_cells(df, "x", "y", 0)


def test_cell_density_counts_and_extents(spark):
    df = _pts(spark, [(1, 5, 5), (2, 7, 9), (3, 15, 5)])
    rows = {
        (r["cell_x"], r["cell_y"]): r
        for r in cell_density(df, "x", "y", 10).collect()
    }
    assert rows[(0, 0)]["n_points"] == 2
    assert (rows[(0, 0)]["x_lo"], rows[(0, 0)]["x_hi"]) == (5, 7)
    assert (rows[(0, 0)]["y_lo"], rows[(0, 0)]["y_hi"]) == (5, 9)
    assert rows[(1, 0)]["n_points"] == 1


def test_radius_pairs_exact_once_across_cell_border(spark):
    # 1-2 straddle a cell border (dist 2 <= r=10); 3 is far away.
    df = _pts(spark, [(1, 9, 0), (2, 11, 0), (3, 500, 500)])
    rows = radius_pairs(df, "id", "x", "y", radius=10).collect()
    assert [(r["id_a"], r["id_b"], r["dist2"]) for r in rows] == [(1, 2, 4)]


def test_radius_pairs_boundary_inclusive(spark):
    # dist2 == radius^2 is IN (<=), one micro-degree farther is OUT
    df = _pts(spark, [(1, 0, 0), (2, 10, 0), (3, 0, 11)])
    rows = radius_pairs(df, "id", "x", "y", radius=10).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]


def test_nearest_neighbors_tiebreak_and_k(spark):
    # 2 and 3 are equidistant from 1 -> rank ties break on neighbor id
    df = _pts(spark, [(1, 0, 0), (2, 3, 0), (3, 0, 3), (4, 4, 0)])
    nn = nearest_neighbors(df, "id", "x", "y", radius=10, k=2)
    got = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["dist2"])
        for r in nn.collect()
    }
    assert got[(1, 1)] == (2, 9)
    assert got[(1, 2)] == (3, 9)
    # 4's nearest is 2 (dist2=1), then 1 (dist2=16)
    assert got[(4, 1)] == (2, 1)
    assert got[(4, 2)] == (1, 16)


def test_nearest_neighbors_isolated_point_absent(spark):
    df = _pts(spark, [(1, 0, 0), (2, 1, 0), (3, 10_000, 10_000)])
    ids = {r["id"] for r in
           nearest_neighbors(df, "id", "x", "y", radius=5).collect()}
    assert ids == {1, 2}


def test_dbscan_roles_and_min_border_assignment(spark):
    # Cluster A: 10,11,12,13 packed at x~0 (each sees all 4 -> core).
    # Cluster B: 20,21,22,23 packed at x~1000.
    # Border: 30 within eps of A's core 13 only (sees 2 pts < min_pts).
    # Noise: 40 isolated.
    rows = [
        (10, 0, 0), (11, 2, 0), (12, 0, 2), (13, 2, 2),
        (20, 1000, 0), (21, 1002, 0), (22, 1000, 2), (23, 1002, 2),
        (30, 6, 2),    # dist2 to 13 = 16, to 11 = 20 (both <= 25);
                       # to 10/12 > 25 -> sees 2 + self = 3 < min_pts
        (40, 5000, 5000),
    ]
    got = {
        r["id"]: (r["role"], r["cluster_id"])
        for r in dbscan(
            _pts(spark, rows), "id", "x", "y", eps=5, min_pts=4
        ).collect()
    }
    for k in (10, 11, 12, 13):
        assert got[k] == ("core", 10)
    for k in (20, 21, 22, 23):
        assert got[k] == ("core", 20)
    assert got[30] == ("border", 10)
    assert got[40] == ("noise", None)
    assert len(got) == len(rows)


def test_dbscan_min_pts_counts_self(spark):
    # 3 mutually-close points, min_pts=3: each sees 2 neighbors + itself
    rows = [(1, 0, 0), (2, 1, 0), (3, 0, 1)]
    got = {
        r["id"]: r["role"]
        for r in dbscan(
            _pts(spark, rows), "id", "x", "y", eps=2, min_pts=3
        ).collect()
    }
    assert got == {1: "core", 2: "core", 3: "core"}


def test_radius_pairs_plans_equi_join(spark):
    # the cell key must plan as an equi-join: never BNLJ/cartesian
    df = _pts(spark, [(i, i * 17 % 500, i * 31 % 500) for i in range(200)])
    pairs = radius_pairs(df, "id", "x", "y", radius=20)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_radius_join_two_relations_and_k(spark):
    from covid_data_pipeline_spark.operators.geo import radius_join

    a = spark.createDataFrame(
        [(1, 0, 0), (2, 100, 100)], "aid BIGINT, x BIGINT, y BIGINT"
    )
    b = spark.createDataFrame(
        [(10, 3, 0), (11, 0, 4), (12, 500, 500), (13, 103, 100)],
        "bid BIGINT, x BIGINT, y BIGINT",
    )
    got = sorted(
        (r["aid"], r["bid"], r["dist2"])
        for r in radius_join(a, b, "aid", "bid", "x", "y", radius=10).collect()
    )
    assert got == [(1, 10, 9), (1, 11, 16), (2, 13, 9)]
    # k=1: nearest only, rank carried
    top = {
        r["aid"]: (r["rank"], r["bid"], r["dist2"])
        for r in radius_join(
            a, b, "aid", "bid", "x", "y", radius=10, k=1
        ).collect()
    }
    assert top == {1: (1, 10, 9), 2: (1, 13, 9)}


def test_radius_join_same_id_name_roles(spark):
    from covid_data_pipeline_spark.operators.geo import radius_join

    a = spark.createDataFrame([(1, 0, 0)], "id BIGINT, x BIGINT, y BIGINT")
    b = spark.createDataFrame([(7, 1, 0)], "id BIGINT, x BIGINT, y BIGINT")
    rows = radius_join(a, b, "id", "id", "x", "y", radius=5).collect()
    assert [(r["id_a"], r["id_b"], r["dist2"]) for r in rows] == [(1, 7, 1)]


def _lattice(spark, counts):
    """(cell_x, cell_y, n_points) rows from a dict {(cx,cy): n}."""
    rows = [(cx, cy, n) for (cx, cy), n in counts.items()]
    return spark.createDataFrame(
        rows, "cell_x BIGINT, cell_y BIGINT, n_points BIGINT"
    )


def test_morans_matches_python_reference(spark):
    """Exact equality with a plain-Python queen-weights reference on
    hand lattices. (Note queen diagonals are SAME-color on a
    checkerboard, so its Moran is only mildly negative — vertical
    stripes are the strong-negative case.)"""
    from covid_data_pipeline_spark.operators.geo import morans_i

    cases = {
        "checker": ({(i, j): 8 * ((i + j) % 2)
                     for i in range(6) for j in range(6)}, -0.090909),
        "stripes": ({(i, j): 8 * (i % 2)
                     for i in range(6) for j in range(6)}, -0.454545),
        "blocks": ({(i, j): (8 if i >= 3 else 0)
                    for i in range(6) for j in range(6)}, 0.709091),
    }
    for name, (counts, want) in cases.items():
        r = morans_i(_lattice(spark, counts)).collect()[0]
        assert r["n_cells"] == 36
        assert abs(r["morans_i"] - want) < 1e-6, (name, r["morans_i"])


def test_gearys_matches_python_reference(spark):
    from covid_data_pipeline_spark.operators.geo import gearys_c

    cases = {
        "checker": ({(i, j): 8 * ((i + j) % 2)
                     for i in range(6) for j in range(6)}, 1.060606),
        "stripes": ({(i, j): 8 * (i % 2)
                     for i in range(6) for j in range(6)}, 1.414141),
        "blocks": ({(i, j): (8 if i >= 3 else 0)
                    for i in range(6) for j in range(6)}, 0.282828),
    }
    for name, (counts, want) in cases.items():
        c = gearys_c(_lattice(spark, counts)).collect()[0]["gearys_c"]
        assert abs(c - want) < 1e-6, (name, c)


def test_morans_constant_field_degenerate(spark):
    from covid_data_pipeline_spark.operators.geo import morans_i

    const = {(i, j): 5 for i in range(4) for j in range(4)}
    r = morans_i(_lattice(spark, const)).collect()[0]
    # zero variance -> 0/0; division yields NULL under ANSI-safe divide
    assert r["morans_i"] is None


def test_grid_cells_rejects_negative_coords(spark):
    """ADVICE r7: signed inputs silently produced trunc-div cells
    (double-width cell 0). The default now raises in-row; the radius
    joins opt out (candidate generation stays exact for signed
    coordinates)."""
    from pyspark.errors import SparkRuntimeException

    from covid_data_pipeline_spark.operators.geo import (
        grid_cells,
        radius_pairs,
    )

    df = spark.createDataFrame(
        [(1, -5, 10), (2, 3, 4)], "id BIGINT, x BIGINT, y BIGINT"
    )
    with pytest.raises(SparkRuntimeException, match="non-negative"):
        grid_cells(df, "x", "y", 100).collect()
    # signed coords remain fine for radius candidate generation
    got = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in radius_pairs(df, "id", "x", "y", radius=20).collect()
    }
    assert got == {(1, 2)}


def test_salted_candidate_join_identical_results(spark):
    """VERDICT r7 ask #5: the salt option must change only the plan
    (sub-key spread), never the result — checked on a deliberately
    pathological corpus with ~90% of points in ONE cell."""
    from covid_data_pipeline_spark.operators.geo import (
        nearest_neighbors,
        radius_join,
        radius_pairs,
    )

    rows = [(i, (i * 37) % 90, (i * 53) % 90) for i in range(450)]  # hot cell
    rows += [(1000 + i, 5000 + i * 31 % 800, 7000 + i * 17 % 800)
             for i in range(50)]
    df = _pts(spark, rows)

    base = {
        (r["id_a"], r["id_b"], r["dist2"])
        for r in radius_pairs(df, "id", "x", "y", radius=100).collect()
    }
    assert len(base) > 1000  # the hot cell really is quadratic-dense
    for s in (4, 7):
        got = {
            (r["id_a"], r["id_b"], r["dist2"])
            for r in radius_pairs(
                df, "id", "x", "y", radius=100, salt=s
            ).collect()
        }
        assert got == base, f"salt={s}"

    nn_base = {
        tuple(r) for r in nearest_neighbors(df, "id", "x", "y", 100, k=2).collect()
    }
    nn_salt = {
        tuple(r)
        for r in nearest_neighbors(df, "id", "x", "y", 100, k=2, salt=5).collect()
    }
    assert nn_salt == nn_base

    a = df.select(F.col("id").alias("aid"), "x", "y")
    b = df.select(F.col("id").alias("bid"), "x", "y")
    rj_base = {
        tuple(r) for r in radius_join(a, b, "aid", "bid", "x", "y", 100).collect()
    }
    rj_salt = {
        tuple(r)
        for r in radius_join(a, b, "aid", "bid", "x", "y", 100, salt=3).collect()
    }
    assert rj_salt == rj_base


def test_salted_interval_overlap_identical_results(spark):
    from covid_data_pipeline_spark.operators.intervals import (
        interval_overlap_join,
    )

    # 90% of intervals inside one 1000-wide cell
    a = spark.createDataFrame(
        [(i, (i * 7) % 900, (i * 7) % 900 + 50) for i in range(300)]
        + [(900 + i, 50_000 + i * 97, 50_000 + i * 97 + 20) for i in range(30)],
        "aid BIGINT, a_s BIGINT, a_e BIGINT",
    )
    b = spark.createDataFrame(
        [(i, (i * 11) % 900, (i * 11) % 900 + 40) for i in range(300)],
        "bid BIGINT, b_s BIGINT, b_e BIGINT",
    )
    base = {
        tuple(r)
        for r in interval_overlap_join(
            a, b, "a_s", "a_e", "b_s", "b_e", cell_size=1000
        ).collect()
    }
    assert len(base) > 2000
    for s in (4, 9):
        got = {
            tuple(r)
            for r in interval_overlap_join(
                a, b, "a_s", "a_e", "b_s", "b_e", cell_size=1000, salt=s
            ).collect()
        }
        assert got == base, f"salt={s}"


def test_haversine_predicate_vs_python_bruteforce(spark):
    """VERDICT r7 ask #6: radius_m swaps ONLY the verify predicate.
    Fixture at ~59.3ᵒN where planar micro-degree distance and geodesic
    meters disagree badly (lon degrees are ~half width); Python brute
    force is the independent reference; plan shape must stay a cell
    equi-join."""
    import math

    from covid_data_pipeline_spark.operators.geo import (
        EARTH_RADIUS_M,
        radius_join,
        radius_pairs,
    )

    def hav(lat_a, lon_a, lat_b, lon_b):
        to_rad = 1e-6 * math.pi / 180.0
        la, lb = lat_a * to_rad, lat_b * to_rad
        dlat, dlon = (lat_b - lat_a) * to_rad, (lon_b - lon_a) * to_rad
        h = (math.sin(dlat / 2) ** 2
             + math.cos(la) * math.cos(lb) * math.sin(dlon / 2) ** 2)
        return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(min(h, 1.0)))

    # x = lon, y = lat (micro-degrees), cluster near Stockholm
    pts = [(i, 18_060_000 + (i * 131) % 4000, 59_330_000 + (i * 71) % 4000)
           for i in range(120)]
    df = _pts(spark, pts)
    radius_m = 150.0  # candidate radius 4000 udeg >> 150m everywhere
    got = {
        (r["id_a"], r["id_b"]): r["dist_m"]
        for r in radius_pairs(
            df, "id", "x", "y", radius=4000, radius_m=radius_m
        ).collect()
    }
    want = {}
    for i, xi, yi in pts:
        for j, xj, yj in pts:
            if i < j:
                d = hav(yi, xi, yj, xj)
                if d <= radius_m:
                    want[(i, j)] = d
    assert set(got) == set(want)
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=1e-9), k

    out = radius_pairs(df, "id", "x", "y", radius=4000, radius_m=radius_m)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # k path ranks on geodesic distance
    a = df.select(F.col("id").alias("aid"), "x", "y")
    b = df.select(F.col("id").alias("bid"), "x", "y")
    # k=2: rank 1 is the self-pair (a and b are the same points), so
    # the nearest OTHER point is the rank-2 row
    # radius 4500 udeg ~ 501m: satisfies the r8 coverage floor for
    # radius_m=500 (4000 udeg ~ 445m would be rejected — and COULD miss
    # a 4001-udeg-apart latitude pair on a wider fixture)
    top = radius_join(
        a, b, "aid", "bid", "x", "y", radius=4500, k=2, radius_m=500.0
    ).collect()
    by_a = {r["aid"]: (r["bid"], r["dist_m"]) for r in top if r["rank"] == 2}
    for i, xi, yi in pts[:20]:
        cands = sorted(
            (hav(yi, xi, yj, xj), j) for j, xj, yj in pts if j != i
        )
        # rank-1 neighbor (haversine) must match when within 500m and
        # not a distance tie
        d, j = cands[0]
        if d <= 500.0 and not math.isclose(d, cands[1][0], rel_tol=1e-12):
            assert by_a[i][0] == j, i


def test_zorder_key_matches_python_interleave(spark):
    from covid_data_pipeline_spark.operators.geo import zorder_key

    def morton(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rows = [(x, y) for x in (0, 1, 5, 255, 260_000) for y in (0, 3, 7, 261_999)]
    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_key("x", "y", bits=18)).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == morton(x, y, 18), (x, y)
    # locality sanity: adjacent points share high key bits
    assert morton(100, 100, 18) >> 4 == morton(101, 101, 18) >> 4

    from pyspark.errors import SparkRuntimeException

    bad = spark.createDataFrame([(1 << 18, 0)], "x BIGINT, y BIGINT")
    with pytest.raises(SparkRuntimeException, match="outside"):
        bad.withColumn("z", zorder_key("x", "y", bits=18)).collect()
    with pytest.raises(ValueError):
        zorder_key("x", "y", bits=40)


def test_grid_cells_null_coord_propagates_null_cell(spark):
    """ADVICE r8: a NULL coordinate must yield a NULL cell under
    validate=True (the contract bans NEGATIVE coords, not missing
    ones) — not fall through the >= 0 guard into raise_error with a
    blank format_string('%d', NULL) message."""
    from covid_data_pipeline_spark.operators.geo import grid_cells

    df = spark.createDataFrame(
        [(1, None, 10), (2, 250, None), (3, 250, 10)],
        "id BIGINT, x BIGINT, y BIGINT",
    )
    got = {
        r["id"]: (r["cell_x"], r["cell_y"])
        for r in grid_cells(df, "x", "y", 100).collect()
    }
    assert got == {1: (None, 0), 2: (2, None), 3: (2, 0)}


def test_radius_geodesic_rejects_uncovering_candidate_radius(spark):
    """ADVICE r8 (medium): the docstring formula was off by 1000x; the
    operator now enforces the lat-independent floor radius >=
    radius_m / 0.11132 udeg so a caller following bad units fails
    loudly instead of silently dropping nearly all geodesic pairs."""
    from covid_data_pipeline_spark.operators.geo import (
        radius_join,
        radius_pairs,
    )

    a = spark.createDataFrame([(1, 100, 100)], "id BIGINT, x BIGINT, y BIGINT")
    # 300 m needs >= 2695 udeg; 300/111.32 ~ 2.7 udeg is the unit slip
    with pytest.raises(ValueError, match="cannot cover"):
        radius_join(a, a, "id", "id", "x", "y", radius=3, radius_m=300.0)
    with pytest.raises(ValueError, match="cannot cover"):
        radius_pairs(a, "id", "x", "y", radius=3, radius_m=300.0)
    # a covering radius is accepted (plan construction only)
    radius_join(a, a, "id", "id", "x", "y", radius=6000, radius_m=300.0)
    radius_pairs(a, "id", "x", "y", radius=6000, radius_m=300.0)


def test_haversine_pinned_59n_pair_set(spark):
    """VERDICT r8 ask #6: geo_radius_haversine is rows-only in the
    driver (libm trig differs across engines), so the geodesic
    predicate gets a LITERAL regression net here instead. Five points
    at ~59.33N, radius_m=200, expected pair set and distances pinned
    as literals (computed with Python math against the operator's
    EARTH_RADIUS_M=6371008.8). Includes planar-DISAGREEING cases: at
    59N (1,2) is 3000 udeg apart yet geodesically IN (170.16 m, the
    east-west shrink) while (1,3) is only 2000 udeg apart yet OUT
    (222.39 m north-south); (2,5) at 1803 udeg is IN while (3,4) at
    2062 udeg is OUT."""
    from covid_data_pipeline_spark.operators.geo import radius_pairs

    lon0, lat0 = 18_060_000, 59_330_000
    pts = [
        (1, lon0, lat0),
        (2, lon0 + 3000, lat0),
        (3, lon0, lat0 + 2000),
        (4, lon0 + 500, lat0),
        (5, lon0 + 2000, lat0 + 1500),
    ]
    df = _pts(spark, pts)
    got = {
        (r["id_a"], r["id_b"]): r["dist_m"]
        for r in radius_pairs(
            df, "id", "x", "y", radius=4000, radius_m=200.0
        ).collect()
    }
    want = {
        (1, 2): 170.159373,
        (1, 4): 28.359895,
        (2, 4): 141.799477,
        (2, 5): 176.172560,
        (3, 5): 126.326164,
        (4, 5): 187.237848,
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-5, (k, got[k])
    # the planar-closer point 3 must NOT pair with 1 (222.39 m > 200)
    assert (1, 3) not in got


def test_hilbert_key_matches_python_reference(spark):
    """Spark's F.aggregate fold vs the classic xy2d loop, across a
    dense small grid and the 18-bit domain corners; a NULL coordinate
    gives a NULL key, never key 0; bijectivity on the 4x4 grid pins the
    curve shape itself."""
    from covid_data_pipeline_spark.operators.geo import hilbert_key

    def rot(n, x, y, rx, ry):
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        return x, y

    def xy2d(order, x, y):
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x, y = rot(s, x, y, rx, ry)
            s //= 2
        return d

    rows = [(x, y) for x in range(8) for y in range(8)] + [
        (200_000, 123_456), (262_143, 0), (0, 262_143), (262_143, 262_143),
        (None, 5), (7, None),
    ]
    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in df.withColumn("h", hilbert_key("x", "y", bits=18)).collect()
    }
    assert len(got) == len(rows)
    assert all(
        h == (None if x is None or y is None else xy2d(18, x, y))
        for (x, y), h in got.items()
    )
    # 2-bit curve is the canonical U: bijective over the 4x4 grid
    df2 = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x BIGINT, y BIGINT"
    )
    vals = sorted(
        r["h"] for r in df2.withColumn("h", hilbert_key("x", "y", 2)).collect()
    )
    assert vals == list(range(16))

    with pytest.raises(ValueError):
        hilbert_key("x", "y", bits=0)
