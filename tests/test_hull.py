"""Convex hull (geometry/hull.py) — brute-force containment reference,
collinear/degenerate handling, CCW order, exact areas, Spark path."""

import itertools
import random

import pytest

from geotrellis_server_spark.geometry.hull import (hull_contains,
                                                   hull_diameter,
                                                   hull_points,
                                                   monotone_chain,
                                                   shoelace2)


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _is_ccw_convex(h):
    n = len(h)
    return all(_cross(h[i], h[(i + 1) % n], h[(i + 2) % n]) > 0
               for i in range(n))


def _all_inside(h, pts):
    n = len(h)
    return all(
        all(_cross(h[i], h[(i + 1) % n], p) >= 0 for i in range(n))
        for p in pts)


def test_square_with_interior_and_edge_points():
    pts = [(0, 0), (4, 0), (4, 4), (0, 4), (2, 2), (2, 0), (0, 3)]
    h = monotone_chain(pts)
    assert set(h) == {(0, 0), (4, 0), (4, 4), (0, 4)}
    assert _is_ccw_convex(h)
    assert shoelace2(h) == 32  # 2 * 16


def test_random_clouds_contain_everything():
    rng = random.Random(11)
    for _ in range(25):
        pts = [(rng.randint(-50, 50), rng.randint(-50, 50))
               for _ in range(40)]
        h = monotone_chain(pts)
        if len(h) >= 3:
            assert _is_ccw_convex(h)
            assert _all_inside(h, pts)
            assert shoelace2(h) > 0
        # hull of hull is idempotent
        assert monotone_chain(h) == h


def test_degenerate_collinear_and_tiny():
    assert monotone_chain([(1, 1)]) == [(1, 1)]
    assert monotone_chain([(1, 1), (1, 1)]) == [(1, 1)]
    assert monotone_chain([(0, 0), (5, 5)]) == [(0, 0), (5, 5)]
    # all collinear → the two endpoints
    assert monotone_chain([(0, 0), (1, 1), (2, 2), (3, 3)]) == [(0, 0), (3, 3)]


def test_spark_hull_per_group(spark):
    rows = ([(1, x, y) for x, y in
             [(0, 0), (6, 0), (6, 6), (0, 6), (3, 3), (1, 5)]]
            + [(2, x, y) for x, y in [(10, 10), (12, 10), (11, 14)]])
    df = spark.createDataFrame(rows, "group long, x long, y long")
    out = {}
    for r in hull_points(df).collect():
        out.setdefault(r.group, []).append(r)
    g1 = sorted(out[1], key=lambda r: r.seq)
    assert {(r.x, r.y) for r in g1} == {(0, 0), (6, 0), (6, 6), (0, 6)}
    assert g1[0].area2 == 72 and g1[0].n_vertices == 4
    assert _is_ccw_convex([(r.x, r.y) for r in g1])
    g2 = sorted(out[2], key=lambda r: r.seq)
    assert g2[0].n_vertices == 3 and g2[0].area2 == 8


def test_spark_hull_eval_type_is_inferred_from_hints(spark):
    import warnings

    df = spark.createDataFrame([(1, 0, 0), (1, 2, 0), (1, 0, 2)], "group long, x long, y long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        hull_points(df).collect()
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def test_diameter_vs_all_pairs_brute_force(spark):
    rng = random.Random(7)
    rows = []
    for g in range(4):
        rows += [(g, rng.randint(-40, 40), rng.randint(-40, 40))
                 for _ in range(35)]
    df = spark.createDataFrame(rows, "group long, x long, y long")
    got = {r.grp: (r.diam2, r.n_pairs) for r in hull_diameter(df).collect()}
    for g in range(4):
        pts = sorted({(x, y) for gg, x, y in rows if gg == g})
        d2 = [( (a[0]-b[0])**2 + (a[1]-b[1])**2 )
              for a, b in itertools.combinations(pts, 2)]
        best = max(d2)
        assert got[g] == (best, d2.count(best))


def test_hull_contains_vs_scalar(spark):
    rng = random.Random(19)
    rows, tests = [], []
    for g in range(3):
        rows += [(g, rng.randint(-30, 30), rng.randint(-30, 30))
                 for _ in range(40)]
        tests += [(g, rng.randint(-40, 40), rng.randint(-40, 40))
                  for _ in range(60)]
    pdf = spark.createDataFrame(rows, "group long, x long, y long")
    tdf = spark.createDataFrame(sorted(set(tests)),
                                "group long, x long, y long")
    got = {(r.grp, r.px, r.py): r.inside
           for r in hull_contains(pdf, tdf).collect()}

    hulls = {g: monotone_chain([(x, y) for gg, x, y in rows if gg == g])
             for g in range(3)}
    for g, px, py in set(tests):
        h = hulls[g]
        want = int(all(_cross(h[i], h[(i + 1) % len(h)], (px, py)) >= 0
                       for i in range(len(h))))
        assert got[(g, px, py)] == want, (g, px, py)
    # sanity: both classes occur
    assert 0 < sum(got.values()) < len(got)


def test_hull_contains_degenerate_groups(spark):
    # supporting-half-plane semantics for degenerate hulls (the gate
    # oracle's dual formulation): a collinear group classifies a test
    # point inside iff it lies ON the infinite line through the points;
    # a single-point group has no supporting half-plane of finite
    # extent, so every test point is inside.
    rows = ([(0, x, 2 * x + 1) for x in range(5)]      # collinear, slope 2
            + [(1, 7, -3)])                            # single point
    tests = [(0, 2, 5), (0, 10, 21), (0, 2, 6), (0, 0, 0),
             (1, 7, -3), (1, 100, 100)]
    pdf = spark.createDataFrame(rows, "group long, x long, y long")
    tdf = spark.createDataFrame(tests, "group long, x long, y long")
    got = {(r.grp, r.px, r.py): r.inside
           for r in hull_contains(pdf, tdf).collect()}
    assert got == {(0, 2, 5): 1,      # on the line (also on the segment)
                   (0, 10, 21): 1,    # on the infinite line, off-segment
                   (0, 2, 6): 0, (0, 0, 0): 0,   # off the line
                   (1, 7, -3): 1, (1, 100, 100): 1}


def test_spark_partition_invariance(spark):
    rows = [(i % 3, (i * 17) % 23, (i * 7) % 19) for i in range(90)]
    df = spark.createDataFrame(rows, "group long, x long, y long")
    a = sorted(map(tuple, hull_points(df).collect()))
    b = sorted(map(tuple, hull_points(df.repartition(7)).collect()))
    assert a == b
