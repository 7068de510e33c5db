"""Adaptive quadtree (operators/quadtree.py) — scalar reference
agreement, partition property, cap respect, SQL oracle agreement."""

import duckdb
import pytest

from geotrellis_server_spark.operators.quadtree import (adaptive_quadtree,
                                                        quadtree_oracle_sql)


def _scalar_quadtree(points, max_z, cap):
    """Reference: recursive descent over explicit cell counts."""
    from collections import Counter
    c_max = Counter((x >> 0, y >> 0) for x, y in points)
    counts = {max_z: c_max}
    for z in range(max_z - 1, -1, -1):
        c = Counter()
        for (x, y), n in counts[z + 1].items():
            c[(x // 2, y // 2)] += n
        counts[z] = c
    leaves = {}

    def visit(z, x, y):
        n = counts[z].get((x, y), 0)
        if n == 0:
            return
        if z == max_z or n <= cap:
            leaves[(z, x, y)] = n
            return
        for dx in (0, 1):
            for dy in (0, 1):
                visit(z + 1, 2 * x + dx, 2 * y + dy)

    visit(0, 0, 0)
    return leaves


@pytest.fixture(scope="module")
def pts():
    # deterministic skewed cloud: a hot cluster + sparse background
    out = []
    for i in range(3000):
        out.append(((i * 37) % 40 + 100, (i * 53) % 40 + 60))   # hot 40x40
    for i in range(1000):
        out.append(((i * 97) % 256, (i * 31) % 256))            # background
    return out


def test_spark_matches_scalar_reference(spark, pts):
    from pyspark.sql import functions as F

    ref = _scalar_quadtree(pts, 8, 50)
    cells = (spark.createDataFrame(pts, "x long, y long")
             .groupBy("x", "y").agg(F.count("*").alias("n")))
    got = {(r.z, r.x, r.y): r.n_docs
           for r in adaptive_quadtree(cells, 8, 50).collect()}
    assert got == ref
    # partition property: every doc in exactly one leaf
    assert sum(got.values()) == len(pts)
    # cap respected on non-max_z leaves
    assert all(n <= 50 for (z, x, y), n in got.items() if z < 8)
    # no leaf is an ancestor of another
    keys = set(got)
    for z, x, y in keys:
        zz, xx, yy = z, x, y
        while zz > 0:
            zz, xx, yy = zz - 1, xx // 2, yy // 2
            assert (zz, xx, yy) not in keys


def test_sql_oracle_matches_scalar(pts):
    # max_z=0: every point maps onto the 1x1 grid, so the root is the only
    # cell and a leaf even though its count is over the cap
    for max_z, cloud in ((8, pts), (0, [(x >> 8, y >> 8) for x, y in pts])):
        ref = _scalar_quadtree(cloud, max_z, 50)
        con = duckdb.connect()
        con.execute("CREATE TABLE p (x BIGINT, y BIGINT)")
        con.executemany("INSERT INTO p VALUES (?, ?)", cloud)
        sql = quadtree_oracle_sql(
            "SELECT x, y, count(*) AS n FROM p GROUP BY 1, 2", max_z, 50)
        got = {(z, x, y): n for z, x, y, n in con.execute(sql).fetchall()}
        assert got == ref, max_z


def test_all_under_cap_single_root():
    leaves = _scalar_quadtree([(1, 2), (3, 4)], 8, 50)
    assert leaves == {(0, 0, 0): 2}
