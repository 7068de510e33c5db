"""Convex hull per group — Andrew's monotone chain (the textbook
O(n log n) algorithm; GeoTrellis exposes the same via JTS
``Geometry.convexHull``) in exact integer arithmetic over grid
coordinates: every turn test is a BIGINT cross product, so the hull
vertex set, its CCW order, and the doubled shoelace area are pure
functions of the input point set — partition- and run-exact.

Spark shape: one group-keyed applyInPandas (the same bounded-state
exchange as sessionize/simplify); per-group work is sort + linear
chain. For a 100-TB log the pragmatic pre-step is per-partition
hull-of-hull reduction (a hull is ≤ the point count and hulls
compose), which this module supports by simply running twice —
``hull_points(hull_points(df))`` — since the operator's output is
again a point table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def monotone_chain(pts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """CCW convex hull (y-up convention) of integer points; collinear
    boundary points are DROPPED (strict turns only); degenerate inputs
    (≤2 distinct points, or all collinear) return the sorted distinct
    endpoints."""
    P = sorted(set(map(tuple, pts)))
    if len(P) <= 2:
        return P

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in P:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(P):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    return hull if len(hull) >= 3 else P[:1] + P[-1:]


def shoelace2(hull: list[tuple[int, int]]) -> int:
    """Doubled signed area (exact integer; positive for CCW y-up)."""
    s = 0
    for (x1, y1), (x2, y2) in zip(hull, hull[1:] + hull[:1]):
        s += x1 * y2 - x2 * y1
    return s


HULL_SCHEMA = T.StructType([
    T.StructField("group", T.LongType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("n_vertices", T.IntegerType()),
    T.StructField("area2", T.LongType()),
])


def hull_points(
    points: DataFrame,
    group_col: str = "group",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group hull vertices in CCW order: (group, seq, x, y,
    n_vertices, area2) — area2 the exact doubled shoelace area."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = list(zip(pdf[x_col].astype(np.int64),
                       pdf[y_col].astype(np.int64)))
        hull = monotone_chain([(int(x), int(y)) for x, y in pts])
        a2 = shoelace2(hull) if len(hull) >= 3 else 0
        return pd.DataFrame({
            "group": int(key[0]),
            "seq": range(len(hull)),
            "x": [p[0] for p in hull],
            "y": [p[1] for p in hull],
            "n_vertices": len(hull),
            "area2": a2,
        })

    return points.groupBy(group_col).applyInPandas(run, HULL_SCHEMA)


DIAMETER_SCHEMA = T.StructType([
    T.StructField("grp", T.LongType()),
    T.StructField("diam2", T.LongType()),
    T.StructField("n_pairs", T.IntegerType()),
])


def hull_diameter(
    points: DataFrame,
    group_col: str = "group",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-group squared diameter (farthest pair) + the number of
    unordered pairs achieving it. Reduces through the hull first: both
    endpoints of any diameter are STRICT hull vertices (a point interior
    to a segment is strictly closer to every q than one of the
    endpoints), so the pair scan runs over h≪n vertices — brute force
    here since h is tiny; rotating calipers is the O(h) drop-in if a
    group's hull ever grows large. Exact BIGINT throughout."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = [(int(x), int(y))
               for x, y in zip(pdf[x_col].astype(np.int64),
                               pdf[y_col].astype(np.int64))]
        hull = monotone_chain(pts)
        best, n = 0, 0
        for i in range(len(hull)):
            xi, yi = hull[i]
            for j in range(i + 1, len(hull)):
                d = (xi - hull[j][0]) ** 2 + (yi - hull[j][1]) ** 2
                if d > best:
                    best, n = d, 1
                elif d == best and d > 0:
                    n += 1
        return pd.DataFrame(
            {"grp": [int(key[0])], "diam2": [best], "n_pairs": [n]})

    return points.groupBy(group_col).applyInPandas(run, DIAMETER_SCHEMA)


def hull_contains(
    points: DataFrame,
    test_points: DataFrame,
    group_col: str = "group",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Closed point-in-convex-hull test: for each row of ``test_points``
    (same group/x/y columns), is it inside-or-on the hull of that
    group's ``points``? Returns (grp, px, py, inside 0/1).

    Spark shape: the hull is tiny (h ≪ n), so its CCW edge list —
    built with one lead() window over the hull output — broadcasts;
    the test points join it group-keyed and reduce min(cross) ≥ 0 per
    point. Everything after the hull itself is JVM-side codegen on
    exact BIGINTs (a point is inside a convex region iff it is left of
    every CCW edge). Degenerate hulls classify too, with the dual
    supporting-half-plane semantics (matching the gate oracle): a
    2-vertex (collinear) hull emits BOTH directed edges (forward +
    wrap-around), so min(cross) >= 0 holds exactly on the infinite
    line through the points; a 1-vertex hull emits a self-edge whose
    cross is identically 0, so every test point is inside — the only
    supporting half-planes of a point set with no extent."""
    from pyspark.sql import Window

    h = hull_points(points, group_col, x_col, y_col)
    w = Window.partitionBy("group").orderBy("seq")
    edges = (
        h.select("group", "seq", "x", "y", "n_vertices",
                F.lead("x", 1).over(w).alias("qx"),
                F.lead("y", 1).over(w).alias("qy"))
        # last edge wraps to seq 0: lead is NULL there, fill from first
        .withColumn("qx", F.coalesce(
            "qx", F.first("x").over(w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing))))
        .withColumn("qy", F.coalesce(
            "qy", F.first("y").over(w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing))))
        .select(F.col("group").alias("eg"), "x", "y", "qx", "qy")
    )
    t = test_points.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("long").alias("px"),
        F.col(y_col).cast("long").alias("py"))
    cross = ((F.col("qx") - F.col("x")) * (F.col("py") - F.col("y"))
             - (F.col("qy") - F.col("y")) * (F.col("px") - F.col("x")))
    return (
        t.join(F.broadcast(edges), t.grp == edges.eg)
        .groupBy("grp", "px", "py")
        .agg(F.when(F.min(cross) >= 0, F.lit(1)).otherwise(F.lit(0))
             .alias("inside"))
    )
