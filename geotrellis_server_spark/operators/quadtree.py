"""Adaptive quadtree binning — split any tile whose doc count exceeds
``cap`` into its 4 children, down to ``max_z``. The vector answer to
skewed tile loads: hot cells (cities) get fine tiles, empty ocean stays
coarse — the same motivation as the engine's hot-H3-cell salting
(operators/skew.py) but producing a *layout* (leaf cells) instead of a
shuffle key. GeoTrellis serves fixed ZoomedLayoutScheme pyramids; the
adaptive tree is the standard companion structure for marker clustering
/ vector-tile generalization decisions at fleet scale.

Spark shape: exactly ONE data-sized exchange (the map-side-combined
groupBy onto max_z tile keys). Everything above that is metadata-scale:
8 rollup aggregates over ≤4^z rows and 8 tiny self-joins computing the
top-down split flags — each level's table is at most 4^z cells, so at
10^12 docs the post-aggregation tree work is bounded by the GRID
(≤65k rows at z8, ≤4^z above), not the data.

Semantics (exact, integer): a cell EXISTS iff every proper ancestor is
split; a cell is SPLIT iff it exists, has count > cap and z < max_z; a
cell is a LEAF iff it exists, has count > 0 and is not split. Leaves
partition the occupied cells of the grid: every doc lies in exactly one
leaf, so sum(leaf counts) == total docs (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def adaptive_quadtree(
    cells_maxz: DataFrame,
    max_z: int,
    cap: int,
    checkpoint: bool = True,
) -> DataFrame:
    """``cells_maxz``: (x, y, n) doc counts on the 2^max_z grid (the
    one data-sized aggregate, done by the caller). Returns leaf cells
    (z, x, y, n_docs).

    ``checkpoint`` eagerly materializes the max_z grid (≤4^max_z rows)
    and cuts lineage there: the max_z+1 leaf branches all re-read the
    tiny cached grid instead of each re-executing the data-sized scan
    and aggregation — without it the union re-runs the full input once
    per level (measured 7× slower at z8)."""
    base = cells_maxz.select(
        F.col("x").cast("long"), F.col("y").cast("long"),
        F.col("n").cast("long"))
    if checkpoint:
        base = base.localCheckpoint(eager=True)
    counts = {max_z: base}
    for z in range(max_z - 1, -1, -1):
        counts[z] = (counts[z + 1]
                     .groupBy(F.expr("x DIV 2").alias("x"),
                              F.expr("y DIV 2").alias("y"))
                     .agg(F.sum("n").alias("n")))

    leaves = []
    # split_prev = the z-1 cells that split (so their children exist)
    split_prev = None
    for z in range(0, max_z + 1):
        c = counts[z]
        if split_prev is None:          # root level: always exists
            exists = c
        else:
            par = split_prev.select(F.col("x").alias("px"),
                                    F.col("y").alias("py"))
            exists = (c.join(F.broadcast(par),
                             (F.expr("x DIV 2") == F.col("px"))
                             & (F.expr("y DIV 2") == F.col("py")))
                      .drop("px", "py"))
        if z == max_z:
            leaves.append(exists.select(F.lit(z).alias("z"), "x", "y",
                                        F.col("n").alias("n_docs")))
        else:
            leaves.append(exists.where(F.col("n") <= cap)
                          .select(F.lit(z).alias("z"), "x", "y",
                                  F.col("n").alias("n_docs")))
            split_prev = exists.where(F.col("n") > cap)
    out = leaves[0]
    for df in leaves[1:]:
        out = out.unionByName(df)
    return out


def quadtree_oracle_sql(cells_sql: str, max_z: int, cap: int) -> str:
    """Independent SQL derivation for DuckDB: rollup CTEs c{z}, split
    CTEs s{z} (top-down), leaves as a UNION ALL. ``cells_sql`` must
    yield (x, y, n) at max_z."""
    parts = [f"c{max_z} AS MATERIALIZED (SELECT CAST(x AS BIGINT) AS x,"
             f" CAST(y AS BIGINT) AS y, CAST(n AS BIGINT) AS n"
             f" FROM ({cells_sql}) qsrc)"]
    for z in range(max_z - 1, -1, -1):
        parts.append(
            f"c{z} AS MATERIALIZED (SELECT x // 2 AS x, y // 2 AS y,"
            f" sum(n) AS n FROM c{z + 1} GROUP BY 1, 2)")
    parts.append(f"s0 AS (SELECT x, y FROM c0 WHERE n > {cap})")
    for z in range(1, max_z):
        parts.append(
            f"s{z} AS (SELECT c.x, c.y FROM c{z} c"
            f" JOIN s{z - 1} p ON c.x // 2 = p.x AND c.y // 2 = p.y"
            f" WHERE c.n > {cap})")
    # the root is a leaf whatever its count when it is also the max_z level
    root_guard = "" if max_z == 0 else f" WHERE n <= {cap}"
    sel = [f"SELECT 0 AS z, x, y, n AS n_docs FROM c0{root_guard}"]
    for z in range(1, max_z + 1):
        guard = "" if z == max_z else f" WHERE c.n <= {cap}"
        sel.append(
            f"SELECT {z} AS z, c.x, c.y, c.n AS n_docs FROM c{z} c"
            f" JOIN s{z - 1} p ON c.x // 2 = p.x AND c.y // 2 = p.y{guard}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)
