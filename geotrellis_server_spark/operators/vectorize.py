"""Raster region labeling — the core of GeoTrellis ``vectorize``
(raster → polygons of constant value): label every maximal 4-connected
region of equal-valued cells with a deterministic id (the minimum
(cx, cy) of the region, packed), distributed.

Two-phase shape (the classic distributed-CC-on-a-grid decomposition):

1. tile-local labeling — cells partition into ``tile``×``tile`` blocks;
   one union-find per block (applyInPandas group = one block — bounded
   state) labels every cell with the min packed pixel id of its local
   region;
2. boundary merge — only cells on block borders can join regions
   across blocks: equal-value adjacent pairs straddling a border
   become edges between LOCAL labels, and the existing hash-min
   :func:`..graph.connected_components` merges them. The merge graph
   has one node per border-touching region — orders of magnitude
   smaller than the raster — and the final label is the hash-min
   component id, which (labels being min packed ids and hash-min
   taking mins) is the global min packed id of the merged region once
   ``n_iter`` covers the region-adjacency diameter.

Determinism: labels are pure min-folds of packed integer coordinates —
partition- and engine-exact at every phase; ``n_iter`` is part of the
contract exactly as in graph.connected_components (a spiral region
crossing k blocks needs n_iter ≥ k).

Scale shape: one exchange to group blocks, a row-local border-pair
self-join keyed by the neighbor block, the (small) label-graph rounds,
and one broadcast-friendly join back. Interior cells never enter the
merge graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PACK = 1 << 32


def region_label(
    cells: DataFrame,
    tile: int = 16,
    n_iter: int = 8,
    cx: str = "cx",
    cy: str = "cy",
    v: str = "v",
) -> DataFrame:
    """``(cx, cy, region)`` — region = min packed (cx·2³² + cy) over
    the cell's maximal 4-connected equal-value region (exact once
    n_iter ≥ the region's block-adjacency diameter)."""
    import numpy as np
    import pandas as pd

    base = cells.select(
        F.col(cx).alias("cx"), F.col(cy).alias("cy"),
        F.col(v).cast("long").alias("v"),
        F.expr(f"CAST(floor({cx} / {tile}.0) AS BIGINT)").alias("tx"),
        F.expr(f"CAST(floor({cy} / {tile}.0) AS BIGINT)").alias("ty"),
    )

    schema = T.StructType([
        T.StructField("cx", T.LongType()), T.StructField("cy", T.LongType()),
        T.StructField("v", T.LongType()), T.StructField("lbl", T.LongType()),
    ])

    def label_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        xs = pdf["cx"].to_numpy(np.int64)
        ys = pdf["cy"].to_numpy(np.int64)
        vs = pdf["v"].to_numpy(np.int64)
        idx = {(int(x), int(y)): i for i, (x, y) in enumerate(zip(xs, ys))}
        parent = np.arange(len(xs))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for i, (x, y) in enumerate(zip(xs, ys)):
            for nb in ((x + 1, y), (x, y + 1)):
                j = idx.get(nb)
                if j is not None and vs[j] == vs[i]:
                    ra, rb = find(i), find(j)
                    if ra != rb:
                        parent[rb] = ra
        packed = xs * _PACK + ys
        roots = np.array([find(i) for i in range(len(xs))])
        # label = min packed id within each local root
        lbl = np.full(len(xs), np.iinfo(np.int64).max)
        np.minimum.at(lbl, roots, packed)
        return pd.DataFrame({"cx": xs, "cy": ys, "v": vs,
                             "lbl": lbl[roots]})

    local = base.groupBy("tx", "ty").applyInPandas(
        label_block, schema).localCheckpoint(eager=True)

    # cross-block equal-value adjacencies (right and down only)
    a = local.selectExpr("cx", "cy", "v", "lbl")
    edges = None
    for dx, dy in ((1, 0), (0, 1)):
        b = local.selectExpr(f"cx - {dx} AS cx", f"cy - {dy} AS cy",
                             "v AS v2", "lbl AS lbl2")
        cross = (f"CAST(floor(cx / {tile}.0) AS BIGINT) <> "
                 f"CAST(floor((cx + {dx}) / {tile}.0) AS BIGINT) OR "
                 f"CAST(floor(cy / {tile}.0) AS BIGINT) <> "
                 f"CAST(floor((cy + {dy}) / {tile}.0) AS BIGINT)")
        e = (a.join(b, ["cx", "cy"])
             .where(f"v = v2 AND ({cross})")
             .select(F.col("lbl").alias("src"), F.col("lbl2").alias("dst")))
        edges = e if edges is None else edges.unionByName(e)

    from .graph import connected_components

    merged = connected_components(edges.distinct(), n_iter=n_iter).select(
        F.col("node").alias("lbl"), F.col("component").alias("region"))
    return (local.join(merged, "lbl", "left")
            .select("cx", "cy",
                    F.expr("coalesce(region, lbl)").alias("region")))


def unpack_region(region: int) -> tuple[int, int]:
    """region id → the (cx, cy) of the region's minimum cell."""
    return region // _PACK, region % _PACK


def region_stats(
    cells: DataFrame,
    tile: int = 16,
    n_iter: int = 8,
    cx: str = "cx",
    cy: str = "cy",
    v: str = "v",
) -> DataFrame:
    """Per-region polygon statistics — the summary half of GeoTrellis
    vectorize: ``(region, v, n_cells, perimeter, xmin, ymin, xmax,
    ymax)``. Perimeter counts exposed cell edges (4 per cell minus
    same-VALUE 4-neighbors — adjacent equal-valued cells are by
    definition the same region, so no second labeling join is needed
    for the edge term). All integers, exact.

    Scale shape: :func:`region_label`'s phases plus one self-join on
    the cell key for neighbor counts and ONE map-side-combined
    region aggregate."""
    lab = region_label(cells, tile=tile, n_iter=n_iter, cx=cx, cy=cy, v=v)
    base = cells.select(F.col(cx).alias("cx"), F.col(cy).alias("cy"),
                        F.col(v).cast("long").alias("v"))
    nbrs = base
    cnt = None
    for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
        m = nbrs.selectExpr(f"cx - {dx} AS cx", f"cy - {dy} AS cy",
                            "v AS v2")
        c = (base.join(m, ["cx", "cy"]).where("v = v2")
             .groupBy("cx", "cy").agg(F.count("*").alias("_k")))
        cnt = c if cnt is None else cnt.unionByName(c)
    same = cnt.groupBy("cx", "cy").agg(F.sum("_k").alias("n_same"))
    per_cell = (base.join(same, ["cx", "cy"], "left")
                .select("cx", "cy", "v",
                        F.expr("4 - coalesce(n_same, 0)").alias("exposed")))
    return (per_cell.join(lab, ["cx", "cy"])
            .groupBy("region")
            .agg(F.first("v").alias("v"),
                 F.count("*").alias("n_cells"),
                 F.sum("exposed").alias("perimeter"),
                 F.min("cx").alias("xmin"), F.min("cy").alias("ymin"),
                 F.max("cx").alias("xmax"), F.max("cy").alias("ymax")))
