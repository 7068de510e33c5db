"""MAML evaluation over tile DataFrames — the engine's LayerExtent /
LayerTms analog (core/.../LayerExtent.scala:46-66, LayerTms.scala:50-80).

``eval_expr`` is the one evaluator, for local and focal expressions
alike. Each raster var is read with the buffer its focal ops need
(Vars.varsWithBuffer, LayerTms.scala:66): plain cells at buffer 0, the
strips-only halo pivot (operators/focal.py) otherwise. The reads are
equi-joined on the tile key (SURVEY.md J4: multi-var alignment, e.g.
red × nir for NDVI), and ONE Arrow-batched pandas UDF runs the fused
numpy kernel (maml/kernels.py) once per tile size in each batch over
(n, h+2b, w+2b) tile stacks — never per-row Python.

Tile DataFrame contract: columns (zoom, tile_x, tile_y, width, height,
cells: array<double>); NaN = NoData.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.focal import STRIP_COLS, with_halo
from .ast import Expr
from .kernels import compile_node, fold_constants

KEY = ["zoom", "tile_x", "tile_y"]


def eval_expr(expr: Expr, params: dict[str, DataFrame]) -> DataFrame:
    """Evaluate ``expr`` over the tile DataFrames bound to its vars in
    ``params``; one output row per tile key present in every var (the
    key includes ``band`` when every var has one).

    Local expressions read no halo and join no mask table. Geometry
    literals (mask-by-geometry) are rasterized in the kernel from the
    tile keys, out to the buffer of their node. Under a focal op the pad
    cells of such a mask therefore come from the polygon even where the
    neighbour tile is missing. The masked operand is NaN there anyway,
    so only ``def``/``undef`` of it can tell: ``fmean(mask(def(d),
    geom))`` counts such a cell as 0 where a NaN-padded mask tile would
    skip it."""
    names, pads, kernel = compile_expr(expr, params)
    key = align_key(params[n] for n in names)

    reads, cols = [], []
    for n in names:
        if pads[n]:
            src, parts = with_halo(params[n], pads[n]), ("s_c",) + STRIP_COLS
        else:
            src, parts = params[n], ("cells",)
        reads.append(src.select(*key, "width", "height",
                                *[F.col(p).alias(f"__{n}_{p}") for p in parts]))
        cols += [f"__{n}_{p}" for p in parts]
    joined = reduce(
        lambda a, b: a.join(b.drop("width", "height"), key, "inner"), reads[1:], reads[0]
    )

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def tile_kernel(*series: pd.Series) -> pd.Series:
        arrays = [s.to_numpy() for s in series]
        tiles, lists = arrays[:5], arrays[5:]
        sizes = np.stack(tiles[3:], axis=1)
        out = np.empty(len(sizes), dtype=object)
        for size in np.unique(sizes, axis=0):
            rows = np.flatnonzero((sizes == size).all(axis=1))
            res = run_tiles(kernel, names, pads,
                            [a[rows] for a in tiles], [a[rows] for a in lists])
            for i, r in zip(rows, res):
                out[i] = r
        return pd.Series(out)

    return joined.select(
        *key, "width", "height",
        tile_kernel(*KEY, "width", "height", *cols).alias("cells"),
    )


def compile_expr(expr: Expr, params) -> tuple[list[str], dict[str, int], object]:
    """Fold and compile ``expr`` against the vars bound in ``params``:
    its sorted var names, each var's halo buffer and the kernel closure.
    Shared by ``eval_expr`` and the engine's request path."""
    expr = fold_constants(expr)
    names = sorted(expr.var_names())
    if not names:
        # constant expression (e.g. fully folded scalar): there is no tile
        # grid to broadcast it over — reference MAML likewise needs at
        # least one bound raster (Vars) to define the output grid.
        raise ValueError(
            "MAML expression has no raster vars after constant folding; "
            "bind at least one raster var to define the output tile grid"
        )
    missing = [n for n in names if n not in params]
    if missing:
        raise KeyError(f"unbound MAML vars: {missing}")
    return names, expr.vars_with_buffer(), compile_node(expr)


def align_key(tiles) -> list[str]:
    """The key the vars' tile DataFrames align on: ``band`` joins it when
    every input is multiband-aware (TILE_SCHEMA) — otherwise band 0 of
    one var would join band 1 of another (many-to-many duplication)."""
    return KEY + ["band"] if all("band" in t.columns for t in tiles) else list(KEY)


def run_tiles(kernel, names, pads, tiles, lists) -> np.ndarray:
    """``compile_node``'s closure over n tiles of ONE size: the kernel
    entry of ``eval_expr``'s UDF. ``tiles`` holds the (zoom, tile_x,
    tile_y, width, height) arrays; ``lists`` holds, per var in ``names``
    order, the cells column at buffer 0, else the ``with_halo`` body and
    8 strip columns (NULL strip = NaN pad). Returns the (n, h*w) float64
    result rows."""
    env, j = {}, 0
    for n in names:
        k = 9 if pads[n] else 1
        env[n] = _stack(tiles, pads[n], lists[j:j + k])
        j += k
    res = np.asarray(kernel(env, tiles), dtype=np.float64)
    n, w, h = len(tiles[0]), int(tiles[3][0]), int(tiles[4][0])
    if res.ndim == 0:
        res = np.broadcast_to(res, (n, h, w))
    return res.reshape(n, -1)


def _lens(col: np.ndarray) -> np.ndarray:
    """Length of each list row; -1 for a NULL row."""
    return np.fromiter((-1 if v is None else len(v) for v in col), np.int64, len(col))


def _stack(tiles, b: int, lists) -> np.ndarray:
    """(n, h+2b, w+2b) float64 stack of n same-sized tiles from their
    body column and, for b > 0, their 8 halo strip columns."""
    zoom, tx, ty, ws, hs = tiles
    n, w, h = len(zoom), int(ws[0]), int(hs[0])

    def key(i):
        return (int(zoom[i]), int(tx[i]), int(ty[i]))

    body = lists[0]
    lens = _lens(body)
    if (lens != w * h).any():
        i = int(np.argmax(lens != w * h))
        got = "NULL cells" if lens[i] < 0 else f"{lens[i]} cells"
        raise ValueError(f"the {w}x{h} tile {key(i)} holds {got}")
    cells = np.stack(body).reshape(n, h, w)
    if not b:
        return cells
    out = np.full((n, h + 2 * b, w + 2 * b), np.nan)
    out[:, b:b + h, b:b + w] = cells
    e, s = b + w, b + h  # first east column, first south row
    spots = (  # STRIP_COLS order: side, padded-block rows, cols
        ("north-west", slice(0, b), slice(0, b)),
        ("north", slice(0, b), slice(b, e)),
        ("north-east", slice(0, b), slice(e, e + b)),
        ("west", slice(b, s), slice(0, b)),
        ("east", slice(b, s), slice(e, e + b)),
        ("south-west", slice(s, s + b), slice(0, b)),
        ("south", slice(s, s + b), slice(b, e)),
        ("south-east", slice(s, s + b), slice(e, e + b)),
    )
    for strip, (side, rs, cs) in zip(lists[1:], spots):
        shape = (rs.stop - rs.start, cs.stop - cs.start)
        lens = _lens(strip)
        bad = (lens >= 0) & (lens != shape[0] * shape[1])
        if bad.any():
            i = int(np.argmax(bad))
            dim = "width" if side in ("north", "south") else "height"
            raise ValueError(
                f"focal neighbours must share one tile size: the {side} "
                f"neighbour of the {w}x{h} tile {key(i)} has {dim} {lens[i] // b}")
        have = np.flatnonzero(lens >= 0)
        if len(have):
            out[have, rs, cs] = np.stack(strip[have]).reshape(len(have), *shape)
    return out


def crop_to_extent(
    tiles: DataFrame,
    extent: tuple[float, float, float, float],
    layout_extent_for,
) -> DataFrame:
    """R6 crop: keep tiles intersecting the window; edge tiles get cells
    outside the window set to NaN (reference crops to
    RasterExtent(extent).gridBoundsFor, LayerExtent.scala:63-65). The
    window is expressed in the tiles' own CRS coordinates.

    ``layout_extent_for``: fn(zoom, tx, ty) -> Extent of the tile."""
    xmin, ymin, xmax, ymax = extent

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def crop(cells, w_s, h_s, zoom_s, tx_s, ty_s):
        out = []
        for c, w, h, z, tx, ty in zip(cells, w_s, h_s, zoom_s, tx_s, ty_s):
            te = layout_extent_for(int(z), int(tx), int(ty))
            a = np.asarray(c, dtype=np.float64).reshape(h, w)
            cw = (te.xmax - te.xmin) / w
            ch = (te.ymax - te.ymin) / h
            cols = np.arange(w) * cw + te.xmin + cw / 2  # cell centers
            rows = te.ymax - (np.arange(h) * ch + ch / 2)
            keep = (
                (cols >= xmin)[None, :]
                & (cols <= xmax)[None, :]
                & (rows >= ymin)[:, None]
                & (rows <= ymax)[:, None]
            )
            out.append(np.where(keep, a, np.nan).ravel())
        return pd.Series(out)

    return tiles.withColumn(
        "cells", crop("cells", "width", "height", "zoom", "tile_x", "tile_y")
    )
