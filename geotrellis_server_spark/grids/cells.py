"""Quadtree cell index over WebMercator — the engine's H3/S2 equivalent.

The engine ships its own deterministic cell scheme: a cell at resolution
``r`` is the WebMercator tile (r, cx, cy), packed as
``cell = cx * 2^r + cy`` (bigint, unique within a resolution). It gives
what the north rule needs from H3:

- point → cell encoding (pure SQL floor math → whole-stage codegen; the
  kNN ring loop explodes its cell disks in SQL from the same key),
- prefix coarsening: parent at res r-1 is (cx>>1, cy>>1) — used for
  range-partitioning shuffles by cell prefix (north rule).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import sqlgen
from .layout import tile_key_np


def cell_key_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    tx, ty = tile_key_np(lon, lat, res)
    return tx * (1 << res) + ty


def cell_xy(cell: int, res: int) -> tuple[int, int]:
    n = 1 << res
    return int(cell) // n, int(cell) % n


def cell_parent(cell: int, res: int, parent_res: int) -> int:
    cx, cy = cell_xy(cell, res)
    shift = res - parent_res
    return (cx >> shift) * (1 << parent_res) + (cy >> shift)


# --- Spark column builders (delegate to sqlgen so oracle SQL matches) ------


def cell_key_col(lon_col: str, lat_col: str, res: int) -> Column:
    return F.expr(sqlgen.cell_key_sql(lon_col, lat_col, res))
