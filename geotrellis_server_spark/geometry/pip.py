"""Vectorized point-in-polygon — numpy ray casting (shapely is not
available in this environment; the kernel is Arrow-batched, never per-row
Python, per the north rule).

Semantics: ``covers`` — boundary points count as inside, matching the
reference's quirk where ``Contains`` evaluates ``covers``
(core/.../store/query/RasterSourceRepository.scala:60; SURVEY.md Q1).
"""

from __future__ import annotations

import numpy as np


def points_in_ring(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-cast many points against one polygon ring.

    lon/lat: float64[N]; ring: float64[M, 2] (not closed).
    Returns bool[N]. Boundary points (on an edge or vertex) → True.
    O(N*M) vectorized — the broadcast side M is small by construction.
    """
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    rx = np.asarray([p[0] for p in ring], dtype=np.float64)
    ry = np.asarray([p[1] for p in ring], dtype=np.float64)
    x1, y1 = rx, ry
    x2, y2 = np.roll(rx, -1), np.roll(ry, -1)

    xp = x[:, None]
    yp = y[:, None]

    # Edge crossing test (half-open on vertices so each vertex counts once).
    cond = (y1[None, :] > yp) != (y2[None, :] > yp)
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = x1[None, :] + (yp - y1[None, :]) * ((x2 - x1)[None, :] / np.where(dy == 0, np.nan, dy)[None, :])
    crossings = cond & (xp < x_int)
    inside = (crossings.sum(axis=1) % 2) == 1

    # Boundary: point on segment → covers semantics.
    minx = np.minimum(x1, x2)[None, :]
    maxx = np.maximum(x1, x2)[None, :]
    miny = np.minimum(y1, y2)[None, :]
    maxy = np.maximum(y1, y2)[None, :]
    cross = (x2 - x1)[None, :] * (yp - y1[None, :]) - (xp - x1[None, :]) * (y2 - y1)[None, :]
    on_seg = (
        (np.abs(cross) < 1e-12)
        & (xp >= minx)
        & (xp <= maxx)
        & (yp >= miny)
        & (yp <= maxy)
    ).any(axis=1)
    return inside | on_seg


def envelope_cells(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> list[int]:
    """All res-cells intersecting the lon/lat envelope (inclusive bounds)."""
    from ..grids.layout import tile_key_np

    n = 1 << res
    tx0, ty1 = tile_key_np(np.array([xmin]), np.array([ymin]), res)  # south-west → max ty
    tx1, ty0 = tile_key_np(np.array([xmax]), np.array([ymax]), res)  # north-east → min ty
    out = []
    for cx in range(int(tx0[0]), int(tx1[0]) + 1):
        for cy in range(int(ty0[0]), int(ty1[0]) + 1):
            out.append(cx * n + cy)
    return out
