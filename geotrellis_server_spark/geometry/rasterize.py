"""Polygon → tile-mask rasterization (reference: MAML ``mask`` takes a
geometry and rasterizes it onto the tile grid,
ogc-example/docs/maml-operations.md:17; geotrellis Rasterizer semantics —
a pixel is in the mask iff its CENTER is covered by the polygon).

Rings are EPSG:4326 (lon, lat) — the same convention as the zone fixtures
(sources/synth.POLY_ZONES). Pixel centers are computed on the normalized
WebMercator grid (the tile layout's own CRS) and inverse-projected to
lon/lat, then classified with the vectorized ray-cast kernel
(geometry/pip.py — covers semantics: boundary pixels count as inside).

Scale shape: the MAML kernel rasterizes each tile of its Arrow batch
from the tile keys; cost is O(npix × ring edges) vectorized numpy per
tile, with no mask table, join or shuffle.
"""

from __future__ import annotations

import numpy as np

from .pip import points_in_ring


def ring_mask_block(
    ring, zoom: int, tile_x: int, tile_y: int, width: int, height: int, pad: int = 0
) -> np.ndarray:
    """(height + 2·pad, width + 2·pad) float array: 1.0 where the pixel
    center is covered by the lon/lat ring, else 0.0. The ``pad`` cells
    are the neighbouring tiles' pixels on the same grid.

    Pixel centers: global pixel gx = tile_x*width + col; normalized
    mercator mx = (gx + 0.5) / (2^zoom * width); lon = mx*360 - 180;
    lat = degrees(2*atan(exp(pi*(1 - 2*my))) - pi/2) — the exact inverse
    of sqlgen.mercator_y_sql.
    """
    nx = (1 << zoom) * width
    ny = (1 << zoom) * height
    mx = (tile_x * width + np.arange(-pad, width + pad, dtype=np.float64) + 0.5) / nx
    my = (tile_y * height + np.arange(-pad, height + pad, dtype=np.float64) + 0.5) / ny
    lon = mx * 360.0 - 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp(np.pi * (1.0 - 2.0 * my))) - np.pi / 2.0)
    LON, LAT = np.meshgrid(lon, lat)  # (h + 2·pad, w + 2·pad)
    inside = points_in_ring(LON.ravel(), LAT.ravel(), ring).reshape(LON.shape)
    return inside.astype(np.float64)
