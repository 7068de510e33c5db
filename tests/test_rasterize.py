"""Polygon → tile-mask rasterization tests: concave ring vs an
independent scalar ray-cast oracle, and mask-by-geometry end-to-end
through eval_expr (reference: maml-operations.md:17 mask semantics)."""

import math

import numpy as np

from geotrellis_server_spark.geometry.rasterize import ring_mask_block
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.maml.eval import eval_expr
from geotrellis_server_spark.sources import synth

# concave "U" shape from the shared fixtures (lon/lat)
U_RING = [(-60.0, 40.0), (0.0, 40.0), (0.0, 80.0), (-20.0, 80.0),
          (-20.0, 60.0), (-40.0, 60.0), (-40.0, 80.0), (-60.0, 80.0)]


def _naive_inside(x, y, ring):
    """Independent implementation: textbook scalar even-odd ray cast
    (different code path from geometry/pip.points_in_ring)."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > y) != (y2 > y):
            xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if x < xi:
                inside = not inside
    return inside


def _center_lonlat(zoom, tx, ty, w, h, col, row):
    nx = (1 << zoom) * w
    ny = (1 << zoom) * h
    mx = (tx * w + col + 0.5) / nx
    my = (ty * h + row + 0.5) / ny
    lon = mx * 360.0 - 180.0
    lat = math.degrees(2.0 * math.atan(math.exp(math.pi * (1.0 - 2.0 * my))) - math.pi / 2.0)
    return lon, lat


def test_concave_ring_mask_vs_naive_oracle():
    # z2 tiles covering the U's neighborhood: tile (1,0) and (1,1) at z2
    # span lon [-90, 0] — the U lives inside
    for (tx, ty) in [(1, 0), (1, 1), (0, 1)]:
        got = ring_mask_block(U_RING, 2, tx, ty, 16, 16)
        for row in range(16):
            for col in range(16):
                lon, lat = _center_lonlat(2, tx, ty, 16, 16, col, row)
                want = 1.0 if _naive_inside(lon, lat, U_RING) else 0.0
                assert got[row, col] == want, (tx, ty, row, col, lon, lat)


def test_concave_mask_has_hole():
    # the U's notch (lon -40..-20, lat 60..80) must be OUTSIDE
    got = ring_mask_block(U_RING, 2, 1, 0, 32, 32)
    assert got.sum() > 0
    # a point in the notch: lon=-30, lat=70 → find its pixel
    nx = 4 * 32
    mx = (-30.0 + 180.0) / 360.0
    col = int(mx * nx) - 1 * 32
    my = 0.5 - math.log(math.tan(math.pi / 4 + math.radians(70.0) / 2)) / (2 * math.pi)
    row = int(my * nx) - 0 * 32
    assert got[row, col] == 0.0
    # a point inside the left arm: lon=-50, lat=70
    col2 = int((-50.0 + 180.0) / 360.0 * nx) - 32
    assert got[row, col2] == 1.0


def test_mask_by_geometry_end_to_end(spark):
    # 2x2 world grid at z1, 8x8 tiles, constant value 7 — mask by the U:
    # cells outside → NoData (None/NaN), inside → 7
    rows = []
    for tx in range(2):
        for ty in range(2):
            rows.append(("d", 1, tx, ty, 0, 8, 8, 0.0, 0.0, 1.0, 1.0, "float64",
                         float("nan"), [7.0] * 64))
    tiles = spark.createDataFrame(rows, synth.TILE_SCHEMA)
    out = eval_expr(M.mask(M.var("d"), M.geom(U_RING)), {"d": tiles})
    got = {(r.tile_x, r.tile_y): r.cells for r in out.collect()}
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    n_in = n_out = 0
    for (tx, ty), cells in got.items():
        for i, v in enumerate(cells):
            row, col = i // 8, i % 8
            lon, lat = _center_lonlat(1, tx, ty, 8, 8, col, row)
            if _naive_inside(lon, lat, U_RING):
                assert v == 7.0
                n_in += 1
            else:
                assert v is None or (isinstance(v, float) and math.isnan(v))
                n_out += 1
    assert n_in > 0 and n_out > 0


def test_polygon_stats_known_shapes(spark):
    from geotrellis_server_spark.geometry.wkt import polygon_stats

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))"),      # CCW rect
         (2, "POLYGON ((0 0, 0 2, 4 2, 4 0, 0 0))"),      # CW rect
         (3, "POLYGON ((0 0, 2 0, 1 3, 0 0))")],          # triangle
        "zone_id BIGINT, wkt STRING",
    )
    rows = {r.zone_id: r for r in polygon_stats(df).collect()}
    assert rows[1].area == 8.0 and rows[1].signed_area == 8.0
    assert rows[2].area == 8.0 and rows[2].signed_area == -8.0
    assert (rows[1].cx, rows[1].cy) == (2.0, 1.0)
    assert (rows[2].cx, rows[2].cy) == (2.0, 1.0)
    assert rows[3].area == 3.0
    assert abs(rows[3].cx - 1.0) < 1e-12 and abs(rows[3].cy - 1.0) < 1e-12
    assert rows[3].n_vertices == 3
