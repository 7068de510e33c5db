"""Output checks that do not use the code under test.

DuckDB reads the same parquet files the program reads or writes, and
numpy recomputes the raster results from their definitions: the zone
grid, WebMercator tile keys, exact kNN by brute force, focal mean, the
polygon mask, the colour ramp and the PNG format. Nothing here imports
``geotrellis_server_spark``.
"""

from __future__ import annotations

import json
import struct
import zlib

import duckdb
import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

# The docs' geometry: first span of kind 'geo', text 'POINT(lon lat)'.
_POINTS_SQL = """
SELECT doc_id,
       CAST(regexp_extract(wkt, '^POINT\\((\\S+) (\\S+)\\)$', 1) AS DOUBLE) AS lon,
       CAST(regexp_extract(wkt, '^POINT\\((\\S+) (\\S+)\\)$', 2) AS DOUBLE) AS lat
FROM (
  SELECT doc_id,
         spans[list_position(list_transform(spans, s -> s.kind), 'geo')].text AS wkt
  FROM read_parquet('{path}/*.parquet')
)
"""

MAX_LAT = 85.05112877980659


def _tile_y_sql(lat: str, zoom: int) -> str:
    n = 1 << zoom
    c = f"least(greatest({lat}, {-MAX_LAT}), {MAX_LAT})"
    y = f"(0.5 - ln(tan(pi()/4.0 + radians({c})/2.0)) / (2.0*pi()))"
    return f"CAST(greatest(least(floor({y} * {n}), {n - 1}), 0) AS BIGINT)"


def _tile_x_sql(lon: str, zoom: int) -> str:
    n = 1 << zoom
    return f"CAST(greatest(least(floor((({lon}) + 180.0) / 360.0 * {n}), {n - 1}), 0) AS BIGINT)"


class Oracle:
    """One DuckDB connection per run; closed by ``close``."""

    def __init__(self, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")

    def close(self) -> None:
        self.con.close()

    # -- docs_join -----------------------------------------------------------
    def load_points(self, docs_path: str) -> None:
        """Materialize the docs' points once; every later check reads it."""
        self.con.execute(
            "CREATE OR REPLACE TABLE pts AS " + _POINTS_SQL.format(path=docs_path))

    def point_arrays(self):
        doc_id, lon, lat = self.con.execute(
            "SELECT doc_id, lon, lat FROM pts ORDER BY doc_id").fetchnumpy().values()
        return np.asarray(doc_id), np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)

    def n_points(self) -> int:
        return int(self.con.execute("SELECT count(*) FROM pts").fetchone()[0])

    def expect_zone_tiles(self, zoom: int) -> None:
        """Expected per-(zone, tile) counts: the 10×10 half-open zone grid
        over [-180,180)×[-85,85) (36°×17° cells), tiles at ``zoom``."""
        self.con.execute(f"""
            CREATE OR REPLACE TABLE expect_zt AS
            SELECT CAST(floor((lat + 85.0) / 17.0) * 10 + floor((lon + 180.0) / 36.0) AS BIGINT) AS zone_id,
                   {_tile_x_sql('lon', zoom)} AS tile_x,
                   {_tile_y_sql('lat', zoom)} AS tile_y,
                   count(*) AS n_docs
            FROM pts
            WHERE lon >= -180.0 AND lon < 180.0 AND lat >= -85.0 AND lat < 85.0
            GROUP BY ALL""")

    def zone_tile_mismatches(self, out_path: str) -> int:
        """Rows of the job's output that differ from the expectation,
        plus expected rows that are missing."""
        return int(self.con.execute(f"""
            SELECT count(*) FROM expect_zt e
            FULL OUTER JOIN (SELECT zone_id, tile_x, tile_y, n_docs
                             FROM read_parquet('{out_path}/*.parquet')) g
            USING (zone_id, tile_x, tile_y)
            WHERE e.n_docs IS DISTINCT FROM g.n_docs""").fetchone()[0])

    # -- raster_pyramid / tile_serving ---------------------------------------
    def pyramid_levels(self, pyr_path: str) -> dict[int, tuple[int, float]]:
        """zoom → (tiles, sum of all cells)."""
        rows = self.con.execute(f"""
            SELECT zoom, count(*), sum(list_sum(cells))
            FROM read_parquet('{pyr_path}/*/*.parquet', hive_partitioning = true)
            GROUP BY zoom""").fetchall()
        return {int(z): (int(n), float(s)) for z, n, s in rows}

    def parent_keys(self, pyr_path: str, zoom: int) -> int:
        """Distinct parents of the tiles at ``zoom``."""
        return int(self.con.execute(f"""
            SELECT count(DISTINCT (tile_x // 2, tile_y // 2))
            FROM read_parquet('{pyr_path}/zoom={zoom}/*.parquet')""").fetchone()[0])

    def tiles(self, path: str, keys=None) -> dict[tuple[int, int], np.ndarray]:
        """(tile_x, tile_y) → (h, w) float64 array for the parquet files
        directly under ``path`` (optionally only ``keys``)."""
        where = ""
        if keys is not None:
            keys = list(keys)
            if not keys:
                return {}
            where = "WHERE (tile_x, tile_y) IN (" + ", ".join(
                f"({int(x)}, {int(y)})" for x, y in keys) + ")"
        tbl = self.con.execute(f"""
            SELECT tile_x, tile_y, width, height, cells
            FROM read_parquet('{path}/*.parquet') {where}""").arrow()
        out = {}
        xs, ys = tbl["tile_x"].to_pylist(), tbl["tile_y"].to_pylist()
        ws, hs = tbl["width"].to_pylist(), tbl["height"].to_pylist()
        cells = tbl["cells"].combine_chunks()
        flat = cells.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        offs = cells.offsets.to_numpy()
        for i, (x, y, w, h) in enumerate(zip(xs, ys, ws, hs)):
            out[(int(x), int(y))] = flat[offs[i]:offs[i + 1]].reshape(int(h), int(w))
        return out


def focal_mean(level: dict, key: tuple[int, int], r: int = 1) -> np.ndarray:
    """3×3 (radius r) NaN-ignoring mean over the tile and its neighbours
    at the same zoom; absent neighbours are NoData. A NoData centre stays
    NoData."""
    x, y = key
    body = level[key]
    h, w = body.shape
    pad = np.full((h + 2 * r, w + 2 * r), np.nan)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            nb = level.get((x + dx, y + dy))
            if nb is None:
                continue
            src = nb[max(0, h - r) if dy < 0 else 0: r if dy > 0 else h,
                     max(0, w - r) if dx < 0 else 0: r if dx > 0 else w]
            ys = slice(0, r) if dy < 0 else slice(r + h, None) if dy > 0 else slice(r, r + h)
            xs = slice(0, r) if dx < 0 else slice(r + w, None) if dx > 0 else slice(r, r + w)
            pad[ys, xs] = src
    win = sliding_window_view(pad, (2 * r + 1, 2 * r + 1))
    with np.errstate(all="ignore"):
        valid = (~np.isnan(win)).sum(axis=(-2, -1))
        total = np.where(np.isnan(win), 0.0, win).sum(axis=(-2, -1))
        out = total / valid
    return np.where(np.isnan(body), np.nan, out)


def _in_ring(lon: np.ndarray, lat: np.ndarray, ring) -> np.ndarray:
    """Even-odd ray casting."""
    inside = np.zeros(lon.shape, dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        crosses = (y1 > lat) != (y2 > lat)
        with np.errstate(all="ignore"):
            xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (lon < xint)
    return inside


def masked(body: np.ndarray, ring, zoom: int, key: tuple[int, int]) -> np.ndarray:
    """``body`` with every pixel whose centre lies outside the lon/lat
    ring set to NoData."""
    h, w = body.shape
    tx, ty = key
    mx = (tx * w + np.arange(w) + 0.5) / ((1 << zoom) * w)
    my = (ty * h + np.arange(h) + 0.5) / ((1 << zoom) * h)
    lon = mx * 360.0 - 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp(np.pi * (1.0 - 2.0 * my))) - np.pi / 2.0)
    LON, LAT = np.meshgrid(lon, lat)
    return np.where(_in_ring(LON, LAT, ring), body, np.nan)


def same_cells(got: np.ndarray, want: np.ndarray) -> bool:
    return got.shape == want.shape and bool(
        np.allclose(got, want, rtol=1e-12, atol=0.0, equal_nan=True))


def colormap(values: np.ndarray, poles: dict) -> np.ndarray:
    """Piecewise-linear RGBA ramp between poles, edge colours extended,
    NoData transparent."""
    xs = np.array(sorted(poles), dtype=np.float64)
    cols = np.array([poles[x] for x in xs], dtype=np.float64)
    v = values.astype(np.float64)
    out = np.stack([np.interp(v, xs, cols[:, c]) for c in range(4)], axis=-1)
    out[np.isnan(v)] = 0.0
    return np.round(out).astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """8-bit RGBA PNG → (h, w, 4) uint8, all five scanline filters."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, hdr = 8, [], None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    w, h, depth, ctype = hdr[:4]
    if depth != 8 or ctype != 6:
        raise ValueError(f"unsupported PNG: depth {depth}, colour type {ctype}")
    raw = zlib.decompress(b"".join(idat))
    bpp, stride = 4, w * 4
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        f = raw[r * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, r * (stride + 1) + 1).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) & 0xFF
        else:
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                cur[i] = (line[i] + pred) & 0xFF
        out[r] = cur
        prev = cur
    return out.reshape(h, w, 4)


def feature_values(response: str) -> dict[int, float]:
    """GeoJSON FeatureCollection → point_id → value."""
    doc = json.loads(response)
    return {int(f["properties"]["point_id"]): f["properties"]["value"]
            for f in doc["features"]}


def knn_brute_force(doc_id, lon, lat, qlon: float, qlat: float, k: int):
    """Exact k nearest docs by squared degree distance, ties by doc_id:
    [(doc_id, dist_sq)] in rank order."""
    dx = lon - qlon
    dy = lat - qlat
    d = dx * dx + dy * dy
    kth = np.partition(d, k - 1)[k - 1]
    idx = np.nonzero(d <= kth)[0]
    best = sorted(zip(d[idx].tolist(), doc_id[idx].tolist()))[:k]
    return [(i, dd) for dd, i in best]
