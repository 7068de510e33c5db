"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the program under test comes from here and
is a pure function of (seed, size, GENERATOR_VERSION):

- the docs table: ``synth.spans_sql`` over the id range
  ``[seed_offset(seed, n), seed_offset(seed, n) + n)``, so every seed
  gets its own window of documents while keeping synth's three hot
  clusters (¼ of all docs);
- kNN query points, the mask polygon and the tile-serving request stream,
  drawn from ``numpy.random.default_rng`` keyed by the seed.

The docs of ids [0, SUPERSET_DOCS) are generated by Spark once per
checkout; a seed's window is then cut from them by DuckDB in about a
second. Windows are cached as parquet under the benchmark's work
directory, keyed by (seed, size, version); only the newest few are kept.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

GENERATOR_VERSION = 1
SUPERSET_DOCS = 1 << 20  # ids every seed's window is cut from
KEEP_CACHED = 6  # docs windows kept on disk; older ones are deleted

# Request mix of the tile-serving workload (closed loop), per block of
# 20 requests: 35 % styled, 20 % focal, 15 % masked, 30 % feature info.
# Each block is shuffled, so every run serves nearly the same mix. The
# mix, like the Zipf exponent and zoom share in request_stream, is an
# assumption, not derived from measured traffic (README.md lists them).
STYLED, FOCAL, MASKED, INFO = "styled", "focal", "masked", "info"
MIX_BLOCK = (STYLED,) * 7 + (FOCAL,) * 4 + (MASKED,) * 3 + (INFO,) * 6
INFO_POINTS = 16


def seed_offset(seed: int, n: int) -> int:
    """First doc id of the seed's window inside the generated id range."""
    return (int(seed) * 7919) % (SUPERSET_DOCS - n + 1)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed) % (1 << 32), stream])


def _superset(spark, cache_dir: str) -> str:
    """synth's docs for ids [0, SUPERSET_DOCS), generated with Spark once
    per checkout (the slow part of input generation)."""
    from pyspark.sql import functions as F

    from geotrellis_server_spark.sources import synth

    path = os.path.join(cache_dir, f"superset-v{GENERATOR_VERSION}-n{SUPERSET_DOCS}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = path + f".tmp{os.getpid()}"
        (spark.range(0, SUPERSET_DOCS, 1, 32)
         .select(F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
                 F.expr(synth.spans_sql("id")).alias("spans"))
         .write.mode("overwrite").option("compression", "zstd").parquet(tmp))
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def docs_parquet(spark, cache_dir: str, seed: int, n: int, files: int) -> str:
    """Path of the docs table for (seed, n): the seed's id window
    ``[seed_offset, seed_offset + n)`` of the generated range, copied by
    DuckDB into ``files`` zstd parquet files of consecutive ids."""
    import duckdb

    if not 0 < n <= SUPERSET_DOCS:
        raise ValueError(f"n_docs must be in 1..{SUPERSET_DOCS}")
    path = os.path.join(cache_dir, f"docs-v{GENERATOR_VERSION}-s{seed}-n{n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return path
    sup = _superset(spark, cache_dir)
    lo = seed_offset(seed, n)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"""CREATE TABLE w AS SELECT doc_id, spans
                        FROM read_parquet('{sup}/*.parquet')
                        WHERE doc_id >= 'doc-{lo:012d}' AND doc_id < 'doc-{lo + n:012d}'""")
        for j in range(files):
            a, b = lo + j * n // files, lo + (j + 1) * n // files
            con.execute(f"""COPY (SELECT * FROM w
                                  WHERE doc_id >= 'doc-{a:012d}' AND doc_id < 'doc-{b:012d}'
                                  ORDER BY doc_id)
                            TO '{tmp}/part-{j:05d}.parquet' (FORMAT PARQUET, COMPRESSION ZSTD)""")
    finally:
        con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _evict(cache_dir)
    return path


def _evict(cache_dir: str) -> None:
    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
               if e.startswith("docs-") and ".tmp" not in e]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_CACHED:]:
        shutil.rmtree(old, ignore_errors=True)


def knn_queries(seed: int, n: int) -> list[tuple[int, float, float]]:
    """(query_id, qlon, qlat): a quarter in synth's hot clusters, the rest
    one per cell of a grid over the docs' extent, at a seeded spot in
    the cell — every seed covers sparse and dense regions alike, so the
    kNN ring rounds needed vary little between seeds. Coordinates are
    multiples of 1/1024 degree, like the docs themselves."""
    rng = _rng(seed, 1)
    n_hot = n // 4
    c = rng.integers(0, 3, n_hot)
    hot_lon = -74.0 + 40.0 * c + rng.integers(-1024, 1024, n_hot) / 1024.0
    hot_lat = 40.0 - 30.0 * c + rng.integers(-1024, 1024, n_hot) / 1024.0
    m = n - n_hot
    cols = max(int(np.sqrt(m * 2)), 1)
    cell = np.arange(m)
    rows = -(-m // cols)
    lon = (cell % cols + rng.random(m)) * (360.0 / cols) - 180.0
    lat = (cell // cols + rng.random(m)) * (170.0 / rows) - 85.0
    lon = np.concatenate([hot_lon, np.floor(lon * 1024.0) / 1024.0])
    lat = np.concatenate([hot_lat, np.floor(lat * 1024.0) / 1024.0])
    return [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]


def mask_ring(seed: int) -> list[tuple[float, float]]:
    """A convex-ish quadrilateral around (0, 10) whose vertices are
    jittered by the seed; irregular coordinates keep pixel centres off
    its edges."""
    rng = _rng(seed, 2)
    base = [(-60.3, -20.7), (45.9, -33.1), (70.4, 38.6), (-85.2, 55.9)]
    return [(x + float(rng.uniform(-5, 5)), y + float(rng.uniform(-5, 5)))
            for x, y in base]


def pixel_center(z: int, tile_px: int, gx: int, gy: int) -> tuple[float, float]:
    """lon/lat of the centre of global pixel (gx, gy) at zoom z."""
    n = (1 << z) * tile_px
    lon = (gx + 0.5) / n * 360.0 - 180.0
    my = (gy + 0.5) / n
    lat = float(np.degrees(2.0 * np.arctan(np.exp(np.pi * (1.0 - 2.0 * my))) - np.pi / 2.0))
    return lon, lat


def request_stream(seed: int, n: int, max_zoom: int, tile_px: int) -> list[tuple]:
    """The tile-serving request sequence: (kind, z, x, y) for tile
    requests and (INFO, z, points, pixels) for GetFeatureInfo, where
    pixels are the global (gx, gy) pixel of each point. Tile keys are
    Zipf-skewed over a seeded permutation of the max-zoom keys, with a
    quarter of requests at coarser zooms, so the working set is larger
    than the engine's 32-entry cache while some keys repeat."""
    rng = _rng(seed, 3)
    side = 1 << max_zoom
    perm = rng.permutation(side * side)
    ranks = np.arange(1, side * side + 1, dtype=np.float64)
    p = ranks ** -1.4
    p /= p.sum()
    kinds = []
    while len(kinds) < n:
        kinds.extend(rng.permutation(MIX_BLOCK).tolist())
    out = []
    for kind in kinds[:n]:
        if kind == INFO:
            z = max_zoom
            npx = side * tile_px
            gx = rng.integers(0, npx, INFO_POINTS)
            gy = rng.integers(npx // 64, npx - npx // 64, INFO_POINTS)
            pts = [pixel_center(z, tile_px, int(a), int(b)) for a, b in zip(gx, gy)]
            out.append((INFO, z, pts, list(zip(gx.tolist(), gy.tolist()))))
        elif rng.random() < 0.75:
            k = int(perm[rng.choice(side * side, p=p)])
            out.append((kind, max_zoom, k % side, k // side))
        else:
            z = int(rng.integers(max_zoom - 3, max_zoom))
            s = 1 << z
            out.append((kind, z, int(rng.integers(0, s)), int(rng.integers(0, s))))
    return out
