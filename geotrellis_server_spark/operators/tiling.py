"""Tile assignment & vector→raster rasterization (SURVEY.md R4/J2 — the
core tile-assignment op, GeoTrellis ``tileToLayout`` +
``SpatialKey`` parity, ogc/.../TiledOgcLayer.scala:97-113).

All key math is Spark SQL floor arithmetic (whole-stage codegen; identical
fragments drive the DuckDB oracle via sqlgen). Rasterization is a
two-phase aggregation: (1) groupBy (tile, pixel) count — partial map-side
aggregation collapses hot cells before any shuffle, so skewed doc
clusters don't skew the exchange; (2) pixel rows → dense cells array via
one Arrow-batched scatter UDF (measured far faster than the "pure JVM"
map+transform alternative, whose map lookups are linear scans).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqlgen


def assign_tiles(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return points.withColumn("tile_x", F.expr(sqlgen.tile_x_sql(lon, zoom))).withColumn(
        "tile_y", F.expr(sqlgen.tile_y_sql(lat, zoom))
    )


def tile_counts(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Per-tile document counts at ``zoom`` — the benchmark aggregation."""
    return (
        assign_tiles(points, zoom, lon, lat)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_docs"))
    )


def project_to_epsg(
    points: DataFrame, dst_epsg: int, lon: str = "lon", lat: str = "lat",
    x_col: str = "x", y_col: str = "y",
) -> DataFrame:
    """lon/lat → projected (x, y) in any registered CRS, as ONE
    Arrow-batched pandas UDF (the closed-form numpy transforms in
    grids.proj — Karney TM / LAEA / polar stereographic aren't
    SQL-expressible). Emits a struct so the transform runs once per row,
    not once per output column."""
    from ..grids import proj

    # dynamically-registered CRSs (grids/proj4.py) exist only in the
    # driver's registry — ship the entry inside the closure
    snap = proj.registry_snapshot(dst_epsg)

    @F.pandas_udf("x double, y double")
    def _proj(lo: pd.Series, la: pd.Series) -> pd.DataFrame:
        proj.ensure_entries(snap)
        x, y = proj.transform(lo.to_numpy(np.float64), la.to_numpy(np.float64),
                              4326, dst_epsg)
        return pd.DataFrame({"x": x, "y": y})

    out = points.withColumn("_xy", _proj(F.col(lon), F.col(lat)))
    return out.withColumn(x_col, F.col("_xy.x")).withColumn(
        y_col, F.col("_xy.y")
    ).drop("_xy")


def assign_tiles_layout(
    points: DataFrame, layout, x_col: str = "x", y_col: str = "y",
) -> DataFrame:
    """SpatialKey assignment over PROJECTED coordinates for an arbitrary
    LayoutDefinition (CrsLayoutScheme levels) — plain floor arithmetic,
    whole-stage codegen, same clamp convention as the WebMercator
    fragments. The projection itself (if needed) happens upstream in
    project_to_epsg; layers already stored in a projected CRS key
    directly."""
    e = layout.extent
    tw, th = layout.tile_width, layout.tile_height
    tx = (
        f"CAST(greatest(least(floor(({x_col} - CAST({e.xmin!r} AS DOUBLE)) / "
        f"CAST({tw!r} AS DOUBLE)), {layout.layout_cols - 1}), 0) AS BIGINT)"
    )
    ty = (
        f"CAST(greatest(least(floor((CAST({e.ymax!r} AS DOUBLE) - {y_col}) / "
        f"CAST({th!r} AS DOUBLE)), {layout.layout_rows - 1}), 0) AS BIGINT)"
    )
    return points.withColumn("tile_x", F.expr(tx)).withColumn("tile_y", F.expr(ty))


def pixel_index_sql(lon: str, lat: str, zoom: int, tile_size: int = 256) -> tuple[str, str, str, str]:
    """(tile_x, tile_y, px, py) SQL fragments. Global pixel grid at zoom z
    is 2^z * tile_size; within-tile pixel = global - tile * tile_size.
    Mirrors GridExtent.mapToGrid floor convention (SURVEY.md §1.1)."""
    gx = sqlgen.tile_x_sql(lon, zoom)  # tile level
    gy = sqlgen.tile_y_sql(lat, zoom)
    n_px = (1 << zoom) * tile_size
    gpx = f"CAST(greatest(least(floor(({sqlgen.mercator_x_sql(lon)}) * {n_px}), {n_px - 1}), 0) AS BIGINT)"
    gpy = f"CAST(greatest(least(floor(({sqlgen.mercator_y_sql(lat)}) * {n_px}), {n_px - 1}), 0) AS BIGINT)"
    px = f"(({gpx}) - ({gx}) * {tile_size})"
    py = f"(({gpy}) - ({gy}) * {tile_size})"
    return gx, gy, px, py


def rasterize_count(
    points: DataFrame, zoom: int, tile_size: int = 256, lon: str = "lon", lat: str = "lat"
) -> DataFrame:
    """Vector→raster: per-tile density grid (docs per pixel) as a dense
    ``cells: array<double>`` row per tile — the raster↔vector map-algebra
    bridge (north rule). Output matches sources.synth.TILE_SCHEMA core
    columns."""
    tx, ty, px, py = pixel_index_sql(lon, lat, zoom, tile_size)
    pix = points.select(
        F.expr(tx).alias("tile_x"),
        F.expr(ty).alias("tile_y"),
        (F.expr(py) * tile_size + F.expr(px)).alias("pixel"),
    )
    per_pixel = pix.groupBy("tile_x", "tile_y", "pixel").agg(F.count("*").alias("cnt"))

    return _densify_tiles(per_pixel, zoom, tile_size)


def _densify_tiles(per_pixel: DataFrame, zoom: int, tile_size: int) -> DataFrame:
    """(tile_x, tile_y, pixel, cnt) → dense cells arrays. Arrow-batched
    scatter — NOT transform(sequence)+element_at(map): Spark map lookup is
    a linear scan, making that JVM-side variant quadratic per tile
    (measured 102s vs 3.5s at 1M docs / 256 tiles)."""
    npix = tile_size * tile_size

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def densify(pixels: pd.Series, cnts: pd.Series) -> pd.Series:
        out = []
        for p, c in zip(pixels, cnts):
            a = np.zeros(npix)
            a[np.asarray(p, dtype=np.int64)] = np.asarray(c, dtype=np.float64)
            out.append(a)
        return pd.Series(out)

    per_tile = per_pixel.groupBy("tile_x", "tile_y").agg(
        F.collect_list("pixel").alias("_ps"), F.collect_list("cnt").alias("_cs")
    )
    return per_tile.select(
        F.lit(zoom).alias("zoom"),
        "tile_x",
        "tile_y",
        F.lit(tile_size).alias("width"),
        F.lit(tile_size).alias("height"),
        densify("_ps", "_cs").alias("cells"),
    )


def rasterize_count_layout(
    points: DataFrame, scheme, zoom: int, x_col: str = "x", y_col: str = "y",
) -> DataFrame:
    """rasterize_count over an ARBITRARY CrsLayoutScheme level — the
    custom-CRS pyramid BUILD path (points already projected, e.g. via
    project_to_epsg): global-pixel floor keying in pure SQL, then the
    same two-phase agg + Arrow scatter as the WebMercator variant."""
    lay = scheme.layout(zoom)
    ts = lay.tile_cols
    e = lay.extent
    gw, gh = lay.layout_cols * ts, lay.layout_rows * ts
    cw, ch = lay.cell_width, lay.cell_height
    gx = (
        f"CAST(greatest(least(floor(({x_col} - CAST({e.xmin!r} AS DOUBLE)) / "
        f"CAST({cw!r} AS DOUBLE)), {gw - 1}), 0) AS BIGINT)"
    )
    gy = (
        f"CAST(greatest(least(floor((CAST({e.ymax!r} AS DOUBLE) - {y_col}) / "
        f"CAST({ch!r} AS DOUBLE)), {gh - 1}), 0) AS BIGINT)"
    )
    pix = points.select(
        F.expr(f"({gx}) DIV {ts}").alias("tile_x"),
        F.expr(f"({gy}) DIV {ts}").alias("tile_y"),
        F.expr(f"(({gy}) % {ts}) * {ts} + (({gx}) % {ts})").alias("pixel"),
    )
    per_pixel = pix.groupBy("tile_x", "tile_y", "pixel").agg(F.count("*").alias("cnt"))
    return _densify_tiles(per_pixel, zoom, ts)


def pyramid_up(
    tiles: DataFrame, agg: str = "sum", fill: float = 0.0,
    impl: str = "arrow",
) -> DataFrame:
    """Pyramid rollup: build zoom z-1 tiles from zoom z by 2×2 pixel
    aggregation — GeoTrellis ``Pyramid.up`` (spark/.../pyramid/
    Pyramid.scala). Two implementations, bit-identical (tests assert
    equality):

    - ``impl="arrow"`` (default): the per-cell work (2×2 downsample,
      quadrant assembly) runs as numpy slices inside two mapInPandas
      kernels around the one parent-key shuffle. Spark's higher-order
      array functions (transform/slice/flatten) never enter whole-stage
      codegen — they run on the interpreted expression evaluator, whose
      JIT-compiled speed depends on which OTHER queries ran first in
      the session (measured: the same pyramid query runs 0.8 s with a
      clean profile and a persistent 2-5 s when the interpreter's call
      sites were first compiled against a session that had run other
      HOF-heavy operators — every suite run, in practice). numpy is
      immune to that hazard and equally fast on the clean profile.
    - ``impl="sql"``: the original pure-SQL form below (also the shape
      the oracle mirrors), kept as the equality witness.

    The SQL formulation:

    1. each child tile downsamples to a quarter-size quadrant
       (``transform(sequence)`` + O(1) array indexing — JVM-side), with
       ``agg`` = 'sum' (counts: parent pixel = sum of its 4 children,
       so rolling up a density raster EQUALS rasterizing at z-1
       directly — the oracle contract) | 'mean' (continuous data — the
       GDAL-average overview recipe) | 'max',
    2. the 4 quadrants group to the parent key and assemble via the
       same any_value(when())-pivot + slice/concat idiom as the focal
       halo assembly (operators/focal.py) — one shuffle on the parent
       key, the natural partitioning for writing the next level.

    Missing children fill with ``fill`` (0 for count layers; NaN keeps
    NoData for continuous layers). Input tiles must share one (zoom,
    width, height) — the Arrow kernels raise ValueError on a batch that
    mixes sizes, holds an odd size, a NULL ``cells`` row or a list whose
    length is not width*height; output halves the zoom's tile count,
    same tile size.
    Iterating z..1 materializes the whole pyramid in log2 rounds, each
    a narrow shuffle of quarter-size quadrants (¼ the naive volume of
    re-keying raw points per level)."""
    if agg not in ("sum", "mean", "max"):
        raise ValueError("agg must be one of ['max', 'mean', 'sum']")
    if impl not in ("arrow", "sql"):
        raise ValueError(f"impl must be 'arrow' or 'sql', got {impl!r}")
    if impl == "arrow":
        return _pyramid_up_arrow(tiles, agg, fill)
    return _pyramid_up_sql(tiles, agg, fill)


def _list_rows(col, size: int):
    """(null_mask, offsets, flat float64 values) of an Arrow list column.
    Built from the raw buffers so NaN elements stay NaN (pandas
    round-trips would coerce them to null). Raises ValueError when a
    non-NULL row's length (per the offsets) is not ``size``."""
    mask = np.asarray(col.is_null())
    offs = np.asarray(col.offsets)
    lens = np.diff(offs)
    bad = ~mask & (lens != size)
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(f"list row {i} holds {lens[i]} values, expected {size}")
    vals = np.asarray(col.values, dtype=np.float64)
    return mask, offs, vals


def _list_col(arr2d):
    """numpy (n, k) float64 -> pa list<double> rows, NaN-preserving.
    Offsets are computed in int64; a list<double> column holds int32
    offsets, so more than 2**31 - 1 values raise instead of wrapping."""
    import pyarrow as pa

    n, k = arr2d.shape
    if n * k >= 2**31:
        raise ValueError(
            f"{n} rows x {k} values overflow int32 list offsets; "
            "use smaller Arrow batches (spark.sql.execution.arrow."
            "maxRecordsPerBatch)")
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int64) * k, type=pa.int32()),
        pa.array(arr2d.reshape(-1), type=pa.float64()))


def _batch_tile_size(b) -> tuple[int, int]:
    """The one (width, height) of every row in an Arrow batch. The
    kernels reshape whole batches, so a mixed or odd size would silently
    corrupt neighbouring tiles; both raise ValueError instead."""
    w = np.asarray(b.column("width"))
    h = np.asarray(b.column("height"))
    if (w != w[0]).any() or (h != h[0]).any():
        raise ValueError(
            "pyramid_up requires one tile size per batch, got "
            f"{sorted(set(zip(w.tolist(), h.tolist())))} (width, height)")
    if w[0] % 2 or h[0] % 2:
        raise ValueError(
            f"pyramid_up requires even tile size, got {int(w[0])}x{int(h[0])}")
    return int(w[0]), int(h[0])


def _pyramid_up_arrow(tiles: DataFrame, agg: str, fill: float) -> DataFrame:
    """numpy-kernel pyramid_up. FP-order parity with the SQL form:
    sum/mean accumulate ((TL + TR) + BL) + BR element-wise — the same
    left-to-right order as the SQL ``a + b + c + d`` — and max uses
    np.maximum (NaN-propagating, matching Spark ``greatest`` where NaN
    compares greater than every value), so doubles are bit-identical."""
    import pyarrow as pa

    sql_schema = _pyramid_up_sql(tiles, agg, fill).schema  # analysis only

    def down_kernel(batches):
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            w, h = _batch_tile_size(b)
            mask, offs, vals = _list_rows(b.column("cells"), h * w)
            if mask.any():
                raise ValueError(
                    f"pyramid_up: NULL cells in row {int(np.argmax(mask))}")
            cells = vals[offs[0]:offs[-1]].reshape(n, h, w)
            a = cells[:, 0::2, 0::2]
            bb = cells[:, 0::2, 1::2]
            c = cells[:, 1::2, 0::2]
            d = cells[:, 1::2, 1::2]
            if agg == "sum":
                q = ((a + bb) + c) + d
            elif agg == "mean":
                q = (((a + bb) + c) + d) / 4.0
            else:
                q = np.maximum(np.maximum(np.maximum(a, bb), c), d)
            tx = np.asarray(b.column("tile_x"))
            ty = np.asarray(b.column("tile_y"))
            yield pa.record_batch(
                [pa.array(np.asarray(b.column("zoom")) - 1),
                 pa.array((tx - np.mod(tx, 2)) // 2),
                 pa.array((ty - np.mod(ty, 2)) // 2),
                 pa.array(np.mod(tx, 2).astype(np.int32)),
                 pa.array(np.mod(ty, 2).astype(np.int32)),
                 pa.array(np.full(n, w, np.int32)),
                 pa.array(np.full(n, h, np.int32)),
                 _list_col(q.reshape(n, -1))],
                names=["zoom", "tile_x", "tile_y", "qx", "qy",
                       "width", "height", "qcells"])

    quad_schema = T.StructType([
        T.StructField("zoom", T.LongType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("qx", T.IntegerType()),
        T.StructField("qy", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("qcells", T.ArrayType(T.DoubleType())),
    ])
    quads = tiles.select(
        F.col("zoom").cast("long").alias("zoom"),
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "cells",
    ).mapInArrow(down_kernel, quad_schema)

    def pick(qx: int, qy: int) -> F.Column:
        return F.any_value(
            F.when((F.col("qx") == qx) & (F.col("qy") == qy),
                   F.col("qcells")), True).alias(f"q_{qx}{qy}")

    per_parent = quads.groupBy("zoom", "tile_x", "tile_y").agg(
        pick(0, 0), pick(1, 0), pick(0, 1), pick(1, 1),
        F.any_value(F.col("width"), True).alias("width"),
        F.any_value(F.col("height"), True).alias("height"),
    )

    out_schema = T.StructType([
        T.StructField("zoom", T.LongType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("cells", T.ArrayType(T.DoubleType())),
    ])

    def asm_kernel(batches):
        for b in batches:
            nrow = b.num_rows
            if not nrow:
                continue
            w, h = _batch_tile_size(b)
            h2, w2 = h // 2, w // 2
            out = np.empty((nrow, h, w), dtype=np.float64)
            missing = np.full((h2, w2), fill, dtype=np.float64)
            views = {"00": (slice(None, h2), slice(None, w2)),
                     "10": (slice(None, h2), slice(w2, None)),
                     "01": (slice(h2, None), slice(None, w2)),
                     "11": (slice(h2, None), slice(w2, None))}
            for k, (rs, cs) in views.items():
                mask, offs, vals = _list_rows(b.column(f"q_{k}"), h2 * w2)
                for i in range(nrow):
                    out[i, rs, cs] = (missing if mask[i] else
                                      vals[offs[i]:offs[i + 1]]
                                      .reshape(h2, w2))
            yield pa.record_batch(
                [b.column("zoom"), b.column("tile_x"), b.column("tile_y"),
                 pa.array(np.full(nrow, w, np.int32)),
                 pa.array(np.full(nrow, h, np.int32)),
                 _list_col(out.reshape(nrow, -1))],
                names=["zoom", "tile_x", "tile_y",
                       "width", "height", "cells"])

    out = per_parent.mapInArrow(asm_kernel, out_schema)
    # column order + types exactly as the SQL form produces them
    return out.select(
        *(F.col(f.name).cast(f.dataType) for f in sql_schema.fields))


def _pyramid_up_sql(tiles: DataFrame, agg: str, fill: float) -> DataFrame:
    ops = {
        "sum": lambda a, b, c, d: f"{a} + {b} + {c} + {d}",
        "mean": lambda a, b, c, d: f"({a} + {b} + {c} + {d}) / 4.0",
        "max": lambda a, b, c, d: f"greatest({a}, {b}, {c}, {d})",
    }
    if agg not in ops:
        raise ValueError(f"agg must be one of {sorted(ops)}")

    # step 1: child tile -> (parent key, quadrant position, q*q cells)
    # quadrant pixel (r, c) aggregates child pixels (2r, 2c)..(2r+1, 2c+1)
    def child(dr: int, dc: int) -> str:
        return (
            f"element_at(cells, CAST((i DIV (width DIV 2)) * 2 * width"
            f" + ({dr}) * width"
            f" + (i % (width DIV 2)) * 2 + ({dc}) + 1 AS INT))"
        )

    quad = (
        f"transform(sequence(0, (width DIV 2) * (height DIV 2) - 1), "
        f"i -> {ops[agg](child(0, 0), child(0, 1), child(1, 0), child(1, 1))})"
    )
    # floor-division parent keys + pmod quadrant positions so NEGATIVE
    # tile coordinates (custom-CRS layouts) map correctly — plain DIV/%
    # truncate toward zero and would route tile -1 to parent 0 with a
    # quadrant of -1 that matches no pivot column (silent data loss)
    guard = (
        "CASE WHEN width % 2 = 0 AND height % 2 = 0 THEN "
        f"{quad} ELSE raise_error('pyramid_up requires even tile size') END"
    )
    quads = tiles.selectExpr(
        "zoom - 1 AS zoom",
        "(tile_x - pmod(tile_x, 2)) DIV 2 AS tile_x",
        "(tile_y - pmod(tile_y, 2)) DIV 2 AS tile_y",
        "CAST(pmod(tile_x, 2) AS INT) AS qx",
        "CAST(pmod(tile_y, 2) AS INT) AS qy",
        "width",
        "height",
        f"{guard} AS qcells",
    )

    # step 2: pivot quadrants to columns, assemble rows west++east
    def pick(qx: int, qy: int) -> F.Column:
        return F.any_value(
            F.when((F.col("qx") == qx) & (F.col("qy") == qy), F.col("qcells")),
            True,
        ).alias(f"q_{qx}{qy}")

    per_parent = quads.groupBy("zoom", "tile_x", "tile_y").agg(
        pick(0, 0), pick(1, 0), pick(0, 1), pick(1, 1),
        F.any_value(F.col("width"), True).alias("width"),
        F.any_value(F.col("height"), True).alias("height"),
    )
    nd = f"CAST({fill!r} AS DOUBLE)" if fill == fill else "CAST('NaN' AS DOUBLE)"
    g = {
        k: f"coalesce(q_{k}, array_repeat({nd}, CAST((width DIV 2) * (height DIV 2) AS INT)))"
        for k in ("00", "10", "01", "11")
    }
    half = "CAST(width DIV 2 AS INT)"
    rows = (
        f"flatten(transform(sequence(0, height DIV 2 - 1), r -> concat("
        f"slice({g['00']}, CAST(r AS INT) * {half} + 1, {half}), "
        f"slice({g['10']}, CAST(r AS INT) * {half} + 1, {half}))))"
    )
    rows_s = (
        f"flatten(transform(sequence(0, height DIV 2 - 1), r -> concat("
        f"slice({g['01']}, CAST(r AS INT) * {half} + 1, {half}), "
        f"slice({g['11']}, CAST(r AS INT) * {half} + 1, {half}))))"
    )
    return per_parent.selectExpr(
        "zoom", "tile_x", "tile_y", "width", "height",
        f"concat({rows}, {rows_s}) AS cells",
    )


def write_pyramid(
    points: DataFrame, path: str, max_zoom: int, tile_size: int = 256,
    lon: str = "lon", lat: str = "lat",
) -> None:
    """Materialize a full tile pyramid: rasterize ONCE at ``max_zoom``,
    roll up level by level with ``pyramid_up`` (each level is a narrow
    2×2 aggregation of the previous — points are never re-keyed per
    level), and write every level into one parquet layout PARTITIONED BY
    zoom. Serving a (z, x, y) request is then partition pruning on
    ``zoom`` plus a tile-key range filter — the GeoTrellis layer-write
    analog (Pyramid.scala + LayerWriter) on a plain columnar layout.

    Each rollup reads the level just WRITTEN (partition-pruned parquet),
    not the in-memory lineage — otherwise every level's write action
    would re-execute the full rasterize + all prior rollups and an
    L-level pyramid would cost ~L rasterizations."""
    spark = points.sparkSession
    level = rasterize_count(points, max_zoom, tile_size, lon, lat)
    level.write.mode("overwrite").partitionBy("zoom").parquet(path)
    for z in range(max_zoom, 0, -1):
        level = pyramid_up(read_pyramid_level(spark, path, z), agg="sum")
        level.write.mode("append").partitionBy("zoom").parquet(path)


def read_pyramid_level(spark, path: str, zoom: int) -> DataFrame:
    """Read one pyramid level — the ``zoom`` filter is pruned at
    planning time (PartitionFilters), so only that level's files are
    touched."""
    return spark.read.parquet(path).where(F.col("zoom") == zoom)
