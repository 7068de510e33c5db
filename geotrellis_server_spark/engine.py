"""Engine entry points — the reference's OGC service surface re-expressed
as DataFrame-producing batch APIs (SURVEY.md §2.8: E1–E6 →
get_extent / get_tile / get_histogram / get_values / describe).

A ``Layer`` binds a name to tile data (+ optional MAML expression and
style); a ``Catalog`` is the queryable layer table (Repository[OgcSource]
analog, broadcastable). The request lifecycle mirrors §3.1:
parse → query AST → catalog filter → tile-key prune → kernel eval →
style/render.
"""

from __future__ import annotations

import itertools
import weakref
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .grids.layout import Extent, ZoomedLayoutScheme
from .maml import ast as M
from .maml.eval import align_key, compile_expr, crop_to_extent, eval_expr, run_tiles
from .operators import histogram as H
from .operators.focal import STRIP_OFFSETS, halo_strips
from .query import ast as Q
from .query.compile import ogc_layer_predicate
from .styles import colormap as CM
from .styles.png import encode_png

SCHEME = ZoomedLayoutScheme()


_LAYER_GEN = itertools.count()
# tiles DataFrame -> Layer.meta(); DataFrames hash by identity, and an
# entry lives as long as its DataFrame
_TILES_META: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


@dataclass
class Layer:
    """SimpleOgcLayer / MapAlgebraOgcLayer analog (ogc/.../OgcSource.scala)."""

    name: str
    tiles: DataFrame  # TILE_SCHEMA rows (possibly multiple zooms = pyramid)
    expression: M.Expr | None = None  # None → identity (SimpleOgcLayer)
    style: dict | None = None  # {'poles': {...}, 'clip': ...} for the LUT
    sources: dict[str, DataFrame] = field(default_factory=dict)  # MAML vars
    # None = default WebMercator square pyramid; a CrsLayoutScheme makes
    # the layer a custom (CRS, extent, tile size) matrix set — request
    # validation + layout math follow it (GeotrellisTileMatrix parity)
    scheme: object | None = None
    # CRS of the tile table's extents for SCHEME-LESS layers (a GeoTIFF
    # source keeps its file CRS, e.g. 4326); the scheme's crs_epsg wins
    # when present. Capabilities bboxes reproject FROM this.
    crs_epsg: int = 3857
    # monotone generation stamp: unique per Layer instance FOREVER (unlike
    # id(), which CPython reuses after GC) — cache keys hang off this;
    # init=False so even dataclasses.replace() mints a fresh one
    generation: int = field(init=False, default_factory=lambda: next(_LAYER_GEN))

    def meta(self) -> tuple[int, list[int]]:
        """(tile_px, sorted zooms) — ONE aggregate per tiles DataFrame:
        get_extent/describe/GetFeatureInfo read it on every request, and
        a Layer rebuilt over the same tiles (``Engine.set_layer`` with a
        new style) reuses it."""
        if self.tiles not in _TILES_META:
            rows = self.tiles.groupBy("zoom").agg(F.first("width").alias("w")).collect()
            zooms = sorted(int(r.zoom) for r in rows)
            tile_px = int(rows[0].w) if rows else SCHEME.tile_size
            _TILES_META[self.tiles] = (tile_px, zooms)
        return _TILES_META[self.tiles]

    def vars(self) -> dict[str, DataFrame]:
        """The raster vars a MAML expression binds: ``sources``, plus the
        layer's own tiles under its name unless a source takes it."""
        return {self.name: self.tiles, **self.sources}


def _supported_epsg() -> list:
    """Every CRS the engine serves requests in: the hub pair, all 60 UTM
    zones (as range markers), each registry entry (grids/proj.py), and
    the arbitrary-definition front-end (grids/proj4.py — any
    +proj=utm|tmerc|lcc|laea|aea|stere|eqc|moll string or parameter
    dict registers a usable code at request time)."""
    from .grids.proj import CRS_REGISTRY

    return [4326, 3857, "utm:32601-32660/32701-32760",
            *sorted(c for c in CRS_REGISTRY if c < 910000),
            "proj4:+proj=utm|tmerc|lcc|laea|aea|stere|eqc|moll"]


def _tile_png(cells, w: int, h: int, style: dict | None) -> bytes:
    """One tile → PNG bytes: the style's colour ramp when it has
    ``poles``, else the greyscale auto-rescale."""
    # np.asarray maps None -> NaN for float64 directly (the NoData
    # convention everywhere else) — no per-element loop
    a = np.asarray(cells, dtype=np.float64).reshape(h, w)
    poles = (style or {}).get("poles")
    if poles:
        return encode_png(CM.interpolated_colormap(a, poles, style.get("clip", CM.CLIP_NONE)))
    return encode_png(CM.render_rgba(a))


def _cells(row):
    """A collected tile's cells as float64 (NULL cell -> NaN), like the
    Arrow batches ``eval_expr``'s UDF reads; None for NULL cells."""
    return None if row.cells is None else np.asarray(row.cells, dtype=np.float64)


def _grid(row):
    """A neighbour tile as its (h, w) float64 grid; None when it is
    absent or has NULL cells (``with_halo`` gives a NULL strip)."""
    c = None if row is None else _cells(row)
    return None if c is None else c.reshape(row.height, row.width)


def _objects(values) -> np.ndarray:
    """A 1-D object array, the shape of an Arrow list column in pandas."""
    out = np.empty(len(values), dtype=object)
    for i, v in enumerate(values):
        out[i] = v
    return out


class Engine:
    def __init__(self, spark: SparkSession, layers: dict[str, Layer], catalog: DataFrame | None = None):
        self.spark = spark
        self.layers = layers
        self.catalog = catalog  # name/xmin..ymax/times metadata table
        from .cache import RequestCache

        # O6: rendered-request cache (reference 32 entries / 1 h —
        # GetCoverage.scala:71-77); keyed by FULL request params
        self.request_cache = RequestCache()

    # -- O6: cached render (GetMap.scala:42-43,66-73 tile cache) -----------
    def get_tile_png(self, layer_name: str, z: int, x: int, y: int) -> bytes | None:
        """GetTile + style + PNG encode, memoized on the full request key.
        Returns the PNG bytes of the (z, x, y) tile (its lowest band), or
        None if the layer has no tile there.

        The tile is evaluated on the driver by ``_request_tile``: one
        JVM-only job collects the raw tile (with its 3×3 neighbourhood
        under focal ops) and the MAML kernel runs in-process. The style
        LUT and PNG encode run here too, through the same ``_tile_png``
        that ``render_png``'s UDF calls (reference LayerTms.scala /
        Render.scala evaluate and render in the server process). The
        bulk ``render_png(get_tile(...))`` gives the same bytes, but
        plans a halo exchange and a pandas UDF job for the ≤ 9 tiles: on
        a 4-core host (32-px z6 pyramid) a focal request took 1.6-2.3 s
        that way and 0.23-0.35 s here (p50 per run), where the one
        collect job and its parquet scan are most of the cost.

        The key carries the Layer's generation stamp (unique per instance,
        never reused — unlike id()), so replacing a layer (``set_layer``
        or a direct ``engine.layers[name] = ...``) can never serve tiles
        rendered from the old tables/style; stale entries age out of the
        32-entry LRU."""
        layer = self._tile_layer(layer_name, z, x, y)
        key = ("tile_png", layer_name, layer.generation, z, x, y)

        def compute() -> bytes | None:
            tile = self._request_tile(layer, z, x, y)
            if tile is None:
                return None
            row, cells = tile
            return _tile_png(cells, row.width, row.height, layer.style)

        return self.request_cache.get_or(key, compute)

    def get_tile_jpg(
        self, layer_name: str, z: int, x: int, y: int, quality: int = 85
    ) -> bytes | None:
        """GetTile with ``format=image/jpeg`` (reference Render.scala:35)
        — the styled tile transcoded at the request boundary: alpha
        composites over white (JPEG carries no alpha), then the baseline
        JFIF encoder (styles/jpeg.py; Pillow when installed). Memoized
        like get_tile_png; the transcode touches one request-sized tile.

        INTENTIONAL DIVERGENCE from the reference: renderJpg there drops
        the alpha byte outright, so fully-transparent NoData pixels keep
        whatever RGB they carried (usually black). A white matte is the
        conventional web-map treatment and reads better over basemaps;
        callers who need reference-identical bytes can composite over
        (0,0,0) before encoding."""
        layer = self.layers[layer_name]
        key = ("tile_jpg", layer_name, layer.generation, z, x, y, quality)

        def compute() -> bytes | None:
            png = self.get_tile_png(layer_name, z, x, y)
            if png is None:
                return None
            from .operators.stitch import render_jpg
            from .styles.png import decode_png

            arr = decode_png(png)
            if arr.ndim == 3 and arr.shape[2] == 4:
                a = arr[..., 3:4].astype(np.float64) / 255.0
                rgb = arr[..., :3].astype(np.float64) * a + 255.0 * (1.0 - a)
                arr = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
            return render_jpg(arr, quality)

        return self.request_cache.get_or(key, compute)

    def get_legend_png(
        self, layer_name: str, width: int = 20, height: int = 160
    ) -> bytes | None:
        """GetLegendGraphic analog: render the layer's style as a legend
        swatch PNG (vertical ramp, max value at the TOP — map-legend
        convention). The reference only advertises a LegendModel URL in
        capabilities (style/LegendModel.scala) and leaves rendering to
        the style host; here the engine serves the image too. Returns
        None for unstyled layers (greyscale auto-rescale has no fixed
        value scale to draw)."""
        layer = self.layers[layer_name]
        style = layer.style
        if not style or "poles" not in style:
            return None
        key = ("legend_png", layer_name, layer.generation, width, height)

        def compute() -> bytes:
            poles = style["poles"]
            lo, hi = min(poles), max(poles)
            vals = np.linspace(hi, lo, height)[:, None].repeat(width, axis=1)
            rgba = CM.interpolated_colormap(
                vals, poles, style.get("clip", CM.CLIP_NONE)
            )
            return encode_png(rgba)

        return self.request_cache.get_or(key, compute)

    def set_layer(self, name: str, layer: Layer) -> None:
        """Replace (or add) a layer and drop every cached response — the
        id()-keyed tile entries above would already miss, but histogram/
        coverage entries keyed by request params alone must not survive a
        layer swap."""
        self.layers[name] = layer
        self.request_cache.invalidate()

    # -- catalog resolution (WmsModel.getLayer analog) ---------------------
    def find_layers(self, query: Q.Query) -> list[str]:
        if self.catalog is None:
            raise ValueError("no catalog bound")
        rows = self.catalog.filter(ogc_layer_predicate(query)).select("name").collect()
        return [r.name for r in rows]

    def find_layers_cql(self, cql2_text: str) -> list[str]:
        """CQL2-text filter (query/cql2.py) → the same pushdown-compiled
        catalog scan as the typed AST — the textual surface an OGC-API/
        STAC client speaks."""
        from .query.cql2 import parse_cql2

        return self.find_layers(parse_cql2(cql2_text))

    def _eval(self, layer: Layer, key_filter=None) -> DataFrame:
        """key_filter (a Column predicate over zoom/tile_x/tile_y) prunes
        EVERY raster var — layer.tiles AND all layer.sources — BEFORE
        evaluation. Pruning only the primary var would leave expression
        sources (e.g. a DEM behind a hillshade) scanned in full, and for
        focal expressions the post-filter cannot push below the halo
        strip aggregate."""
        tiles = layer.tiles
        if key_filter is not None:
            tiles = tiles.filter(key_filter)
        if layer.expression is None:
            return tiles
        params = {
            n: (df.filter(key_filter) if key_filter is not None else df)
            for n, df in layer.vars().items()
        }
        return eval_expr(layer.expression, params)

    # -- E2/E6: WMTS GetTile / TMS z/x/y -----------------------------------
    def get_tile(self, layer_name: str, z: int, x: int, y: int) -> DataFrame:
        """Point lookup on the pyramid: zoom + key filter = partition
        pruning, then kernel eval on the ≤9 tiles involved."""
        layer = self._tile_layer(layer_name, z, x, y)
        key_filter = (
            (F.col("zoom") == z)
            & F.col("tile_x").between(x - 1, x + 1)
            & F.col("tile_y").between(y - 1, y + 1)
        )
        out = self._eval(layer, key_filter)
        return out.filter((F.col("tile_x") == x) & (F.col("tile_y") == y))

    def _tile_layer(self, layer_name: str, z: int, x: int, y: int) -> Layer:
        """The layer a GetTile request names, once the (z, x, y) key is
        checked against its tile matrix set."""
        from .validate import validate_get_tile

        layer = self.layers[layer_name]
        validate_get_tile(z, x, y, scheme=layer.scheme)
        return layer

    # -- request path: one tile, evaluated on the driver -------------------
    def _request_tile(self, layer: Layer, z: int, x: int, y: int):
        """Evaluate ``layer`` at the tile (z, x, y) on the driver:
        ``(row, cells)`` for its lowest band, or None when a var has no
        tile there. ``row`` carries width and height; ``cells`` is the
        raw list for a layer without expression, else the kernel's
        float64 array.

        One JVM-only job collects the raw tile of every var, with its 3×3
        neighbourhood for a var with a halo buffer. The 8 halo strips are
        sliced in numpy (``halo_strips``, the layout of ``with_halo``) and
        fed with the body to ``run_tiles``, the kernel of ``eval_expr``'s
        UDF, which also rasterizes geometry masks. No halo exchange and no
        Python worker: the bulk path's plan and jobs cost far more than
        the numpy work on ≤ 9 tiles.

        The vars align on band only when every var has one
        (``align_key``); otherwise each var gives its lowest band, which
        is one of the pairs the bulk join makes."""
        params = layer.vars()
        if layer.expression is None:
            names, pads, kernel = [layer.name], {layer.name: 0}, None
        else:
            names, pads, kernel = compile_expr(layer.expression, params)
        banded = "band" in align_key(params[n] for n in names)
        near = F.col("tile_x").between(x - 1, x + 1) & F.col("tile_y").between(y - 1, y + 1)
        here = (F.col("tile_x") == x) & (F.col("tile_y") == y)
        reads = []
        for i, n in enumerate(names):
            df = params[n]
            band = F.col("band") if "band" in df.columns else F.lit(None).cast("int")
            reads.append(df.filter((F.col("zoom") == z) & (near if pads[n] else here)).select(
                F.lit(i).alias("var"), "tile_x", "tile_y", band.alias("band"),
                "width", "height", "cells"))
        rows = reduce(DataFrame.union, reads).collect()
        got = [{} for _ in names]  # per var: (tile_x, tile_y, band) -> row, lowest band first
        for r in sorted(rows, key=lambda r: -1 if r.band is None else r.band):
            got[r.var].setdefault((r.tile_x, r.tile_y, r.band if banded else None), r)
        k = next((k for k in got[0] if k[:2] == (x, y) and all(k in g for g in got[1:])), None)
        if k is None:
            return None
        row = got[0][k]
        if kernel is None:
            return row, row.cells
        tile = [np.array([v], dtype=np.int64) for v in (z, x, y, row.width, row.height)]
        lists = []
        for i, n in enumerate(names):
            lists.append(_objects([_cells(got[i][k])]))
            if pads[n]:
                near_tiles = {(dx, dy): _grid(got[i].get((x + dx, y + dy, k[2])))
                              for dx, dy in STRIP_OFFSETS}
                lists += [_objects([strip]) for strip in halo_strips(near_tiles, pads[n])]
        return row, run_tiles(kernel, names, pads, tile, lists)[0]

    # -- E1/E3: WMS GetMap / WCS GetCoverage --------------------------------
    def get_extent(self, layer_name: str, extent: tuple, cell_size: float) -> DataFrame:
        """Evaluate at the zoom matching cell_size (overview pruning R5/O3),
        restricted to tiles intersecting the extent (O4), cropped (R6).
        ``extent`` is in the tiles' CRS — EPSG:3857 for standard pyramids,
        the layer's own CRS when it carries a custom ``scheme``
        (CrsLayoutScheme matrix sets: zoom selection, key pruning and crop
        all follow the layer's layout)."""
        from .validate import validate_get_extent

        layer = self.layers[layer_name]
        # CRS here is the tiles' CRS — only ordering/positivity apply
        validate_get_extent(extent, cell_size, crs="projected")
        tile_px, zooms = layer.meta()
        if layer.scheme is None:
            scheme = SCHEME
            z = scheme.zoom_for_cell_size(cell_size, tile_size=tile_px)
        else:
            scheme = layer.scheme
            z = scheme.zoom_for_cell_size(cell_size)
        z = min(zooms, key=lambda zz: (abs(zz - z), zz)) if zooms else z
        layout = scheme.layout(z)
        e = Extent(*extent)
        tx0, ty0, tx1, ty1 = layout.keys_for_extent(e)
        key_filter = (
            (F.col("zoom") == z)
            & F.col("tile_x").between(tx0 - 1, tx1 + 1)
            & F.col("tile_y").between(ty0 - 1, ty1 + 1)
        )
        out = self._eval(layer, key_filter).filter(
            F.col("tile_x").between(tx0, tx1) & F.col("tile_y").between(ty0, ty1)
        )
        return crop_to_extent(out, extent, lambda zz, tx, ty: scheme.layout(zz).extent_for(tx, ty))

    # -- E1 in an arbitrary request CRS (reference WMS accepts any
    #    supported CRS and returns the raster in it — OgcLayer.scala:82-91)
    def get_extent_reprojected(
        self,
        layer_name: str,
        extent: tuple,
        crs_epsg: int,
        out_w: int = 256,
        out_h: int = 256,
        method: str = "bilinear",
    ):
        """GetMap in a non-native CRS: the request extent back-projects to
        the tiles' native CRS (densified envelope) — EPSG:3857 for the
        default pyramid, the layer scheme's CRS for custom matrix sets —
        the pyramid evaluates there (pruned + cropped as usual), and the
        stitched window warps onto the requested (out_w × out_h) grid in
        the request CRS. Returns (numpy array, request extent). The
        collect is request-bounded (one GetMap window)."""
        from .grids.proj import reproject_extent, warp_block
        from .operators.stitch import stitch

        layer = self.layers[layer_name]
        native = getattr(layer.scheme, "crs_epsg", 3857) if layer.scheme else 3857
        if crs_epsg == native:
            raise ValueError("native-CRS requests go through get_extent")
        ext_native = reproject_extent(tuple(extent), crs_epsg, native)
        cell = max(
            (ext_native[2] - ext_native[0]) / out_w,
            (ext_native[3] - ext_native[1]) / out_h,
        )
        tiles = self.get_extent(layer_name, ext_native, cell)
        arr, src_ext = stitch(tiles, scheme=layer.scheme)
        warped = warp_block(
            arr,
            (src_ext.xmin, src_ext.ymin, src_ext.xmax, src_ext.ymax),
            native,
            tuple(extent),
            crs_epsg,
            out_h,
            out_w,
            method,
        )
        return warped, tuple(extent)

    # -- histogram (A1) -----------------------------------------------------
    def get_histogram(self, layer_name: str, max_cells: int = 512, n_bins: int = 80) -> DataFrame:
        layer = self.layers[layer_name]
        return H.layer_histogram(self._eval_all_zooms(layer), n_bins=n_bins, max_cells=max_cells)

    def _eval_all_zooms(self, layer: Layer) -> DataFrame:
        out = self._eval(layer)
        if "band" not in out.columns:
            out = out.withColumn("band", F.lit(0))
        return out

    # -- E4: GetFeatureInfo (point sampling, J6) ----------------------------
    def get_values(self, layer_name: str, points: list[tuple[float, float]], zoom: int) -> DataFrame:
        """Multipoint bulk sampling: points → tile-key equi-join → in-tile
        pixel index lookup (GetFeatureInfoExtended.scala:57-105).

        The points enter as a pandas frame, which plans as a local
        relation (``LocalTableScan``) — never as a Python RDD. A Python
        RDD would be re-read through Python workers to build the
        broadcast side: one more job and Python task, ~0.2 s per request
        on a 4-core host even with zip-free workers; the local relation
        needs neither."""
        import pandas as pd

        from .operators.tiling import pixel_index_sql

        layer = self.layers[layer_name]
        xy = np.asarray(points, dtype=np.float64).reshape(len(points), 2)
        pts = self.spark.createDataFrame(
            pd.DataFrame({
                "point_id": np.arange(len(xy), dtype=np.int32),
                "lon": xy[:, 0],
                "lat": xy[:, 1],
            }),
            "point_id INT, lon DOUBLE, lat DOUBLE",
        )
        tiles = self._eval(layer, F.col("zoom") == zoom)
        w = layer.meta()[0]
        # the SAME shared fragments that produce tile keys everywhere else
        # (a diverged inline copy once used `gpx % w`, which can disagree
        # with the join key at FP tile boundaries)
        tx, ty, px, py = pixel_index_sql("lon", "lat", zoom, w)
        keyed = pts.select(
            "point_id", "lon", "lat",
            F.expr(tx).alias("tile_x"), F.expr(ty).alias("tile_y"),
            F.expr(py).alias("py"), F.expr(px).alias("px"),
        )
        joined = tiles.join(F.broadcast(keyed), ["tile_x", "tile_y"], "inner")
        return joined.select(
            "point_id", "lon", "lat",
            F.expr("cells[CAST(py * width + px AS INT)]").alias("value"),
        )

    def get_feature_info(
        self, layer_name: str, points: list[tuple[float, float]], zoom: int,
        info_format: str = "application/json",
    ) -> str:
        """GetFeatureInfo with an InfoFormat switch (reference
        InfoFormat.scala: text/xml | application/json; wms/package.scala
        :97-100 routes XML through WfsFeatureCollection). The response
        is request-sized (≤ len(points) rows) — the collect here is the
        service boundary, not a data-scale operation."""
        rows = self.get_values(layer_name, points, zoom).collect()
        if info_format == "text/xml":
            from .ogc_xml import get_feature_info_xml

            w = self.layers[layer_name].meta()[0]
            return get_feature_info_xml(rows, zoom, tile_size=w)
        if info_format == "application/json":
            feats = [
                {"type": "Feature",
                 "geometry": {"type": "Point",
                              "coordinates": [r["lon"], r["lat"]]},
                 "properties": {"point_id": r["point_id"],
                                "value": r["value"]}}
                for r in rows
            ]
            import json as _json

            return _json.dumps(
                {"type": "FeatureCollection", "features": feats})
        raise ValueError(f"unsupported InfoFormat: {info_format!r}")

    # -- E5: GetCapabilities / DescribeCoverage ------------------------------
    def describe(self) -> list[dict]:
        out = []
        for name, layer in self.layers.items():
            zooms = layer.meta()[1]
            if "xmin" in layer.tiles.columns:
                ext = layer.tiles.agg(
                    F.min("xmin"), F.min("ymin"), F.max("xmax"), F.max("ymax")
                ).collect()[0]
            else:
                # derive from tile keys at the finest zoom (mapTransform) —
                # over the LAYER's scheme for custom matrix sets
                z = max(zooms) if zooms else 0
                layout = (layer.scheme or SCHEME).layout(z)
                k = layer.tiles.filter(F.col("zoom") == z).agg(
                    F.min("tile_x"), F.min("tile_y"), F.max("tile_x"), F.max("tile_y")
                ).collect()[0]
                nw = layout.extent_for(int(k[0]), int(k[1]))
                se = layout.extent_for(int(k[2]), int(k[3]))
                ext = (nw.xmin, se.ymin, se.xmax, nw.ymax)
            entry = {
                "name": name,
                "zooms": zooms,
                "extent": tuple(ext),
                "expression": layer.expression.to_dict() if layer.expression else None,
                "styled": layer.style is not None,
                "crs_epsg": (getattr(layer.scheme, "crs_epsg", None)
                             or layer.crs_epsg),
                # capabilities advertisement (CapabilitiesView analog):
                # always-available formats + every registered request CRS
                "formats": ["image/png", "image/jpeg", "image/geotiff",
                            "application/geo+json"],
                "request_crs": _supported_epsg(),
            }
            if layer.style is not None and "poles" in layer.style:
                # LegendModel parity (ogc/.../style/LegendModel.scala:
                # format/width/height/onlineResource) — and unlike the
                # reference, which only ADVERTISES the URL, the engine
                # also renders it (get_legend_png). Gated on the same
                # 'poles' condition the renderer requires, so a
                # LegendURL is never advertised that 404s.
                entry["legend"] = {
                    "format": "image/png",
                    "width": 20,
                    "height": 160,
                    "online_resource": f"legend/{name}.png",
                }
            if layer.scheme is not None:
                # WMTS tile-matrix-set metadata (GeotrellisTileMatrix
                # capabilities analog): CRS + per-zoom grid dims and
                # scale denominators (0.28 mm standardized pixel)
                s = layer.scheme
                entry["matrix_set"] = {
                    "crs_epsg": getattr(s, "crs_epsg", 3857),
                    "extent": (s.extent.xmin, s.extent.ymin,
                               s.extent.xmax, s.extent.ymax),
                    "tile_size": s.tile_size,
                    "matrices": [
                        {
                            "zoom": z,
                            "cols": s.layout(z).layout_cols,
                            "rows": s.layout(z).layout_rows,
                            "scale_denominator": s.scale_denominator(z),
                        }
                        for z in zooms
                    ],
                }
            out.append(entry)
        return out

    # -- render (E1 tail): tiles → PNG bytes --------------------------------
    def render_png(self, tiles: DataFrame, style: dict | None = None) -> DataFrame:
        """Bulk render: adds a ``png`` column to every tile row through a
        pandas UDF. Each tile goes through ``_tile_png``, the same helper
        ``get_tile_png`` calls in-process for a single request, so both
        paths produce identical bytes."""
        import pandas as pd
        from pyspark.sql import types as T

        @F.pandas_udf(T.BinaryType())
        def to_png(cells, w_s, h_s):
            return pd.Series([_tile_png(c, w, h, style) for c, w, h in zip(cells, w_s, h_s)])

        return tiles.withColumn("png", to_png("cells", "width", "height"))
