"""The engine's request path: ``get_tile_png`` evaluates a request's
tile on the driver (``Engine._request_tile``) and must answer exactly
what the bulk DataFrame path answers (``render_png(get_tile(...))``), in
one JVM-only job."""

import numpy as np
import pandas as pd
import pytest

from geotrellis_server_spark.engine import Engine, Layer
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.operators.focal import STRIP_COLS, halo_strips, with_halo

Z, PX = 2, 8  # a 4×4 grid of 8-px tiles: every tile but the inner four is on an edge
MISSING = (2, 1)
RING = [(-100.3, -30.7), (20.9, -52.1), (60.4, 38.6), (-85.2, 70.9)]
POLES = {-2.0: (0, 0, 255, 255), 6.0: (255, 0, 0, 255)}
SCHEMA = "zoom INT, tile_x BIGINT, tile_y BIGINT, band INT, width INT, height INT, cells ARRAY<DOUBLE>"


def _tiles(spark, seed, bands=(0,), band_col=True):
    """Random tiles with NaN and NULL cells; MISSING has no tile."""
    rng = np.random.default_rng(seed)
    rows = []
    for b in bands:
        for x in range(4):
            for y in range(4):
                if (x, y) == MISSING:
                    continue
                v = np.round(rng.normal(2.0, 1.5, PX * PX), 3) + 100.0 * b
                v[rng.random(PX * PX) < 0.15] = np.nan
                cells = [None if i % 17 == 5 else float(c) for i, c in enumerate(v)]
                rows.append((Z, x, y, b, PX, PX, cells))
    # from pandas, so the table is a local relation, not a Python RDD
    cols = ["zoom", "tile_x", "tile_y", "band", "width", "height", "cells"]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=cols), SCHEMA)
    return (df if band_col else df.drop("band")).cache()


@pytest.fixture(scope="module")
def engine(spark):
    d = _tiles(spark, 1)
    other = _tiles(spark, 2, band_col=False)
    banded = _tiles(spark, 3, bands=(0, 1))
    v = M.var
    layers = {
        "styled": Layer("styled", d, style={"poles": POLES}),
        "plain": Layer("plain", d),
        "local": Layer("local", d, expression=v("local") * 2.0 - 1.0, style={"poles": POLES}),
        "masked": Layer("masked", d, expression=M.mask(v("masked"), M.geom(RING)),
                        style={"poles": POLES}),
        "multi": Layer("multi", d, expression=(v("a") - v("b")) / (v("a") + v("b") + 10.0),
                       sources={"a": d, "b": other}, style={"poles": POLES}),
        "fmean1": Layer("fmean1", d, expression=M.focal("fmean", v("fmean1"), radius=1),
                        style={"poles": POLES}),
        "fmean2": Layer("fmean2", d, expression=M.focal("fmean", v("fmean2"), radius=2),
                        style={"poles": POLES}),
        "fslope": Layer("fslope", d, expression=M.focal("fslope", v("fslope"))),
        "banded": Layer("banded", banded, style={"poles": POLES}),
        "banded_fmean": Layer("banded_fmean", banded,
                              expression=M.focal("fmean", v("banded_fmean"), radius=1)),
        # a 2-band var next to a var without band: the vars align on the
        # tile key alone, so the bulk join pairs every band with the other
        # var; the request path renders the lowest band's pair, which is
        # what the bulk path gives once the 2-band var holds band 0 only
        "mixed": Layer("mixed", d, expression=M.focal("fmean", v("a"), radius=1) - v("b"),
                       sources={"a": banded, "b": other}, style={"poles": POLES}),
        "mixed_low": Layer("mixed_low", d, expression=M.focal("fmean", v("a"), radius=1) - v("b"),
                           sources={"a": banded.filter("band = 0"), "b": other},
                           style={"poles": POLES}),
    }
    return Engine(spark, layers)


LAYERS = ["styled", "plain", "local", "masked", "multi", "fmean1", "fmean2", "fslope",
          "banded", "banded_fmean", "mixed_low"]
# a corner on the pyramid edge, a tile next to the missing one, an edge tile
KEYS = [(0, 0), (1, 1), (3, 2)]


def _bulk_png(eng, name, x, y):
    rows = eng.render_png(eng.get_tile(name, Z, x, y), eng.layers[name].style).collect()
    if not rows:
        return None
    return bytes(min(rows, key=lambda r: r.asDict().get("band") or 0).png)


@pytest.mark.parametrize("name", LAYERS)
def test_driver_png_equals_bulk_render(engine, name):
    for x, y in KEYS:
        assert engine.get_tile_png(name, Z, x, y) == _bulk_png(engine, name, x, y), (x, y)


@pytest.mark.parametrize("name", ["styled", "fmean1", "multi"])
def test_driver_missing_key_is_none(engine, name):
    assert _bulk_png(engine, name, *MISSING) is None
    assert engine.get_tile_png(name, Z, *MISSING) is None


def test_driver_png_of_mixed_band_vars_is_the_lowest_band(engine):
    assert len(engine.get_tile("mixed", Z, 1, 1).collect()) == 2  # one row per band
    for x, y in KEYS:
        png = engine.get_tile_png("mixed", Z, x, y)
        assert png is not None and png == _bulk_png(engine, "mixed_low", x, y), (x, y)


def _python_nodes(plan: str) -> list:
    return [n for n in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                        "MapInPandas", "PythonMapInArrow", "ExistingRDD") if n in plan]


def _jobs(spark, group, call) -> int:
    """The number of Spark jobs ``call()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["styled", "fmean2", "masked", "multi"])
def test_one_jvm_job_per_tile_request(engine, spark, monkeypatch, name):
    """A tile request runs one Spark job, and what it collects plans no
    Python node: the kernel runs in-process on the driver."""
    cls = type(engine.layers[name].tiles)
    collect, plans = cls.collect, []

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", recording_collect)
    engine.request_cache.invalidate()
    pngs = []
    assert _jobs(spark, f"request-{name}", lambda: pngs.append(engine.get_tile_png(name, Z, 1, 2))) == 1
    assert pngs[0] is not None
    assert plans and not [p for p in plans if _python_nodes(p)], plans


def test_feature_info_after_style_swap_runs_no_meta_aggregate(engine, spark):
    """``Layer.meta()``'s whole-table aggregate runs once per tiles
    DataFrame, not once per Layer: a style swap over the same tiles
    keeps GetFeatureInfo at its warm job count."""
    pts = [(-100.0, 40.0), (10.0, -20.0), (120.0, 5.0)]
    engine.get_feature_info("plain", pts, Z)
    warm = _jobs(spark, "feature-info-warm", lambda: engine.get_feature_info("plain", pts, Z))
    old = engine.layers["plain"]
    engine.set_layer("plain", Layer("plain", old.tiles, style={"poles": POLES}))
    try:
        swapped = _jobs(spark, "feature-info-swapped",
                        lambda: engine.get_feature_info("plain", pts, Z))
    finally:
        engine.set_layer("plain", old)
    assert swapped == warm, (swapped, warm)


def test_halo_strips_equal_with_halo(spark):
    """The numpy slicer gives with_halo's strips, bit for bit, on random
    grids: random tile sizes per zoom, holes in the grid, radius 1-3."""
    rng = np.random.default_rng(11)
    rows = []
    for z in range(3):
        w, h = int(rng.integers(3, 7)), int(rng.integers(3, 7))
        for x in range(4):
            for y in range(3):
                if rng.random() < 0.25:
                    continue
                rows.append((z, x, y, 0, w, h, [float(v) for v in rng.normal(size=w * h)]))
    tiles = spark.createDataFrame(rows, SCHEMA).drop("band")
    grid = {(z, x, y): np.array(c).reshape(h, w) for z, x, y, _, w, h, c in rows}
    for r in (1, 2, 3):
        for t in with_halo(tiles, r).collect():
            k = (t.zoom, t.tile_x, t.tile_y)
            got = halo_strips({(dx, dy): grid.get((k[0], k[1] + dx, k[2] + dy))
                               for dx in (-1, 0, 1) for dy in (-1, 0, 1)}, r)
            for col, strip in zip(STRIP_COLS, got):
                want = t[col]
                assert (strip is None) == (want is None), (r, k, col)
                if strip is not None:
                    assert strip.tolist() == want, (r, k, col)
