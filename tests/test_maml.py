"""MAML parity tests: NDVI (bench AST, TmsReificationBench.scala:39-41),
NoData→NaN semantics (NoDataHandlingTest.scala:28-58), crop golden sum
1596 (LayerExtentTest.scala:29-37), focal ops vs numpy oracle, JSON
round-trip, constant folding, custom kernel registry."""

import math
from functools import reduce

import numpy as np
import pytest


def cells_np(cells):
    """Materialized arrays may carry NoData as SQL NULL (Arrow converts
    NaN→null on pandas→Arrow list conversion); kernels treat both as NaN.
    Normalize for assertions."""
    return np.array([np.nan if v is None else v for v in cells], dtype=np.float64)

from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.maml.ast import Expr
from geotrellis_server_spark.maml.eval import crop_to_extent, eval_expr
from geotrellis_server_spark.maml.kernels import compile_node, fold_constants, register_kernel
from geotrellis_server_spark.sources import synth


def tile_df(spark, name, cells, w=4, h=4, key=(0, 0, 0)):
    z, x, y = key
    row = (name, z, x, y, 0, w, h, 0.0, 0.0, float(w), float(h), "float64", float("nan"),
           [float(v) for v in cells])
    return spark.createDataFrame([row], synth.TILE_SCHEMA)


# ---------------------------------------------------------------------------
# kernel-level
# ---------------------------------------------------------------------------


def test_ndvi_kernel():
    red = np.array([[0.1, 0.2], [0.3, 0.4]])
    nir = np.array([[0.5, 0.6], [0.7, 0.8]])
    e = (M.var("nir") - M.var("red")) / (M.var("nir") + M.var("red"))
    out = compile_node(e)({"red": red, "nir": nir})
    assert np.allclose(out, (nir - red) / (nir + red))


def test_nodata_nan_propagation():
    # NoDataHandlingTest: t1 + t2 yields NaN at NoData cells
    a = np.array([1.0, np.nan, 3.0])
    b = np.array([10.0, 20.0, np.nan])
    out = compile_node(M.var("a") + M.var("b"))({"a": a, "b": b})
    assert out[0] == 11.0 and np.isnan(out[1]) and np.isnan(out[2])


def test_comparison_nodata_and_branch():
    a = np.array([1.0, np.nan, 3.0])
    lt = compile_node(M.var("a") < 2.0)({"a": a})
    assert lt[0] == 1.0 and np.isnan(lt[1]) and lt[2] == 0.0
    br = compile_node(M.ifelse(M.var("a") < 2.0, 100.0, 200.0))({"a": a})
    assert br[0] == 100.0 and np.isnan(br[1]) and br[2] == 200.0
    d = compile_node(Expr("def", (M.var("a"),)))({"a": a})
    assert d.tolist() == [1.0, 0.0, 1.0]


def test_classify_clamp_normalize():
    a = np.array([-5.0, 0.5, 5.0, np.nan])
    cl = compile_node(M.classify(M.var("a"), [0.0, 1.0], [10.0, 20.0, 30.0]))({"a": a})
    assert cl[0] == 10.0 and cl[1] == 20.0 and cl[2] == 30.0 and np.isnan(cl[3])
    cp = compile_node(M.clamp(M.var("a"), 0.0, 1.0))({"a": a})
    assert cp[0] == 0.0 and cp[1] == 0.5 and cp[2] == 1.0 and np.isnan(cp[3])
    nm = compile_node(M.normalize(M.var("a"), -5.0, 5.0, 0.0, 100.0))({"a": a})
    assert nm[0] == 0.0 and nm[2] == 100.0


def test_constant_folding():
    e = M.var("x") * (M.lit(2) + M.lit(3))
    folded = fold_constants(e)
    assert folded.args[1].symbol == "dbl" and folded.args[1].p("value") == 5.0


def test_json_roundtrip():
    e = M.ifelse(M.var("x") < 0.5, M.clamp(M.var("y"), 0, 1), M.lit(2) ** M.lit(3))
    assert Expr.from_json(e.to_json()) == e


def test_vars_with_buffer():
    e = M.focal("fmean", M.var("dem"), radius=2) + M.var("x")
    assert e.vars_with_buffer() == {"dem": 2, "x": 0}
    nested = M.focal("fmax", M.focal("fmean", M.var("dem"), radius=1), radius=1)
    assert nested.vars_with_buffer() == {"dem": 2}


def test_horn_ops_read_a_one_cell_halo():
    d = M.var("d")
    for op in ("fslope", "faspect", "fhillshade"):
        assert M.focal(op, d).vars_with_buffer() == {"d": 1}
        with pytest.raises(ValueError, match=op):
            M.focal(op, d, radius=2)
    # a node read from JSON skips focal(); its halo is checked all the same
    e = Expr.from_dict({"symbol": "fslope", "args": [d.to_dict()], "radius": 2})
    with pytest.raises(ValueError, match="fslope"):
        e.vars_with_buffer()


def test_rgb_over_focal_keeps_its_band_axis():
    d = M.var("d")
    stack = np.random.default_rng(0).random((2, 12, 12))  # padded by 1
    out = compile_node(M.rgb(M.focal("fslope", d), d, d))({"d": stack})
    assert out.shape == (2, 10, 10, 3)
    np.testing.assert_array_equal(out[..., 1], stack[:, 1:-1, 1:-1])


def test_custom_kernel_registry():
    register_kernel("plus1", lambda a: a[0] + 1.0)
    out = compile_node(Expr("plus1", (M.var("x"),)))({"x": np.array([1.0, 2.0])})
    assert out.tolist() == [2.0, 3.0]


def test_unhandled_symbol_raises():
    with pytest.raises(ValueError, match="unhandled"):
        compile_node(Expr("nope", (M.var("x"),)))


# ---------------------------------------------------------------------------
# DataFrame-level
# ---------------------------------------------------------------------------


def test_ndvi_over_tiles(spark):
    red = tile_df(spark, "red", range(1, 17))
    nir = tile_df(spark, "nir", range(17, 33))
    e = (M.var("nir") - M.var("red")) / (M.var("nir") + M.var("red"))
    out = eval_expr(e, {"red": red, "nir": nir}).collect()
    assert len(out) == 1
    r = np.arange(1, 17, dtype=float)
    n = np.arange(17, 33, dtype=float)
    assert np.allclose(out[0].cells, (n - r) / (n + r))


def test_layer_extent_crop_golden_1596(spark):
    """8×8 fixture values 1..64, crop to Extent(0,1,8,8) excises the bottom
    row → sum 1596 (LayerExtentTest.scala:29-37)."""
    from geotrellis_server_spark.grids.layout import Extent

    r8 = synth.raster8(spark)
    out = crop_to_extent(
        eval_expr(M.var("r8"), {"r8": r8}),
        (0.0, 1.0, 8.0, 8.0),
        lambda z, tx, ty: Extent(0.0, 0.0, 8.0, 8.0),
    ).collect()[0]
    assert np.nansum(cells_np(out.cells)) == 1596.0


def test_nodata_over_tiles(spark):
    """NoDataHandlingTest parity: two 10×10 tiles 1..100, NoData at value 1
    (t1) and 2.0 (t2) → sum NaN at those cells, numeric elsewhere."""
    v1 = [float("nan") if v == 1 else float(v) for v in range(1, 101)]
    v2 = [float("nan") if v == 2.0 else float(v) for v in range(1, 101)]
    t1 = tile_df(spark, "t1", v1, w=10, h=10)
    t2 = tile_df(spark, "t2", v2, w=10, h=10)
    out = eval_expr(M.var("t1") + M.var("t2"), {"t1": t1, "t2": t2}).collect()[0]
    cells = cells_np(out.cells)
    assert np.isnan(cells[0]) and np.isnan(cells[1])
    assert cells[2] == 6.0 and not np.isnan(cells[2:]).any()


def test_focal_mean_with_halo(spark):
    """3 adjacent tiles in a row; fmean(radius 1) at a tile's edge must see
    the neighbor's cells — compare against a numpy oracle on the stitched
    array."""
    import pandas as pd

    w = h = 4
    t_left = tile_df(spark, "d", range(0, 16), key=(1, 0, 0))
    t_mid = tile_df(spark, "d", range(16, 32), key=(1, 1, 0))
    t_right = tile_df(spark, "d", range(32, 48), key=(1, 2, 0))
    tiles = t_left.union(t_mid).union(t_right)
    e = M.focal("fmean", M.var("d"), radius=1)
    out = {(r.tile_x, r.tile_y): cells_np(r.cells).reshape(h, w)
           for r in eval_expr(e, {"d": tiles}).collect()}
    assert set(out) == {(0, 0), (1, 0), (2, 0)}
    # numpy oracle: stitch 3 tiles horizontally, pad with NaN, nanmean windows
    stitched = np.hstack([np.arange(0, 16).reshape(4, 4),
                          np.arange(16, 32).reshape(4, 4),
                          np.arange(32, 48).reshape(4, 4)]).astype(float)
    padded = np.full((h + 2, 12 + 2), np.nan)
    padded[1:-1, 1:-1] = stitched
    from numpy.lib.stride_tricks import sliding_window_view
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        exp = np.nanmean(sliding_window_view(padded, (3, 3)), axis=(-2, -1))
    got = np.hstack([out[(0, 0)], out[(1, 0)], out[(2, 0)]])
    assert np.allclose(got, exp, equal_nan=True)


def test_focal_skipped_for_local_expr(spark):
    # local expressions must not pay the halo shuffle
    red = tile_df(spark, "red", range(1, 17))
    plan = eval_expr(M.var("red") * 2.0, {"red": red})._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan


def test_hillshade_flat_surface(spark):
    # flat DEM → slope 0 → hillshade = 255*sin(altitude); with 45° default
    # = 180.31... exact: clip(255 * sin(45°)) = 180.31
    flat = tile_df(spark, "dem", [100.0] * 16, key=(0, 5, 5))
    e = M.focal("fhillshade", M.var("dem"), radius=1, cellsize=1.0)
    out = eval_expr(e, {"dem": flat}).collect()[0]
    cells = cells_np(out.cells).reshape(4, 4)
    # interior cells (edges see NaN halo) — value = 255*sin(45°)
    assert np.allclose(cells[1:-1, 1:-1], 255.0 * math.sin(math.radians(45.0)))


def test_slope_hillshade_z_factor_applied_once():
    # tilted plane z = 3*x (cellsize 1): dz/dx = 3, dz/dy = 0.
    # slope must be atan(z_factor * 3) — NOT atan(z_factor^2 * 3)
    # (regression: _horn_gradients used to pre-multiply by z_factor and
    # _fhillshade multiplied again inside the arctan).
    from geotrellis_server_spark.maml.kernels import _fhillshade, _fslope

    x = np.arange(6, dtype=np.float64)
    plane = np.tile(3.0 * x, (6, 1))  # padded 6x6 → interior 4x4
    zf = 2.0
    slope = _fslope(plane, cellsize=1.0, z_factor=zf)
    assert np.allclose(slope, math.degrees(math.atan(zf * 3.0)))

    shade = _fhillshade(plane, cellsize=1.0, z_factor=zf, azimuth=315.0, altitude=45.0)
    # direct formula with z applied exactly once
    sl = math.atan(zf * 3.0)
    aspect = math.atan2(0.0, -3.0)
    az = math.radians(360.0 - 315.0 + 90.0)
    alt = math.radians(45.0)
    exp = max(0.0, min(255.0, 255.0 * (
        math.sin(alt) * math.cos(sl) + math.cos(alt) * math.sin(sl) * math.cos(az - aspect)
    )))
    assert np.allclose(shade, exp)


def test_eval_local_constant_expression_raises():
    with pytest.raises(ValueError, match="no raster vars"):
        eval_expr(fold_constants(M.lit(2) + M.lit(3)), {})


def test_media_ref_no_bigint_overflow(spark):
    # spans_sql's media_ref hash must agree with exact Python int math even
    # for doc ids where id*2654435761 would overflow BIGINT (~3.5e9).
    # > 2^32, < 2^53; ≡6 mod 7 (7 spans, geo at i=6) and ≡0 mod 3
    # (media spans at i=0 and i=3)
    big = 10_000_000_000_017
    row = (
        spark.range(1)
        .selectExpr(f"id + {big} AS id")
        .selectExpr(f"{synth.spans_sql('id')} AS spans")
        .collect()[0]
    )
    media = [s for s in row.spans if s.kind == "media"]
    assert media, "fixture doc must contain a media span"
    for s in media:
        i = s.offset
        want = (big * 2654435761 + i * 97) % 4294967296
        assert s.media_ref == f"ref://{want:08x}"


def test_multivar_focal_ndvi_fmean(spark):
    # fmean over a multi-var local expression — per-var halo pad + join
    # (reference Vars.varsWithBuffer, LayerTms.scala:66-74)
    red_v = np.arange(1.0, 17.0)
    nir_v = np.arange(17.0, 33.0)
    red = tile_df(spark, "red", red_v, key=(1, 3, 2))
    nir = tile_df(spark, "nir", nir_v, key=(1, 3, 2))
    e = M.focal("fmean", (M.var("nir") - M.var("red")) / (M.var("nir") + M.var("red")), radius=1)
    out = eval_expr(e, {"red": red, "nir": nir}).collect()
    assert len(out) == 1
    got = cells_np(out[0].cells).reshape(4, 4)
    ndvi = ((nir_v - red_v) / (nir_v + red_v)).reshape(4, 4)
    padded = np.full((6, 6), np.nan)
    padded[1:-1, 1:-1] = ndvi
    from numpy.lib.stride_tricks import sliding_window_view
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        exp = np.nanmean(sliding_window_view(padded, (3, 3)), axis=(-2, -1))
    assert np.allclose(got, exp, equal_nan=True)


def test_multivar_focal_per_var_halo(spark):
    # a has a right neighbor, b does not: the neighbor's contribution to
    # fsum(a+b) must be dropped (a's halo value + b's NaN halo = NaN,
    # skipped by nansum) — per-var halos, not a shared one.
    a0 = tile_df(spark, "a", [1.0] * 16, key=(1, 0, 0))
    a1 = tile_df(spark, "a", [10.0] * 16, key=(1, 1, 0))
    b0 = tile_df(spark, "b", [2.0] * 16, key=(1, 0, 0))
    e = M.focal("fsum", M.var("a") + M.var("b"), radius=1)
    out = eval_expr(e, {"a": a0.union(a1), "b": b0}).collect()
    # join keeps only keys present in BOTH vars
    assert [(r.tile_x, r.tile_y) for r in out] == [(0, 0)]
    got = cells_np(out[0].cells).reshape(4, 4)
    # interior: 9 windows of (1+2)=3 → 27; right edge column: the a-only
    # neighbor (value 10) must NOT leak in → 6 cells of 3 = 18
    assert got[1, 1] == 27.0
    assert got[1, 3] == 18.0  # not 18 + anything from a1
    assert got[0, 0] == 12.0  # corner: 4 cells


def test_faspect_cardinal_planes():
    """Aspect = compass azimuth of steepest descent (0=N, clockwise)."""
    from geotrellis_server_spark.maml.kernels import _faspect

    x = np.arange(6, dtype=np.float64)
    east_up = np.tile(x, (6, 1))          # z grows east → descent west
    assert np.allclose(_faspect(east_up), 270.0)
    south_up = np.tile(x, (6, 1)).T       # z grows south → descent north
    assert np.allclose(_faspect(south_up), 0.0)
    west_up = east_up[:, ::-1]            # z grows west → descent east
    assert np.allclose(_faspect(west_up), 90.0)
    north_up = south_up[::-1, :]          # z grows north → descent south
    assert np.allclose(_faspect(north_up), 180.0)
    # diagonal: z grows NE → descent SW = 225
    ne = east_up + north_up
    assert np.allclose(_faspect(np.ascontiguousarray(ne)), 225.0)
    # flat → NaN
    assert np.all(np.isnan(_faspect(np.zeros((5, 5)))))


def test_faspect_via_eval(spark):
    """faspect through the focal halo machinery: a west-dipping plane
    (z = global x) yields 270 everywhere the 3x3 window is complete;
    windows touching the layer edge yield NaN (halo semantics)."""
    vals = lambda x0: [x0 + (i % 4) for i in range(16)]  # z = global col
    tiles = (tile_df(spark, "d", vals(0), key=(1, 0, 0))
             .union(tile_df(spark, "d", vals(4), key=(1, 1, 0)))
             .union(tile_df(spark, "d", vals(8), key=(1, 2, 0))))
    e = M.focal("faspect", M.var("d"), radius=1)
    out = {(r.tile_x, r.tile_y): cells_np(r.cells).reshape(4, 4)
           for r in eval_expr(e, {"d": tiles}).collect()}
    strip = np.hstack([out[(0, 0)], out[(1, 0)], out[(2, 0)]])
    assert np.all(np.isnan(strip[0, :])) and np.all(np.isnan(strip[-1, :]))
    assert np.all(np.isnan(strip[:, 0])) and np.all(np.isnan(strip[:, -1]))
    assert np.allclose(strip[1:-1, 1:-1], 270.0)


# ---------------------------------------------------------------------------
# batch composition: tile sizes, per-tile rescale, masks under focal ops
# ---------------------------------------------------------------------------

BATCH_SIZES = (1, 7, 4096)


def test_local_expression_over_mixed_tile_sizes(spark, arrow_batch):
    """A layer with 4×4 and 8×8 tiles evaluates the same whether or not
    the two sizes share an Arrow batch (coalesce(1) puts them in one
    partition)."""
    small = np.arange(16, dtype=float)
    big = np.arange(64, dtype=float) * 0.5
    tiles = tile_df(spark, "d", small, key=(3, 1, 1)).union(
        tile_df(spark, "d", big, w=8, h=8, key=(3, 2, 1))).coalesce(1)
    e = M.var("d") * 2.0 + 1.0
    for n in BATCH_SIZES:
        with arrow_batch(n):
            got = {r.tile_x: (r.width, r.height, cells_np(r.cells))
                   for r in eval_expr(e, {"d": tiles}).collect()}
        assert got.keys() == {1, 2}, n
        assert got[1][:2] == (4, 4) and got[2][:2] == (8, 8)
        assert np.array_equal(got[1][2], small * 2.0 + 1.0), n
        assert np.array_equal(got[2][2], big * 2.0 + 1.0), n


def test_focal_neighbours_of_different_sizes_raise(spark):
    tiles = tile_df(spark, "d", np.zeros(16), key=(1, 0, 0)).union(
        tile_df(spark, "d", np.zeros(64), w=8, h=8, key=(1, 1, 0)))
    with pytest.raises(Exception, match=r"ValueError: focal neighbours must share "
                                        r"one tile size: .* the \dx\d tile .* height \d"):
        eval_expr(M.focal("fsum", M.var("d"), radius=1), {"d": tiles}).collect()


def test_rescale_is_per_tile_whatever_the_batch(spark, arrow_batch):
    """rescale maps each tile's own [min, max] onto the target range,
    independent of which tiles share an Arrow batch."""
    rng = np.random.default_rng(11)
    vals, frames = {}, []
    for i in range(12):
        lo, span = float(i * 10 - 40), float(2 ** (i % 5))
        v = lo + span * rng.random(16)
        v[rng.random(16) < 0.2] = np.nan
        v[0], v[1] = lo, lo + span  # pin each tile's own extrema
        vals[i] = v
        frames.append(tile_df(spark, "d", v, key=(4, i, 3)))
    tiles = reduce(lambda a, b: a.union(b), frames).coalesce(1)
    e = M.rescale(M.var("d"), -1.0, 1.0)
    for n in BATCH_SIZES:
        with arrow_batch(n):
            got = {r.tile_x: cells_np(r.cells) for r in eval_expr(e, {"d": tiles}).collect()}
        assert got.keys() == vals.keys(), n
        for i, v in vals.items():
            lo, hi = np.nanmin(v), np.nanmax(v)
            assert np.allclose(got[i], (v - lo) / (hi - lo) * 2.0 - 1.0, equal_nan=True), (n, i)


def _windows_oracle(padded, r, reduce_fn):
    """Per-cell reduce over the (2r+1)² window of a NaN-padded grid; a
    cell whose own value is NaN stays NaN."""
    h, w = padded.shape[0] - 2 * r, padded.shape[1] - 2 * r
    out = np.full((h, w), np.nan)
    for i in range(h):
        for j in range(w):
            if not np.isnan(padded[i + r, j + r]):
                out[i, j] = reduce_fn(padded[i:i + 2 * r + 1, j:j + 2 * r + 1])
    return out


def _nanmean(win):
    v = win[~np.isnan(win)]
    return v.sum() / len(v) if len(v) else np.nan


def test_geometry_mask_under_focal_ops(spark):
    """fmean(mask(d, geom)) and mask(fmean(d), geom) over a 3×2 tile grid
    with one missing tile, against a numpy oracle on the stitched grid:
    the polygon (the concave U of test_rasterize) crosses tile edges, so
    the fmean windows read masked halo cells of the neighbours."""
    from geotrellis_server_spark.geometry.rasterize import ring_mask_block

    ring = [(-60.0, 40.0), (0.0, 40.0), (0.0, 80.0), (-20.0, 80.0),
            (-20.0, 60.0), (-40.0, 60.0), (-40.0, 80.0), (-60.0, 80.0)]
    z, s, missing = 2, 8, (2, 1)
    rng = np.random.default_rng(3)
    grid = rng.integers(1, 9, (2 * s, 3 * s)).astype(float)
    grid[rng.random(grid.shape) < 0.1] = np.nan
    msk = np.zeros_like(grid)
    frames = []
    for tx in range(3):
        for ty in range(2):
            blk = (slice(ty * s, ty * s + s), slice(tx * s, tx * s + s))
            msk[blk] = ring_mask_block(ring, z, tx, ty, s, s)
            if (tx, ty) == missing:
                grid[blk] = np.nan
            else:
                frames.append(tile_df(spark, "d", grid[blk].ravel(), w=s, h=s, key=(z, tx, ty)))
    tiles = reduce(lambda a, b: a.union(b), frames)
    assert 0 < msk.sum() < msk.size

    def pad(a):
        p = np.full((a.shape[0] + 2, a.shape[1] + 2), np.nan)
        p[1:-1, 1:-1] = a
        return p

    masked = np.where(msk == 1, grid, np.nan)
    want = {
        "fmean(mask)": _windows_oracle(pad(masked), 1, _nanmean),
        "mask(fmean)": np.where(msk == 1, _windows_oracle(pad(grid), 1, _nanmean), np.nan),
    }
    exprs = {
        "fmean(mask)": M.focal("fmean", M.mask(M.var("d"), M.geom(ring)), radius=1),
        "mask(fmean)": M.mask(M.focal("fmean", M.var("d"), radius=1), M.geom(ring)),
    }
    for name, e in exprs.items():
        out = {(r.tile_x, r.tile_y): cells_np(r.cells).reshape(s, s)
               for r in eval_expr(e, {"d": tiles}).collect()}
        assert len(out) == 5 and missing not in out, name
        for (tx, ty), got in out.items():
            exp = want[name][ty * s:ty * s + s, tx * s:tx * s + s]
            np.testing.assert_allclose(got, exp, rtol=1e-15, err_msg=f"{name} {(tx, ty)}")


def _mode(win):
    v = win[~np.isnan(win)]
    if not len(v):
        return np.nan
    counts = {}
    for x in v.tolist():
        counts[x] = counts.get(x, 0) + 1
    best = max(counts.values())
    return min(x for x, c in counts.items() if c == best)  # ties → smallest


@pytest.mark.parametrize("r", [1, 2])
def test_fmode_nan_holes_match_naive_windows(r):
    """fmode over NaN-holed stacks of 1 and several tiles (and a bare 2-D
    tile) against a naive per-window mode; ties pick the smallest value
    and all-NaN windows give NaN."""
    from geotrellis_server_spark.maml.kernels import _focal_mode

    rng = np.random.default_rng(100 + r)
    for case in range(12):
        n = 1 if case % 3 == 0 else int(rng.integers(2, 5))
        h, w = int(rng.integers(2, 7)), int(rng.integers(2, 7))
        stack = rng.integers(0, 4, (n, h + 2 * r, w + 2 * r)).astype(float)
        stack[rng.random(stack.shape) < rng.uniform(0.1, 0.7)] = np.nan
        if case % 4 == 1:  # the first cell's whole window is NaN
            stack[0, : 2 * r + 1, : 2 * r + 1] = np.nan
        got = _focal_mode(stack, r)
        assert got.shape == (n, h, w)
        for t in range(n):
            exp = _windows_oracle(stack[t], r, _mode)
            np.testing.assert_array_equal(got[t], exp, err_msg=f"case {case} tile {t}")
        np.testing.assert_array_equal(_focal_mode(stack[0], r), got[0])
    assert np.isnan(_focal_mode(np.full((1, 3 + 2 * r, 3 + 2 * r), np.nan), r)).all()
