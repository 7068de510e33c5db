"""MAML expression → ONE fused numpy closure per tile batch (reference O8:
"lazy/fused cell pipelines" — the MAML interpreter composes local ops over
LazyMultibandRaster so cell loops fuse, ogc-example/docs/maml.md:163-186.
Here the whole tree compiles to a single Python closure executed once per
Arrow batch; scalar subtrees are constant-folded first).

NoData semantics: the engine's unified NoData is NaN in float64 arrays
(reference converts user NoData → NaN on mixed-celltype ops —
core/src/test/.../NoDataHandlingTest.scala:35-58):
- arithmetic/trig propagate NaN natively;
- comparisons/logicals return 0/1 but NaN where any operand is NaN;
- def/undef return 1/0 (never NaN);
- classify/ifelse/clamp keep NaN cells NaN.

Arrays are tile stacks indexed ``[..., rows, cols]``: one (h, w) tile
or an (n, h, w) batch of same-sized tiles. Each var's tiles are padded
by its buffer from ``Expr.vars_with_buffer`` (Vars.varsWithBuffer
analog): each compiled node returns (array, pad) and local ops align
operands by cropping to the smaller pad — mirroring the reference's
TileWithNeighbors.withBuffer 3×3 read
(core/.../gtlayer/GTLayerNode.scala:88-124).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np

from .ast import Expr, FOCAL_OPS

Env = dict  # var name -> tile stack padded by the var's buffer


def _crop(a: np.ndarray, pad: int, to: int) -> np.ndarray:
    d = pad - to
    if d == 0 or np.isscalar(a) or a.ndim == 0:
        return a
    return a[..., d:-d or None, d:-d or None] if a.ndim >= 2 else a


def _align(vals: list[tuple[np.ndarray, int]]) -> tuple[list[np.ndarray], int]:
    pads = [p for _, p in vals]
    m = min(pads)
    return [_crop(a, p, m) for a, p in vals], m


def _nan_where(mask_nan: np.ndarray, x: np.ndarray) -> np.ndarray:
    out = np.asarray(x, dtype=np.float64)
    return np.where(mask_nan, np.nan, out)


def _cmp(op) -> Callable:
    def f(a, b):
        bad = np.isnan(a) | np.isnan(b)
        with np.errstate(invalid="ignore"):
            return _nan_where(bad, op(a, b).astype(np.float64))

    return f


def _logical(op) -> Callable:
    def f(a, b):
        bad = np.isnan(a) | np.isnan(b)
        return _nan_where(bad, op(a != 0, b != 0).astype(np.float64))

    return f


def _fold(op, args):
    out = args[0]
    for a in args[1:]:
        out = op(out, a)
    return out


def _windows(a: np.ndarray, r: int) -> np.ndarray:
    """[..., h+2r, w+2r] padded tiles → [..., h, w, 2r+1, 2r+1] window
    view."""
    from numpy.lib.stride_tricks import sliding_window_view

    return sliding_window_view(a, (2 * r + 1, 2 * r + 1), axis=(-2, -1))


def _centre(a: np.ndarray, r: int) -> np.ndarray:
    return a[..., r:-r or None, r:-r or None]


def _shift_reduce(a: np.ndarray, r: int, op) -> np.ndarray:
    """Separable (2r+1)² window reduce by shifted-slice accumulation:
    rows first, then columns — 2(2r+1) whole-array ops on contiguous
    slices instead of a nan-reduce over a 4-D strided window view
    (measured 9× on 64² tiles at r=1). ``op`` must be associative and
    NaN-transparent in the accumulation sense used below."""
    h, w = a.shape[-2:]
    rows = a[..., 0:h - 2 * r, :]
    for dy in range(1, 2 * r + 1):
        rows = op(rows, a[..., dy:h - 2 * r + dy, :])
    out = rows[..., 0:w - 2 * r]
    for dx in range(1, 2 * r + 1):
        out = op(out, rows[..., dx:w - 2 * r + dx])
    return out


def _focal_reduce(kind: str):
    # fsum/fmean/fmax/fmin have separable shifted-slice forms. For sums
    # the accumulation order (rows then columns, west→east) replaces
    # numpy's window-reduce order; on the engine's exact-integer tile
    # doctrine (counts, quantized values < 2^53) every order gives the
    # same double, so declared-query results are bit-identical — and
    # max/min are order-free. fmedian/fstddev keep the windowed
    # nan-reduce (no separable form).
    if kind in ("fsum", "fmean", "fmax", "fmin"):
        def f(a, r):
            nan = np.isnan(a)
            with np.errstate(all="ignore"):
                if kind in ("fmax", "fmin"):
                    op = np.fmax if kind == "fmax" else np.fmin
                    out = _shift_reduce(a, r, op)  # fmax/fmin skip NaN
                else:
                    v = np.where(nan, 0.0, a)  # nansum convention
                    s = _shift_reduce(v, r, np.add)
                    if kind == "fsum":
                        out = s
                    else:
                        c = _shift_reduce((~nan).astype(np.float64), r,
                                          np.add)
                        out = s / c  # 0/0 → NaN = nanmean's all-NaN
            return np.where(np.isnan(_centre(a, r)), np.nan, out)

        return f

    red = {
        "fmedian": np.nanmedian,
        "fstddev": np.nanstd,
    }[kind]

    def f(a, r):
        w = _windows(a, r)
        with np.errstate(all="ignore"):
            out = red(w, axis=(-2, -1))
        # cells whose own value is NoData stay NoData (TargetCell.data)
        return np.where(np.isnan(_centre(a, r)), np.nan, out)

    return f


def _focal_mode(a, r):
    """Most frequent non-NaN value of each window; ties pick the
    smallest value, all-NaN windows give NaN."""
    w = _windows(a, r)
    out = np.full(w.shape[:-2], np.nan)
    flat = out.reshape(-1)
    # mode lacks a vectorized nan-aware numpy form: one loop step per cell
    for i, vals in enumerate(w.reshape(flat.size, -1)):
        vals = vals[~np.isnan(vals)]
        if len(vals):
            u, c = np.unique(vals, return_counts=True)
            flat[i] = u[np.argmax(c)]
    return np.where(np.isnan(_centre(a, r)), np.nan, out)


def _horn_gradients(a: np.ndarray, cellsize: float):
    """Horn's method on a 1-cell-padded block → RAW (dz/dx, dz/dy) for the
    unpadded interior (same formulation GeoTrellis focal Slope/Hillshade
    uses). z_factor is applied exactly once by the caller — inside the
    arctan — never here (applying it to the gradients AND the arctan would
    square it)."""
    c = a
    tl, t, tr = c[..., :-2, :-2], c[..., :-2, 1:-1], c[..., :-2, 2:]
    l, r = c[..., 1:-1, :-2], c[..., 1:-1, 2:]
    bl, b, br = c[..., 2:, :-2], c[..., 2:, 1:-1], c[..., 2:, 2:]
    dzdx = ((tr + 2 * r + br) - (tl + 2 * l + bl)) / (8.0 * cellsize)
    dzdy = ((bl + 2 * b + br) - (tl + 2 * t + tr)) / (8.0 * cellsize)
    return dzdx, dzdy


def _fslope(a, cellsize=1.0, z_factor=1.0):
    dzdx, dzdy = _horn_gradients(a, cellsize)
    return np.degrees(np.arctan(z_factor * np.sqrt(dzdx * dzdx + dzdy * dzdy)))


def _faspect(a, cellsize=1.0):
    """Compass azimuth of steepest DESCENT in degrees [0, 360), 0 = north,
    clockwise (GeoTrellis focal Aspect semantics). Horn gradients:
    dzdx = eastward, dzdy = southward (rows grow south), so the descent
    vector in (east, north) components is (-dzdx, dzdy). Flat → NaN."""
    dzdx, dzdy = _horn_gradients(a, cellsize)
    az = np.degrees(np.arctan2(-dzdx, dzdy))
    az = np.where(az < 0, az + 360.0, az)
    return np.where((dzdx == 0) & (dzdy == 0), np.nan, az)


def _fhillshade(a, cellsize=1.0, z_factor=1.0, azimuth=315.0, altitude=45.0):
    dzdx, dzdy = _horn_gradients(a, cellsize)
    slope = np.arctan(z_factor * np.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    az = np.radians(360.0 - azimuth + 90.0)
    alt = np.radians(altitude)
    shaded = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - aspect)
    return np.clip(shaded * 255.0, 0, 255)


def fold_constants(e: Expr) -> Expr:
    """Pre-fold scalar subtrees ("carry out addition on scalars first",
    maml.md:163-186)."""

    def f(node: Expr) -> Expr:
        if node.symbol in ("int", "dbl", "bool", "rasterV") or not node.args:
            return node
        if all(a.symbol in ("int", "dbl", "bool") for a in node.args):
            try:
                env: Env = {}
                v = compile_node(node)(env)
                if np.isscalar(v) or getattr(v, "ndim", 1) == 0:
                    return Expr.lit(float(v))
            except Exception:
                pass
        return node

    return e.transform(f)


def compile_node(e: Expr) -> Callable[..., np.ndarray]:
    """The whole tree as ONE closure ``run(env, tiles=None)``.

    ``env`` maps each var to its tile stack padded by the var's buffer
    from ``e.vars_with_buffer()``. ``tiles`` holds the (zoom, tile_x,
    tile_y, width, height) arrays of the stack's n tiles; only geometry
    literals read it. Returns the unpadded result: every focal node
    crops exactly the halo it adds to its input's buffer, so the
    deepest read of each var comes out of the root at pad 0."""
    fn = _compile(e, 0, e.vars_with_buffer())
    return lambda env, tiles=None: fn(env, tiles)[0]


def _compile(e: Expr, buf: int, pads: dict[str, int]):
    """Returns fn(env, tiles) -> (array, pad). ``buf`` is the halo this
    node's output must carry: the radii of the focal ops above it."""
    s = e.symbol
    if s in ("int", "dbl"):
        v = float(e.p("value"))
        return lambda env, tiles: (v, 10 ** 9)
    if s == "bool":
        v = 1.0 if e.p("value") else 0.0
        return lambda env, tiles: (v, 10 ** 9)
    if s == "rasterV":
        name = e.p("name")
        pad = pads[name]
        return lambda env, tiles: (env[name], pad)
    if s == "geomLit":
        # rasterized IN the fused kernel from the stack's tile keys, out
        # to this node's buffer: pad cells come from the polygon, so a
        # geometry mask needs no mask-tile table, join or halo exchange.
        ring = [tuple(float(v) for v in p) for p in e.p("ring")]

        def f(env, tiles):
            from ..geometry.rasterize import ring_mask_block

            return np.stack([
                ring_mask_block(ring, int(z), int(x), int(y), int(w), int(h), pad=buf)
                for z, x, y, w, h in zip(*tiles)
            ]), buf

        return f

    child = buf + e.halo()
    subs = [_compile(a, child, pads) for a in e.args]

    def arrs(env, tiles):
        vals = [f(env, tiles) for f in subs]
        real = [(a, p) for a, p in vals if not np.isscalar(a)]
        if not real:
            return [a for a, _ in vals], 0
        aligned, m = _align(real)
        it = iter(aligned)
        return [next(it) if not np.isscalar(a) else a for a, p in vals], m

    def mk(op):
        def f(env, tiles):
            a, m = arrs(env, tiles)
            with np.errstate(all="ignore"):
                return op(a), m

        return f

    simple = {
        "+": lambda a: _fold(np.add, a),
        "-": lambda a: _fold(np.subtract, a) if len(a) > 1 else np.negative(a[0]),
        "*": lambda a: _fold(np.multiply, a),
        "/": lambda a: _fold(np.divide, a),
        "**": lambda a: _fold(np.power, a),
        "min": lambda a: _fold(np.minimum, a),
        "max": lambda a: _fold(np.maximum, a),
        "<": lambda a: _cmp(np.less)(a[0], a[1]),
        "<=": lambda a: _cmp(np.less_equal)(a[0], a[1]),
        ">": lambda a: _cmp(np.greater)(a[0], a[1]),
        ">=": lambda a: _cmp(np.greater_equal)(a[0], a[1]),
        "=": lambda a: _cmp(np.equal)(a[0], a[1]),
        "!=": lambda a: _cmp(np.not_equal)(a[0], a[1]),
        "and": lambda a: _logical(np.logical_and)(a[0], a[1]),
        "or": lambda a: _logical(np.logical_or)(a[0], a[1]),
        "xor": lambda a: _logical(np.logical_xor)(a[0], a[1]),
        "sin": lambda a: np.sin(a[0]),
        "cos": lambda a: np.cos(a[0]),
        "tan": lambda a: np.tan(a[0]),
        "sinh": lambda a: np.sinh(a[0]),
        "cosh": lambda a: np.cosh(a[0]),
        "tanh": lambda a: np.tanh(a[0]),
        "asin": lambda a: np.arcsin(a[0]),
        "acos": lambda a: np.arccos(a[0]),
        "atan": lambda a: np.arctan(a[0]),
        "atan2": lambda a: np.arctan2(a[0], a[1]),
        "round": lambda a: np.round(a[0]),
        "floor": lambda a: np.floor(a[0]),
        "ceil": lambda a: np.ceil(a[0]),
        "loge": lambda a: np.log(a[0]),
        "log10": lambda a: np.log10(a[0]),
        "sqrt": lambda a: np.sqrt(a[0]),
        "abs": lambda a: np.abs(a[0]),
        "nneg": lambda a: np.negative(a[0]),
        "def": lambda a: (~np.isnan(np.asarray(a[0], dtype=np.float64))).astype(np.float64),
        "undef": lambda a: np.isnan(np.asarray(a[0], dtype=np.float64)).astype(np.float64),
        "lneg": lambda a: _nan_where(
            np.isnan(np.asarray(a[0], dtype=np.float64)),
            np.logical_not(np.asarray(a[0]) != 0).astype(np.float64),
        ),
    }
    if s in simple:
        return mk(simple[s])

    if s == "ifelse":
        def f(env, tiles):
            (c, x, y), m = arrs(env, tiles)
            c = np.asarray(c, dtype=np.float64)
            out = np.where(c != 0, x, y)
            return _nan_where(np.isnan(c), out), m

        return f
    if s == "classify":
        breaks = np.asarray(e.p("breaks"), dtype=np.float64)
        values = np.asarray(e.p("values"), dtype=np.float64)

        def f(env, tiles):
            (x,), m = arrs(env, tiles)
            x = np.asarray(x, dtype=np.float64)
            idx = np.clip(np.digitize(x, breaks), 0, len(values) - 1)
            return _nan_where(np.isnan(x), values[idx]), m

        return f
    if s == "clamp":
        lo, hi = e.p("lo"), e.p("hi")
        return mk(lambda a: np.clip(a[0], lo, hi))
    if s == "normalize":
        a0, a1 = e.p("old_min"), e.p("old_max")
        b0, b1 = e.p("new_min"), e.p("new_max")

        def f(env, tiles):
            (x,), m = arrs(env, tiles)
            return (np.asarray(x) - a0) / (a1 - a0) * (b1 - b0) + b0, m

        return f
    if s == "rescale":
        b0, b1 = e.p("new_min"), e.p("new_max")

        def f(env, tiles):
            # per-TILE min/max over the trailing (rows, cols) axes:
            # batch-wide extrema would make output depend on Arrow batch
            # composition (nondeterministic across partitions).
            (x,), m = arrs(env, tiles)
            x = np.asarray(x, dtype=np.float64)
            axes = tuple(range(-min(x.ndim, 2), 0))
            with np.errstate(all="ignore"):
                a0 = np.nanmin(x, axis=axes, keepdims=True)
                a1 = np.nanmax(x, axis=axes, keepdims=True)
            span = np.where((a1 - a0) == 0, 1.0, a1 - a0)
            return (x - a0) / span * (b1 - b0) + b0, m

        return f
    if s == "mask":
        def f(env, tiles):
            (x, mk_), m = arrs(env, tiles)
            mk_ = np.asarray(mk_, dtype=np.float64)
            return np.where(np.isnan(mk_) | (mk_ == 0), np.nan, x), m

        return f
    if s == "rgb":
        def f(env, tiles):
            a, m = arrs(env, tiles)
            return np.stack(a, axis=-1), m

        return f
    if s == "sel":
        band = int(e.p("band", 0))

        def f(env, tiles):
            (x,), m = arrs(env, tiles)
            return np.asarray(x)[..., band], m

        return f

    if s in FOCAL_OPS:
        r = e.halo()
        if s in ("fmax", "fmin", "fmean", "fmedian", "fsum", "fstddev"):
            op = _focal_reduce(s)

            def f(env, tiles, op=op, r=r):
                (x,), m = arrs(env, tiles)
                return op(np.asarray(x, dtype=np.float64), r), m - r

            return f
        if s == "fmode":
            def f(env, tiles, r=r):
                (x,), m = arrs(env, tiles)
                return _focal_mode(np.asarray(x, dtype=np.float64), r), m - r

            return f
        if s == "fslope":
            cs, zf = float(e.p("cellsize", 1.0)), float(e.p("z_factor", 1.0))

            def f(env, tiles):
                (x,), m = arrs(env, tiles)
                return _fslope(np.asarray(x, dtype=np.float64), cs, zf), m - 1

            return f
        if s == "faspect":
            cs = float(e.p("cellsize", 1.0))

            def f(env, tiles, cs=cs):
                (x,), m = arrs(env, tiles)
                return _faspect(np.asarray(x, dtype=np.float64), cs), m - 1

            return f
        if s == "fhillshade":
            cs, zf = float(e.p("cellsize", 1.0)), float(e.p("z_factor", 1.0))
            az, alt = float(e.p("azimuth", 315.0)), float(e.p("altitude", 45.0))

            def f(env, tiles):
                (x,), m = arrs(env, tiles)
                return _fhillshade(np.asarray(x, dtype=np.float64), cs, zf, az, alt), m - 1

            return f

    if s in CUSTOM_KERNELS:
        op = CUSTOM_KERNELS[s]

        def f(env, tiles):
            a, m = arrs(env, tiles)
            return op(a), m

        return f

    raise ValueError(f"unhandled MAML symbol: {s}")  # UnhandledCase analog


# registry of user-extensible kernels (reference Directive mechanism,
# ogc-example/docs/maml.md:146-206): users register (symbol, fn) pairs
# where fn(args_list) -> array; looked up before raising UnhandledCase.
CUSTOM_KERNELS: dict[str, Callable] = {}


def register_kernel(symbol: str, fn: Callable) -> None:
    CUSTOM_KERNELS[symbol] = fn
