"""Styling — per-cell LUT transforms (SURVEY.md §2.7, C1–C5).

- ``interpolated_colormap``: piecewise-linear RGBA lerp between poles with
  clip modes (ogc/.../style/InterpolatedColorMap.scala:52-101; goldens in
  InterpolatedColorMapSpec.scala:39-78).
- ``color_ramp_breaks``: linspace(min, max, n) breaks
  (ColorRampStyle.scala:39-53; OgcStyleSpec golden: 50 breaks over
  [-10, 90] with exact endpoints).
- ``color_map``: exact value→color (ColorMapStyle.scala:27-39).
- ``render_rgba``: per-tile value→RGBA arrays; NoData→transparent
  (ogc/.../Render.scala:28-75 dispatch: 1 band → styled singleband).

All kernels are vectorized numpy; colors are (r, g, b, a) uint8 tuples.
"""

from __future__ import annotations

import numpy as np

CLIP_NONE = "none"
CLIP_LEFT = "clip-left"
CLIP_RIGHT = "clip-right"
CLIP_BOTH = "clip-both"


def color_ramp_breaks(min_v: float, max_v: float, n: int) -> np.ndarray:
    """n breaks, endpoints exact (linspace semantics matching
    ColorRampStyle.breaks)."""
    return np.linspace(min_v, max_v, n)


def interpolated_colormap(
    values: np.ndarray,
    poles: dict[float, tuple[int, int, int, int]],
    clip: str = CLIP_NONE,
) -> np.ndarray:
    """values (any shape) → uint8 RGBA array (shape + (4,)).

    Between poles: linear interpolation per channel. Outside the pole
    range: CLIP_NONE extends the edge colors; clip-left/right/both render
    transparent(0,0,0,0) beyond the respective edge. NaN → transparent."""
    xs = np.array(sorted(poles), dtype=np.float64)
    cols = np.array([poles[x] for x in xs], dtype=np.float64)  # (k, 4)
    v = np.asarray(values, dtype=np.float64)
    flat = v.ravel()
    out = np.empty((flat.size, 4), dtype=np.float64)
    for ch in range(4):
        out[:, ch] = np.interp(flat, xs, cols[:, ch])
    nan_mask = np.isnan(flat)
    out[nan_mask] = 0
    if clip in (CLIP_LEFT, CLIP_BOTH):
        out[flat < xs[0]] = 0
    if clip in (CLIP_RIGHT, CLIP_BOTH):
        out[flat > xs[-1]] = 0
    return np.round(out).astype(np.uint8).reshape(v.shape + (4,))


def color_map(
    values: np.ndarray,
    mapping: dict[float, tuple[int, int, int, int]],
    fallback: tuple[int, int, int, int] = (0, 0, 0, 0),
) -> np.ndarray:
    """C2 exact value→color map."""
    v = np.asarray(values, dtype=np.float64)
    flat = v.ravel()
    out = np.tile(np.array(fallback, dtype=np.uint8), (flat.size, 1))
    for val, col in mapping.items():
        out[flat == val] = col
    return out.reshape(v.shape + (4,))


def classify_breaks(
    values: np.ndarray,
    breaks: np.ndarray,
    colors: np.ndarray,
) -> np.ndarray:
    """C1 ramp render: value → first break >= value → that break's color
    (GeoTrellis ColorMap LessThanOrEqualTo semantics); above the last
    break → transparent; NaN → transparent."""
    v = np.asarray(values, dtype=np.float64)
    flat = v.ravel()
    idx = np.searchsorted(breaks, flat, side="left")
    over = idx >= len(breaks)
    idx = np.clip(idx, 0, len(breaks) - 1)
    out = np.asarray(colors, dtype=np.uint8)[idx]
    out[over | np.isnan(flat)] = (0, 0, 0, 0)
    return out.reshape(v.shape + (4,))


def render_rgba(cells: np.ndarray, style=None, **kw) -> np.ndarray:
    """Render dispatch (C5): style is a callable values→RGBA (partial of
    the above); None → greyscale auto-rescale with NoData transparent."""
    a = np.asarray(cells, dtype=np.float64)
    if style is not None:
        return style(a, **kw)
    finite = np.isfinite(a)
    lo = np.nanmin(a[finite]) if finite.any() else 0.0
    hi = np.nanmax(a[finite]) if finite.any() else 1.0
    span = (hi - lo) or 1.0
    g = np.clip((a - lo) / span * 255.0, 0, 255)
    rgba = np.zeros(a.shape + (4,), dtype=np.uint8)
    for ch in range(3):
        rgba[..., ch] = np.where(finite, g, 0).astype(np.uint8)
    rgba[..., 3] = np.where(finite, 255, 0).astype(np.uint8)
    return rgba
