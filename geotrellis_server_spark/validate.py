"""Request validation before job submit (SURVEY.md O10 — the reference
accumulates parameter errors in ValidatedNel before any I/O,
ogc/.../wms/WmsParams.scala:83-125). Same shape: collect ALL problems,
raise once with the full list."""

from __future__ import annotations


class RequestValidationError(ValueError):
    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("; ".join(errors))


def validate_extent(extent, crs: str = "EPSG:4326") -> list[str]:
    errs = []
    try:
        xmin, ymin, xmax, ymax = (float(v) for v in extent)
    except (TypeError, ValueError):
        return [f"extent must be 4 numbers, got {extent!r}"]
    if xmin > xmax:
        errs.append(f"extent xmin > xmax ({xmin} > {xmax})")
    if ymin > ymax:
        errs.append(f"extent ymin > ymax ({ymin} > {ymax})")
    if crs == "EPSG:4326":
        if not (-180.0 <= xmin and xmax <= 180.0):
            errs.append(f"lon out of [-180, 180]: [{xmin}, {xmax}]")
        if not (-90.0 <= ymin and ymax <= 90.0):
            errs.append(f"lat out of [-90, 90]: [{ymin}, {ymax}]")
    return errs


def validate_get_extent(extent, cell_size, crs: str = "EPSG:4326") -> None:
    errs = validate_extent(extent, crs)
    if not isinstance(cell_size, (int, float)) or cell_size <= 0:
        errs.append(f"cell_size must be > 0, got {cell_size!r}")
    if errs:
        raise RequestValidationError(errs)


def validate_get_tile(z, x, y, max_zoom: int = 30, scheme=None) -> None:
    """``scheme=None`` validates against the default WebMercator square
    pyramid (2^z × 2^z); a CrsLayoutScheme/ZoomedLayoutScheme validates
    against ITS grid dimensions (custom matrix sets are rectangular)."""
    errs = []
    if not (0 <= z <= max_zoom):
        errs.append(f"zoom {z} out of [0, {max_zoom}]")
    else:
        if scheme is not None:
            lay = scheme.layout(z)
            cols, rows = lay.layout_cols, lay.layout_rows
        else:
            cols = rows = 1 << z
        if not (0 <= x < cols):
            errs.append(f"tile_x {x} out of [0, {cols}) at zoom {z}")
        if not (0 <= y < rows):
            errs.append(f"tile_y {y} out of [0, {rows}) at zoom {z}")
    if errs:
        raise RequestValidationError(errs)
