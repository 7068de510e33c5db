"""Arrow list-column contract of the ``mapInArrow`` kernels
(``operators.tiling``, ``operators.ml``): list columns are read from
their raw buffers and written from numpy with checked offsets."""

from __future__ import annotations

import numpy as np


def list_rows(col, size: int):
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


def list_matrix(col, size: int, name: str = "list"):
    """(n, size) float64 matrix of a list column. Raises ValueError on
    a NULL row (labelled ``name``) or a row whose length is not ``size``."""
    mask, offs, vals = list_rows(col, size)
    if mask.any():
        raise ValueError(f"NULL {name} in row {int(np.argmax(mask))}")
    return vals[offs[0]:offs[-1]].reshape(len(col), size)


def list_col(arr2d):
    """numpy (n, k) -> pa list rows of the array's dtype, NaN-preserving.
    Offsets are computed in int64; a list column holds int32 offsets,
    so more than 2**31 - 1 values raise instead of wrapping."""
    import pyarrow as pa

    n, k = arr2d.shape
    if n * k >= 2**31:
        raise ValueError(
            f"{n} rows x {k} values overflow int32 list offsets; "
            "use smaller Arrow batches (spark.sql.execution.arrow."
            "maxRecordsPerBatch)")
    return pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int64) * k, type=pa.int32()),
        pa.array(arr2d.reshape(-1)))


def batch_tile_size(b) -> tuple[int, int]:
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
