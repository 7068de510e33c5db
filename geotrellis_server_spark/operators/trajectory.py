"""Trajectory analytics over event streams — origin/destination flow
matrices on the engine's cell grid.

Reference parity note: the reference engine (geotrellis-server) serves
rasters and has no movement analytics; this belongs to the spatial-
analytics family the brief adds (OD matrices on a discrete global grid
are the standard mobility/log-analytics aggregate, cf. Uber's H3
hexbin OD work — here on the engine's quadtree cell keys,
grids/cells.py / sqlgen.cell_key_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotrellis_server_spark import sqlgen


def od_flows(
    events: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    res: int = 4,
) -> DataFrame:
    """Origin→destination flow counts: for every user's time-ordered
    event sequence, each consecutive event pair contributes one trip
    from the cell of the earlier event to the cell of the later one.
    Returns (src_cell, dst_cell, n_trips). Cell ids are the engine's
    packed quadtree keys (cx * 2^res + cy — the SpatialKey mapping).

    Ordering is total — (ts, tiebreak) — so lag() is deterministic
    under any partitioning and any engine; all arithmetic is integer.

    Scale shape: ONE exchange keyed by user (the window partition;
    free when the event log is already stored partitioned by user, the
    natural layout for per-user logs), then a groupBy(src, dst) count
    with map-side partials onto at most 4^res * 4^res rows. A hot cell
    pair is absorbed by the partial aggregation, not a shuffle skew."""
    cell = sqlgen.cell_key_sql(lon_col, lat_col, res)
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(tiebreak_col))
    return (events
            .select(F.col(user_col), F.col(ts_col), F.col(tiebreak_col),
                    F.expr(cell).alias("dst_cell"))
            .withColumn("src_cell", F.lag("dst_cell").over(w))
            .where(F.col("src_cell").isNotNull())
            .groupBy("src_cell", "dst_cell")
            .agg(F.count("*").alias("n_trips")))


def _haversine_q_expr(lon1: str, lat1: str, lon2: str, lat2: str,
                      scale: int = 1 << 10) -> str:
    """Great-circle metres, floor-quantized to 1/scale m — the identical
    IEEE expression tree in Spark and DuckDB (x*x, never pow; a 1-ULP
    trig divergence only flips the floor within 2^-42 of a quantum
    boundary — the dsir/ln doctrine applied to trig)."""
    dlat = f"sin(radians(({lat2}) - ({lat1})) / 2)"
    dlon = f"sin(radians(({lon2}) - ({lon1})) / 2)"
    a = (f"({dlat}) * ({dlat}) + cos(radians({lat1})) * "
         f"cos(radians({lat2})) * ({dlon}) * ({dlon})")
    return (f"CAST(floor(2.0 * 6371000.0 * asin(sqrt({a})) * "
            f"{float(scale)!r}) AS BIGINT)")


def trajectory_stats(
    events: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-user movement statistics over the time-ordered event
    sequence: (user_id, n_trips, total_dist_q, max_hop_q) with each
    hop's haversine metres floor-quantized to 2^-10 m BEFORE the
    sum/max, so the aggregates are exact integers — partition- and
    engine-invariant.

    Scale shape: one exchange keyed by user for the lag window (free on
    a user-partitioned event log), then a map-side-combined user-keyed
    aggregate. The quantized-hop stream never widens."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col),
                                             F.col(tiebreak_col))
    hops = (events
            .select(F.col(user_col), F.col(ts_col), F.col(tiebreak_col),
                    F.col(lon_col).alias("_lon"),
                    F.col(lat_col).alias("_lat"))
            .withColumn("_plon", F.lag("_lon").over(w))
            .withColumn("_plat", F.lag("_lat").over(w))
            .where(F.col("_plon").isNotNull())
            .select(F.col(user_col), F.expr(_haversine_q_expr(
                "_plon", "_plat", "_lon", "_lat")).alias("hop_q")))
    return hops.groupBy(user_col).agg(
        F.count("*").cast("long").alias("n_trips"),
        F.sum("hop_q").alias("total_dist_q"),
        F.max("hop_q").alias("max_hop_q"))


def _dda_coord_sql(c0: str, c1: str, n: str, t: str) -> str:
    """Rounded-DDA coordinate at step ``t`` of ``n``:
    floor(c0 + t*(c1-c0)/n + 1/2) computed as the exact integer
    floor((2*(c0*n + t*(c1-c0)) + n) / (2n)) — engine-portable (the
    double division of integers ≪ 2^53 floors identically everywhere;
    numerator is nonnegative because the interpolant stays inside
    [min(c0,c1), max(c0,c1)])."""
    num = f"(2 * (({c0}) * ({n}) + ({t}) * (({c1}) - ({c0}))) + ({n}))"
    return (f"CASE WHEN ({n}) = 0 THEN ({c0}) ELSE "
            f"CAST(floor({num} / (2.0 * ({n}))) AS BIGINT) END")


def rasterize_hops(
    events: DataFrame,
    zoom: int,
    tile_size: int = 64,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Linestring rasterization of per-user trajectories (GeoTrellis
    rasterizes LineStrings cell-per-major-axis-step — Rasterizer
    .foreachCellByLineString; same density here via rounded DDA, the
    other classic public scan-conversion): every consecutive event pair
    (total (ts, id) ordering) becomes a pixel run on the global grid at
    ``zoom``; output (px, py, n_traversals) counts line cells, exactly.

    Why DDA and not Bresenham: the rounded-DDA cell at step t is a
    CLOSED-FORM exact-integer expression (:func:`_dda_coord_sql`), while
    Bresenham's error accumulator is inherently sequential. Same
    one-cell-per-major-step contract.

    One implementation: a mapInPandas numpy kernel evaluates that
    closed form for every step of every hop. The SQL form (one
    ``explode(sequence(0, n))`` per hop) is the reference in
    tests/test_spatial_join.py.

    Scale shape: hop building is one user-keyed window exchange (free
    when the log is stored partitioned by user); each kernel task
    accumulates its cells into one partial count table, and the count
    is ONE aggregate on the pixel key over those partials — hot
    corridors collapse inside the task."""
    from .density import global_pixel_sql

    gpx, gpy = global_pixel_sql(lon, lat, zoom, tile_size)
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pts = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        F.expr(gpx).alias("x1"),
        F.expr(gpy).alias("y1"),
    )
    hops = (
        pts.select(
            "x1", "y1",
            F.lag("x1").over(w).alias("x0"),
            F.lag("y1").over(w).alias("y0"),
        )
        .where("x0 IS NOT NULL")
    )

    # The explode+CASE SQL form evaluates ~85 ns/cell in codegen
    # (measured: 331M cells = 31 s at sf0.1×40). The numpy DDA
    # accumulates ONE dense counts array per TASK across all its Arrow
    # batches and emits the nonzeros once at iterator exhaustion, so the
    # exchange carries <= grid-size partials per task (not per batch).
    # It uses the same integer floor arithmetic as _dda_coord_sql, so it
    # equals the SQL form exactly (tests/test_spatial_join.py).
    # Intermediates drop to int32 when every product fits (grids up to
    # ~23k px/side): half the memory traffic over the cell stream.
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    n_px = (1 << zoom) * tile_size
    dense_ok = n_px * n_px <= (1 << 24)
    # 2*(c0*n + t*dc) + n <= 4*n_px^2 + n_px must fit in int32
    dt = np.int32 if 4 * n_px * n_px + n_px < (1 << 31) else np.int64
    schema = T.StructType([
        T.StructField("px", T.LongType()),
        T.StructField("py", T.LongType()),
        T.StructField("partial", T.LongType()),
    ])

    def kernel(batches):
        counts = None
        acc_k: list = []
        acc_c: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            x0 = pdf["x0"].to_numpy(dt)
            y0 = pdf["y0"].to_numpy(dt)
            x1 = pdf["x1"].to_numpy(dt)
            y1 = pdf["y1"].to_numpy(dt)
            n = np.maximum(np.abs(x1 - x0), np.abs(y1 - y0))
            reps = n + 1
            idx = np.repeat(np.arange(len(n), dtype=np.int64), reps)
            # step index t within each hop: global arange minus run start
            starts = np.concatenate(
                ([0], np.cumsum(reps, dtype=np.int64)[:-1]))
            t = (np.arange(int(reps.sum(dtype=np.int64)), dtype=np.int64)
                 - starts[idx]).astype(dt, copy=False)
            nn = n[idx]
            safe = np.maximum(nn, dt(1))
            px = np.where(
                nn == 0, x0[idx],
                (dt(2) * (x0[idx] * safe + t * (x1 - x0)[idx]) + safe)
                // (dt(2) * safe))
            py = np.where(
                nn == 0, y0[idx],
                (dt(2) * (y0[idx] * safe + t * (y1 - y0)[idx]) + safe)
                // (dt(2) * safe))
            key = px * dt(n_px) + py
            if dense_ok:
                if counts is None:
                    counts = np.zeros(n_px * n_px, dtype=np.int64)
                counts += np.bincount(key, minlength=n_px * n_px)
            else:
                uk, uc = np.unique(key, return_counts=True)
                acc_k.append(uk)
                acc_c.append(uc)
        if counts is not None:
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame({"px": nz // n_px, "py": nz % n_px,
                                "partial": counts[nz]})
        elif acc_k:
            k = np.concatenate(acc_k)
            c = np.concatenate(acc_c)
            uk, inv = np.unique(k, return_inverse=True)
            uc = np.bincount(inv, weights=c).astype(np.int64)
            yield pd.DataFrame({"px": uk // n_px, "py": uk % n_px,
                                "partial": uc})

    return (hops.mapInPandas(kernel, schema)
            .groupBy("px", "py")
            .agg(F.sum("partial").alias("n_traversals")))


def simplify_trajectories(
    events: DataFrame,
    tolerance: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    x_col: str = "sx",
    y_col: str = "sy",
) -> DataFrame:
    """Douglas–Peucker polyline simplification of per-user trajectories
    (the standard track-thinning op; GeoTrellis exposes the same
    algorithm via JTS ``DouglasPeuckerSimplifier``): keep a point iff
    its perpendicular distance from the current chord exceeds
    ``tolerance`` (in grid units on the integer pixel grid).

    Exactness: the distance test is cross² > tol²·len² in BIGINTs
    (cross = 2-D cross product of chord and offset — the distance
    NUMERATOR; len² the chord length squared), and the split point is
    argmax by (cross²·1 per-chord-constant, smallest index) — so the
    retained set is a pure function of the input sequence: engine- and
    partitioning-exact. Degenerate closed chords (start == end) fall
    back to squared point distance vs tol².

    Scale shape: ONE user-keyed exchange (applyInPandas group = one
    trajectory — bounded state, the same shape as sessionize); the
    recursion is per-group local and O(n²) worst case on pathological
    tracks, O(n log n) typical."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    tol2 = int(tolerance) * int(tolerance)
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
    ])

    def dp(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, id_col]).reset_index(drop=True)
        xs = pdf[x_col].to_numpy(np.int64)
        ys = pdf[y_col].to_numpy(np.int64)
        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            i, j = stack.pop()
            if j - i < 2:
                continue
            ax, ay, bx, by = xs[i], ys[i], xs[j], ys[j]
            dx, dy = int(bx - ax), int(by - ay)
            len2 = dx * dx + dy * dy
            best, best_d = -1, -1
            for k in range(i + 1, j):
                px, py = int(xs[k] - ax), int(ys[k] - ay)
                if len2 == 0:
                    d = (px * px + py * py) * 1  # point distance², ×1·len2-norm
                    over = d > tol2
                    dcmp = d
                else:
                    cross = dx * py - dy * px
                    dcmp = cross * cross
                    over = dcmp > tol2 * len2
                if over and dcmp > best_d:
                    best, best_d = k, dcmp
            if best >= 0:
                keep[best] = True
                stack.append((i, best))
                stack.append((best, j))
        out = pd.DataFrame({
            "user_id": int(key[0]),
            "seq": np.arange(n, dtype=np.int32)[keep],
            "x": xs[keep],
            "y": ys[keep],
        })
        return out

    return events.groupBy(user_col).applyInPandas(dp, schema)


def direction_rose(
    events: DataFrame,
    zoom: int = 2,
    tile_size: int = 64,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Movement direction rose: every consecutive per-user hop is
    classified into its 45° compass sector (0=N, 1=NE, … 7=NW; −1 =
    stationary) and counted — the wind-rose of a mobility log. The
    sector comes from pure integer sign/magnitude comparisons of the
    hop vector in (east, north) grid components (north = −Δgy, rows
    grow south), with boundaries assigned to the CLOCKWISE-lower sector
    (az ∈ [k·45°, (k+1)·45°)) — no trigonometry, engine- and
    partitioning-exact.

    Scale shape: one user-keyed window exchange + ONE map-side-combined
    count onto ≤ 9 rows."""
    from pyspark.sql import Window

    from .density import global_pixel_sql

    gpx, gpy = global_pixel_sql(lon, lat, zoom, tile_size)
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    hops = (
        events.select(
            F.col(user_col), F.col(ts_col), F.col(id_col),
            F.expr(gpx).alias("x1"), F.expr(gpy).alias("y1"))
        .withColumn("x0", F.lag("x1").over(w))
        .withColumn("y0", F.lag("y1").over(w))
        .where("x0 IS NOT NULL")
        .selectExpr("x1 - x0 AS e", "y0 - y1 AS n")
    )
    return (
        hops.selectExpr(f"({direction_octant_sql('e', 'n')}) AS octant")
        .groupBy("octant")
        .agg(F.count("*").alias("n_hops"))
    )


def direction_octant_sql(e: str, n: str) -> str:
    """45°-sector index of vector (east, north) with half-open
    [k·45°, (k+1)·45°) boundaries, −1 for the zero vector — one
    engine-portable integer CASE (shared by operator and oracle)."""
    return f"""CASE
      WHEN ({e}) = 0 AND ({n}) = 0 THEN -1
      WHEN ({e}) >= 0 AND ({n}) > 0 AND ({e}) < ({n}) THEN 0
      WHEN ({e}) > 0 AND ({n}) > 0 THEN 1
      WHEN ({e}) > 0 AND ({n}) <= 0 AND ({e}) > -({n}) THEN 2
      WHEN ({e}) > 0 AND ({n}) < 0 THEN 3
      WHEN ({e}) <= 0 AND ({n}) < 0 AND -({e}) < -({n}) THEN 4
      WHEN ({e}) < 0 AND ({n}) < 0 THEN 5
      WHEN ({e}) < 0 AND ({n}) >= 0 AND -({e}) > ({n}) THEN 6
      ELSE 7 END"""
