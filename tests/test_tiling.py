"""Tile assignment + rasterization vs oracles (SURVEY.md R4; exact tile
assignments are a correctness gate per BASELINE.json)."""

import math

import duckdb
import numpy as np
import pytest
import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from geotrellis_server_spark import sqlgen
from geotrellis_server_spark.grids.layout import tile_key_np
from geotrellis_server_spark.operators import tiling
from geotrellis_server_spark.sources import synth

N = 3000

TILE_DDL = "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>"


def pyramid_up_sql_reference(tiles, agg: str, fill: float):
    """Pure-SQL pyramid rollup — the bit-for-bit reference the Arrow
    kernels of ``tiling.pyramid_up`` must equal (same FP accumulation
    order: ``a + b + c + d`` left to right; ``greatest`` for max)."""
    ops = {
        "sum": lambda a, b, c, d: f"{a} + {b} + {c} + {d}",
        "mean": lambda a, b, c, d: f"({a} + {b} + {c} + {d}) / 4.0",
        "max": lambda a, b, c, d: f"greatest({a}, {b}, {c}, {d})",
    }

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
    # tile coordinates map correctly — plain DIV/% truncate toward zero
    quads = tiles.selectExpr(
        "zoom - 1 AS zoom",
        "(tile_x - pmod(tile_x, 2)) DIV 2 AS tile_x",
        "(tile_y - pmod(tile_y, 2)) DIV 2 AS tile_y",
        "CAST(pmod(tile_x, 2) AS INT) AS qx",
        "CAST(pmod(tile_y, 2) AS INT) AS qy",
        "width",
        "height",
        f"{quad} AS qcells",
    )

    # step 2: pivot quadrants to columns, assemble rows west++east
    def pick(qx: int, qy: int):
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
    rows_n, rows_s = (
        f"flatten(transform(sequence(0, height DIV 2 - 1), r -> concat("
        f"slice({g[w]}, CAST(r AS INT) * {half} + 1, {half}), "
        f"slice({g[e]}, CAST(r AS INT) * {half} + 1, {half}))))"
        for w, e in (("00", "10"), ("01", "11"))
    )
    return per_parent.selectExpr(
        "zoom", "tile_x", "tile_y", "width", "height",
        f"concat({rows_n}, {rows_s}) AS cells",
    )


def _by_key(df):
    """{(zoom, x, y): repr((w, h, cells))} — repr keeps NaN comparable
    and every double bit-exact."""
    return {(r.zoom, r.tile_x, r.tile_y): repr((r.width, r.height, tuple(r.cells)))
            for r in df.collect()}


def test_tile_counts_match_duckdb(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    tc = tiling.tile_counts(d, 8).toPandas().sort_values(["tile_x", "tile_y"]).reset_index(drop=True)
    o = duckdb.connect().execute(
        f"""SELECT {sqlgen.tile_x_sql(sqlgen.lon_sql('id'), 8)} tile_x,
                  {sqlgen.tile_y_sql(sqlgen.lat_sql('id'), 8)} tile_y, count(*) n_docs
        FROM range({N}) t(id) GROUP BY 1, 2 ORDER BY tile_x, tile_y"""
    ).df()
    assert (tc.values == o.values).all()


def test_assign_tiles_matches_numpy(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    pdf = tiling.assign_tiles(d, 12).select("lon", "lat", "tile_x", "tile_y").toPandas()
    tx, ty = tile_key_np(pdf.lon.values, pdf.lat.values, 12)
    assert (tx == pdf.tile_x.values).all()
    assert (ty == pdf.tile_y.values).all()


def test_rasterize_count_conserves_mass_and_placement(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    r = tiling.rasterize_count(d, 3, tile_size=32)
    rows = r.collect()
    total = sum(sum(row.cells) for row in rows)
    assert total == N  # every doc lands in exactly one pixel
    # cross-check one tile against numpy bincount
    pdf = d.select("lon", "lat").toPandas()
    zoom, ts = 3, 32
    n_px = (1 << zoom) * ts
    gx, gy = tile_key_np(pdf.lon.values, pdf.lat.values, zoom)
    # global pixel indices via the same normalized-mercator math
    mx = (pdf.lon.values + 180.0) / 360.0
    lat = np.clip(pdf.lat.values, -sqlgen.MAX_LAT, sqlgen.MAX_LAT)
    my = 0.5 - np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) / (2 * np.pi)
    gpx = np.minimum(np.floor(mx * n_px), n_px - 1).astype(np.int64)
    gpy = np.minimum(np.floor(my * n_px), n_px - 1).astype(np.int64)
    row = max(rows, key=lambda r: sum(r.cells))
    m = (gx == row.tile_x) & (gy == row.tile_y)
    px = gpx[m] - row.tile_x * ts
    py = gpy[m] - row.tile_y * ts
    exp = np.bincount(py * ts + px, minlength=ts * ts).astype(float)
    assert (np.array(row.cells) == exp).all()


def test_rasterize_plan_shape(spark):
    d = synth.extract_geometry(synth.docs(spark, 100))
    plan = tiling.rasterize_count(d, 3, tile_size=16)._jdf.queryExecution().executedPlan().toString()
    # exactly one Arrow-vectorized stage (the dense-array scatter); never
    # row-at-a-time Python
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan  # partial+final pixel agg, skew-safe


def test_pyramid_up_sum_manual(spark):
    from geotrellis_server_spark.operators.tiling import pyramid_up

    # two children of parent (0,0): NW (0,0) and SE (1,1); 4x4 px
    def tile(tx, ty, base):
        return (3, tx, ty, 4, 4, [float(base + i) for i in range(16)])

    df = spark.createDataFrame(
        [tile(0, 0, 0), tile(1, 1, 100)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    rows = pyramid_up(df, agg="sum").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.zoom, r.tile_x, r.tile_y, r.width, r.height) == (2, 0, 0, 4, 4)
    a = np.array(r.cells).reshape(4, 4)
    # NW quadrant: 2x2 sums of the base tile
    assert a[0, 0] == 0 + 1 + 4 + 5
    assert a[1, 1] == 10 + 11 + 14 + 15
    # NE and SW children missing -> fill 0
    assert a[0, 2] == 0.0 and a[2, 0] == 0.0
    # SE quadrant from the (1,1) child
    assert a[2, 2] == 100 + 101 + 104 + 105


def test_pyramid_up_mean_and_nan_fill(spark):
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, 0, 0, 2, 2, [1.0, 2.0, 3.0, 4.0])],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    r = pyramid_up(df, agg="mean", fill=float("nan")).collect()[0]
    a = np.array(r.cells, dtype=np.float64).reshape(2, 2)
    assert a[0, 0] == 2.5  # mean of 1..4
    assert np.isnan(a[0, 1]) and np.isnan(a[1, 0]) and np.isnan(a[1, 1])


def test_pyramid_up_equals_direct_rasterize(spark):
    """Rolling up the z4 count raster must equal rasterizing at z3
    directly — Pyramid.up's invariant for density layers."""
    from geotrellis_server_spark.operators.tiling import pyramid_up, rasterize_count
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 3000))
    up = pyramid_up(rasterize_count(d, 4, tile_size=8), agg="sum")
    direct = rasterize_count(d, 3, tile_size=8)
    a = {(r.tile_x, r.tile_y): tuple(r.cells) for r in up.collect()}
    b = {(r.tile_x, r.tile_y): tuple(r.cells) for r in direct.collect()}
    assert a == b


def test_pyramid_up_plan_shapes(spark):
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, 0, 0, 4, 4, [0.0] * 16)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    # Arrow-batched kernels, never row-at-a-time
    plan_a = pyramid_up(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan_a
    assert "BatchEvalPython" not in plan_a


def test_pyramid_up_arrow_equals_sql(spark):
    """The Arrow kernels must be bit-identical to the test-side SQL
    reference on all aggs, including missing quadrants, NaN fill, and negative tile
    coordinates (the FP accumulation order is the same by design)."""
    import random

    from geotrellis_server_spark.operators.tiling import pyramid_up

    rng = random.Random(7)
    rows = []
    for tx in range(-3, 3):
        for ty in range(-3, 3):
            if rng.random() < 0.35:
                continue  # leave holes -> missing quadrants
            rows.append((5, tx, ty, 8, 8,
                         [rng.uniform(-100, 100) for _ in range(64)]))
    df = spark.createDataFrame(
        rows,
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    for agg, fill in (("sum", 0.0), ("mean", float("nan")), ("max", 0.0)):
        assert _by_key(pyramid_up(df, agg=agg, fill=fill)) == \
            _by_key(pyramid_up_sql_reference(df, agg, fill)), agg


def test_pyramid_up_schema_is_written_out(spark):
    """The output schema is declared, not analysed from a second plan,
    and equals what the SQL form types: zoom as ``zoom - 1``, bigint
    keys, width/height as given, array<double> cells, all nullable."""
    from geotrellis_server_spark.operators.tiling import pyramid_up

    for src, want in (
        (TILE_DDL, TILE_DDL),
        (TILE_DDL.replace("zoom INT", "zoom BIGINT"),
         TILE_DDL.replace("zoom INT", "zoom BIGINT")),
        ("zoom SMALLINT, tile_x INT, tile_y INT, width BIGINT, height TINYINT,"
         " cells ARRAY<FLOAT>",
         "zoom INT, tile_x BIGINT, tile_y BIGINT, width BIGINT, height TINYINT,"
         " cells ARRAY<DOUBLE>"),
    ):
        df = spark.createDataFrame([], src)
        expected = spark.createDataFrame([], want).schema
        for agg in ("sum", "mean", "max"):
            assert pyramid_up(df, agg=agg).schema == expected, (src, agg)
            ref = pyramid_up_sql_reference(df, agg, 0.0).schema
            assert [f.dataType for f in ref] == [f.dataType for f in expected]


@st.composite
def tile_layers(draw):
    """(rows, zoom type, fill, partitions): one tile size per layer,
    random holes, negative keys, any IEEE double (NaN, ±inf, -0.0)."""
    w = draw(st.sampled_from([2, 4, 6]))
    h = draw(st.sampled_from([2, 4]))
    keys = draw(st.sets(st.tuples(st.integers(-4, 3), st.integers(-4, 3)),
                        min_size=1, max_size=10))
    zoom = draw(st.integers(1, 30))
    val = st.floats(width=64)
    rows = [(zoom, tx, ty, w, h, draw(st.lists(val, min_size=w * h, max_size=w * h)))
            for tx, ty in sorted(keys)]
    zoom_t = draw(st.sampled_from(["INT", "BIGINT"]))
    fill = draw(st.sampled_from([0.0, math.nan, -1.5]))
    return rows, zoom_t, fill, draw(st.integers(1, 5))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(layer=tile_layers())
def test_pyramid_up_property_equals_sql_reference(spark, arrow_batch, layer):
    """Every agg, at Arrow batches of 1, 7 and 4096 rows over a layer
    spread across up to 5 partitions (some empty), equals the SQL
    reference bit for bit, with the pre-existing output schema."""
    from geotrellis_server_spark.operators.tiling import pyramid_up

    rows, zoom_t, fill, parts = layer
    df = spark.createDataFrame(rows, TILE_DDL.replace("zoom INT", f"zoom {zoom_t}"))
    df = df.repartition(parts)

    def all_aggs(up):
        out = None
        for agg in ("sum", "mean", "max"):
            one = up(agg).withColumn("agg", F.lit(agg))
            out = one if out is None else out.unionByName(one)
        return {(r.agg, r.zoom, r.tile_x, r.tile_y):
                repr((r.width, r.height, tuple(r.cells))) for r in out.collect()}

    want = all_aggs(lambda agg: pyramid_up_sql_reference(df, agg, fill))
    for n in (1, 7, 4096):
        with arrow_batch(n):
            assert all_aggs(lambda agg: pyramid_up(df, agg=agg, fill=fill)) == want, n
    expected = spark.createDataFrame([], TILE_DDL.replace("zoom INT", f"zoom {zoom_t}")).schema
    assert pyramid_up(df, fill=fill).schema == expected


def test_pyramid_up_negative_tile_coords(spark):
    # custom-CRS layouts can key tiles at negative coordinates: children
    # (-2,-2) and (-1,-1) both belong to parent (-1,-1)
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, -2, -2, 2, 2, [1.0, 1.0, 1.0, 1.0]),
         (3, -1, -1, 2, 2, [2.0, 2.0, 2.0, 2.0])],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    rows = pyramid_up(df, agg="sum").collect()
    assert len(rows) == 1 and (rows[0].tile_x, rows[0].tile_y) == (-1, -1)
    a = np.array(rows[0].cells).reshape(2, 2)
    assert a[0, 0] == 4.0 and a[1, 1] == 8.0  # NW from (-2,-2), SE from (-1,-1)


def test_pyramid_up_rejects_odd_tile_size(spark):
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, 0, 0, 3, 3, [0.0] * 9)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    with pytest.raises(Exception, match="even tile size"):
        pyramid_up(df).collect()


def test_pyramid_up_rejects_unknown_impl(spark):
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, 0, 0, 2, 2, [0.0] * 4)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    )
    # one implementation: the former impl switch is gone from the signature
    for impl in ("sq1", "sql", "arrow"):
        with pytest.raises(TypeError, match="impl"):
            pyramid_up(df, impl=impl)


def test_pyramid_up_rejects_mixed_tile_sizes_in_a_batch(spark):
    # 4x4 and 2x8 hold the same number of cells: reshaping the batch by
    # row 0's size used to yield corrupt quadrants without an error
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, 0, 0, 4, 4, [1.0] * 16), (3, 1, 1, 2, 8, [2.0] * 16)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    ).coalesce(1)
    with pytest.raises(Exception, match="one tile size per batch"):
        pyramid_up(df).collect()


def test_pyramid_up_rejects_null_cells(spark):
    from geotrellis_server_spark.operators.tiling import pyramid_up

    df = spark.createDataFrame(
        [(3, 0, 0, 2, 2, [1.0] * 4), (3, 1, 1, 2, 2, None)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT, cells ARRAY<DOUBLE>",
    ).coalesce(1)
    with pytest.raises(Exception, match="NULL cells"):
        pyramid_up(df).collect()


def test_list_col_offsets_and_overflow():
    from geotrellis_server_spark.arrow_lists import list_col

    col = list_col(np.arange(6, dtype=np.float64).reshape(3, 2))
    assert col.offsets.to_pylist() == [0, 2, 4, 6]
    assert col.to_pylist() == [[0.0, 1.0], [2.0, 3.0], [4.0, 5.0]]
    # 2**16 rows x 2**15 values = 2**31: int32 offsets would wrap; a
    # zero-stride view keeps the test from allocating the values
    huge = np.broadcast_to(np.zeros(1), (2**16, 2**15))
    with pytest.raises(ValueError, match="int32 list offsets"):
        list_col(huge)


def test_list_col_keeps_dtype():
    from geotrellis_server_spark.arrow_lists import list_col

    ints = list_col(np.array([[1, 2**40], [3, -4]], dtype=np.int64))
    assert str(ints.type) == "list<item: int64>"
    assert ints.to_pylist() == [[1, 2**40], [3, -4]]
    nan = list_col(np.array([[float("nan")]]))
    assert str(nan.type) == "list<item: double>" and np.isnan(nan.to_pylist()[0][0])


def test_list_matrix_contract():
    import pyarrow as pa

    from geotrellis_server_spark.arrow_lists import list_matrix

    col = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float32())).slice(1)
    m = list_matrix(col, 2)
    assert m.dtype == np.float64 and m.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    with pytest.raises(ValueError, match="NULL vector in row 1"):
        list_matrix(pa.array([[1.0], None]), 1, "vector")
    with pytest.raises(ValueError, match="holds 1 values, expected 2"):
        list_matrix(pa.array([[1.0, 2.0], [1.0]]), 2)


def test_list_rows_uses_offsets_and_checks_lengths():
    import pyarrow as pa

    from geotrellis_server_spark.arrow_lists import list_rows

    col = pa.array([[1.0, 2.0], None, [3.0, float("nan")]]).slice(1)
    mask, offs, vals = list_rows(col, 2)
    assert mask.tolist() == [True, False]
    assert vals[offs[1]:offs[2]][0] == 3.0 and np.isnan(vals[offs[2] - 1])
    with pytest.raises(ValueError, match="holds 3 values, expected 2"):
        list_rows(pa.array([[1.0, 2.0], [1.0, 2.0, 3.0]]), 2)


def test_batch_tile_size_contract():
    import pyarrow as pa

    from geotrellis_server_spark.arrow_lists import batch_tile_size

    def batch(ws, hs):
        return pa.record_batch([pa.array(ws, pa.int32()), pa.array(hs, pa.int32())],
                               names=["width", "height"])

    assert batch_tile_size(batch([4, 4], [8, 8])) == (4, 8)
    with pytest.raises(ValueError, match="one tile size per batch"):
        batch_tile_size(batch([4, 2], [4, 8]))
    with pytest.raises(ValueError, match="even tile size"):
        batch_tile_size(batch([3, 3], [4, 4]))


def test_write_pyramid_levels_and_pruning(spark, tmp_path):
    from geotrellis_server_spark.operators.tiling import (
        pyramid_up,
        rasterize_count,
        read_pyramid_level,
        write_pyramid,
    )

    d = synth.extract_geometry(synth.docs(spark, 2000))
    path = str(tmp_path / "pyr")
    write_pyramid(d, path, max_zoom=3, tile_size=8)
    # every level present; z2 equals direct rollup of z3
    all_levels = spark.read.parquet(path)
    assert {r.zoom for r in all_levels.select("zoom").distinct().collect()} == {0, 1, 2, 3}
    z2_direct = {(r.tile_x, r.tile_y): tuple(r.cells)
                 for r in pyramid_up(rasterize_count(d, 3, tile_size=8)).collect()}
    z2_read = {(r.tile_x, r.tile_y): tuple(r.cells)
               for r in read_pyramid_level(spark, path, 2).collect()}
    assert z2_read == z2_direct
    # zoom filter reaches the scan as a partition filter
    plan = read_pyramid_level(spark, path, 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "zoom" in plan.split("PartitionFilters")[1][:120]
