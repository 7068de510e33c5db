"""Engine service surface (E1–E6) + resumable job (M9) end-to-end."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotrellis_server_spark.engine import Engine, Layer
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.operators import tiling
from geotrellis_server_spark.sources import synth
from geotrellis_server_spark.styles.png import decode_png


@pytest.fixture(scope="module")
def density_engine(spark):
    docs = synth.extract_geometry(synth.docs(spark, 3000))
    tiles = (
        tiling.rasterize_count(docs, 3, tile_size=16)
        .union(tiling.rasterize_count(docs, 2, tile_size=16))
        .withColumn("band", F.lit(0))
        .cache()
    )
    layers = {
        "density": Layer("density", tiles),
        "density2x": Layer("density2x", tiles, expression=M.var("density2x") * 2.0),
    }
    return Engine(spark, layers)


def test_get_tile_point_lookup(density_engine, spark):
    any_tile = density_engine.layers["density"].tiles.filter("zoom = 3").first()
    out = density_engine.get_tile("density", 3, any_tile.tile_x, any_tile.tile_y).collect()
    assert len(out) == 1
    assert out[0].cells == any_tile.cells


def test_get_tile_applies_expression(density_engine):
    t = density_engine.layers["density"].tiles.filter("zoom = 3").first()
    out = density_engine.get_tile("density2x", 3, t.tile_x, t.tile_y).collect()[0]
    a = np.array([0 if v is None else v for v in t.cells])
    b = np.array([0 if v is None else v for v in out.cells])
    assert (b == a * 2).all()


def test_get_extent_prunes_and_crops(density_engine):
    from geotrellis_server_spark.grids.layout import WEBMERCATOR_BOUND as B

    # a quarter-world window at zoom-3 resolution
    ext = (-B, 0.0, 0.0, B)
    cs = (2 * B) / (8 * 16)  # zoom 3, 16px tiles
    out = density_engine.get_extent("density", ext, cs)
    rows = out.collect()
    assert all(r.zoom == 3 for r in rows)
    assert all(r.tile_x <= 3 and r.tile_y <= 3 for r in rows)


def test_get_values_matches_rasterize(density_engine, spark):
    # sample the density layer at 3 doc locations → value >= 1 (the doc
    # itself landed in that pixel)
    docs = synth.extract_geometry(synth.docs(spark, 3000)).limit(3).collect()
    pts = [(r.lon, r.lat) for r in docs]
    out = density_engine.get_values("density", pts, zoom=3).collect()
    assert len(out) == 3
    assert all(r.value is not None and r.value >= 1.0 for r in out)


def test_describe(density_engine):
    d = {x["name"]: x for x in density_engine.describe()}
    assert set(d) == {"density", "density2x"}
    assert d["density"]["zooms"] == [2, 3]
    assert d["density2x"]["expression"]["symbol"] == "*"


def test_render_png_roundtrip(density_engine):
    t = density_engine.get_tile("density", 3, 0, 0)
    if not t.count():
        t = density_engine.layers["density"].tiles.filter("zoom = 3").limit(1)
    row = density_engine.render_png(t).collect()[0]
    img = decode_png(bytes(row.png))
    assert img.shape == (16, 16, 4)


def test_catalog_find(spark, density_engine):
    from geotrellis_server_spark.query import ast as Q

    cat = spark.createDataFrame(
        [("density", -180.0, -85.0, 180.0, 85.0, None, None, None)],
        "name STRING, xmin DOUBLE, ymin DOUBLE, xmax DOUBLE, ymax DOUBLE,"
        " times ARRAY<TIMESTAMP>, t_start TIMESTAMP, t_end TIMESTAMP",
    )
    eng = Engine(spark, density_engine.layers, catalog=cat)
    assert eng.find_layers(Q.intersects((0, 0, 1, 1))) == ["density"]
    assert eng.find_layers(Q.with_name("nope")) == []
    # the CQL2-text surface compiles to the same scan
    assert eng.find_layers_cql(
        "S_INTERSECTS(geom, BBOX(0, 0, 1, 1))") == ["density"]
    assert eng.find_layers_cql(
        "name = 'density' AND S_INTERSECTS(geom, BBOX(0, 0, 1, 1))"
    ) == ["density"]
    assert eng.find_layers_cql("name = 'nope'") == []


def test_resumable_job_crash_and_resume(spark, tmp_path):
    from geotrellis_server_spark.lineage import ResumableTilingJob

    docs_path = str(tmp_path / "docs.parquet")
    synth.docs(spark, 2000).write.parquet(docs_path)

    out = str(tmp_path / "out")
    job = ResumableTilingJob(spark, out, "j1", n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        job.run(docs_path, zoom=6, fail_after=2)
    m1 = job._load_manifest()
    assert len(m1["completed"]) == 2  # two buckets committed before crash

    m2 = job.run(docs_path, zoom=6)  # resume
    assert len(m2["completed"]) == 4
    # resumed result == fresh full run
    job2 = ResumableTilingJob(spark, str(tmp_path / "out2"), "j2", n_buckets=4)
    job2.run(docs_path, zoom=6)
    a = {(r.zone_id, r.tile_x, r.tile_y): r.n_docs for r in job.result().collect()}
    b = {(r.zone_id, r.tile_x, r.tile_y): r.n_docs for r in job2.result().collect()}
    assert a == b
    assert job.result().agg(F.sum("n_docs")).collect()[0][0] == 2000
    # metrics + lineage rows per bucket
    assert job.metrics_df().count() == 4
    lin = job.lineage_df().collect()
    assert len(lin) == 4 and all(r.input_path == docs_path for r in lin)


def test_request_cache_lru_ttl():
    from geotrellis_server_spark.cache import RequestCache

    t = [0.0]
    c = RequestCache(max_entries=2, ttl_seconds=10.0, clock=lambda: t[0])
    calls = []
    mk = lambda k: lambda: calls.append(k) or f"v{k}"
    assert c.get_or("a", mk("a")) == "va"
    assert c.get_or("a", mk("a")) == "va"  # hit, no recompute
    assert calls == ["a"] and c.hits == 1
    c.get_or("b", mk("b"))
    c.get_or("c", mk("c"))  # evicts "a" (LRU, cap 2)
    assert len(c) == 2
    c.get_or("a", mk("a"))
    assert calls == ["a", "b", "c", "a"]
    t[0] = 11.0  # TTL expiry → recompute
    c.get_or("a", mk("a"))
    assert calls[-1] == "a" and calls.count("a") == 3


def test_get_tile_png_cached(spark):
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    png1 = eng.get_tile_png("density", 2, 1, 1)
    assert png1 and png1[:8] == b"\x89PNG\r\n\x1a\n"
    misses = eng.request_cache.misses
    png2 = eng.get_tile_png("density", 2, 1, 1)
    assert png2 == png1
    assert eng.request_cache.misses == misses and eng.request_cache.hits >= 1


def test_request_cache_ttl_stamped_after_compute():
    # ADVICE r2: a slow fn() must not eat into the entry's TTL
    from geotrellis_server_spark.cache import RequestCache

    t = [0.0]
    c = RequestCache(max_entries=4, ttl_seconds=10.0, clock=lambda: t[0])

    def slow():
        t[0] += 9.0  # compute takes 9s of the 10s TTL
        return "v"

    assert c.get_or("k", slow) == "v"
    t[0] += 9.0  # 9s after compute finished -> still fresh
    assert c.get_or("k", lambda: "recomputed") == "v"


def test_tile_png_cache_invalidated_on_layer_swap(spark):
    import dataclasses

    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    a = eng.get_tile_png("density", 2, 1, 1)
    hits0 = eng.request_cache.hits
    assert eng.get_tile_png("density", 2, 1, 1) == a  # cached
    assert eng.request_cache.hits == hits0 + 1
    # swap the layer object (same tables) -> must recompute, not serve stale
    eng.set_layer("density", dataclasses.replace(eng.layers["density"]))
    misses0 = eng.request_cache.misses
    eng.get_tile_png("density", 2, 1, 1)
    assert eng.request_cache.misses == misses0 + 1


def test_get_tile_jpg(spark):
    import numpy as np

    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth
    from geotrellis_server_spark.styles.jpeg import decode_jpeg

    d = synth.extract_geometry(synth.docs(spark, 2000))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    jpg = eng.get_tile_jpg("density", 2, 1, 1)
    assert jpg and jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    arr = decode_jpeg(jpg)
    assert arr.shape == (8, 8, 3) and arr.dtype == np.uint8
    # memoized like the PNG path
    misses = eng.request_cache.misses
    assert eng.get_tile_jpg("density", 2, 1, 1) == jpg
    assert eng.request_cache.misses == misses
    # matches the PNG render composited over white
    from geotrellis_server_spark.styles.png import decode_png

    png_arr = decode_png(eng.get_tile_png("density", 2, 1, 1))
    a = png_arr[..., 3:4].astype(np.float64) / 255.0
    want = np.clip(np.round(png_arr[..., :3].astype(np.float64) * a
                            + 255.0 * (1 - a)), 0, 255)
    assert np.abs(arr.astype(np.float64) - want).max() < 35  # lossy bound


def test_describe_advertises_formats_and_crs(spark):
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources import synth

    d = synth.extract_geometry(synth.docs(spark, 300))
    tiles = tiling.rasterize_count(d, 2, tile_size=8).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    entry = eng.describe()[0]
    assert "image/jpeg" in entry["formats"] and "image/png" in entry["formats"]
    crs = entry["request_crs"]
    assert 4326 in crs and 3035 in crs and 5070 in crs and 54009 in crs


def test_legend_png_rendering(spark):
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling as _tiling
    from geotrellis_server_spark.sources import synth
    from geotrellis_server_spark.styles.png import decode_png

    docs = synth.extract_geometry(synth.docs(spark, 500))
    tiles = _tiling.rasterize_count(docs, 2, tile_size=8)
    poles = {0.0: (0, 0, 255, 255), 10.0: (255, 0, 0, 255)}
    eng = Engine(spark, {
        "plain": Layer("plain", tiles),
        "styled": Layer("styled", tiles, style={"poles": poles}),
    })
    assert eng.get_legend_png("plain") is None  # no fixed value scale
    png = eng.get_legend_png("styled", width=8, height=64)
    arr = decode_png(png)
    assert arr.shape == (64, 8, 4)
    # map-legend convention: max value (red pole) at the TOP
    assert tuple(arr[0, 0]) == (255, 0, 0, 255)
    assert tuple(arr[-1, 0]) == (0, 0, 255, 255)
    # midpoint interpolates between the poles
    mid = arr[32, 0].astype(int)
    assert 100 < mid[0] < 160 and 100 < mid[2] < 160
    # describe() advertises the LegendModel fields for styled layers only
    by_name = {e["name"]: e for e in eng.describe()}
    assert "legend" not in by_name["plain"]
    leg = by_name["styled"]["legend"]
    assert leg["format"] == "image/png" and leg["online_resource"].endswith(
        "styled.png")


@pytest.fixture(scope="module")
def render_engine(density_engine):
    tiles = density_engine.layers["density"].tiles.filter("zoom = 3")
    # NULL and NaN NoData cells (every third cell NULL, the next NaN)
    holes = tiles.withColumn("cells", F.expr(
        "transform(cells, (v, i) -> CASE i % 3 WHEN 0 THEN CAST(NULL AS DOUBLE)"
        " WHEN 1 THEN double('NaN') ELSE CAST(v AS DOUBLE) END)"))
    poles = {0.0: (0, 0, 255, 255), 4.0: (255, 0, 0, 255)}
    return Engine(density_engine.spark, {
        "plain": Layer("plain", tiles),
        "styled": Layer("styled", tiles, style={"poles": poles}),
        "holes": Layer("holes", holes, style={"poles": poles}),
    })


@pytest.mark.parametrize("name", ["plain", "styled", "holes"])
def test_get_tile_png_matches_bulk_render(render_engine, name):
    # the in-process render and the bulk pandas-UDF render share one
    # implementation, so the bytes must be identical
    eng = render_engine
    t = eng.layers[name].tiles.first()
    want = eng.render_png(eng.get_tile(name, 3, t.tile_x, t.tile_y),
                          eng.layers[name].style).collect()[0].png
    got = eng.get_tile_png(name, 3, t.tile_x, t.tile_y)
    assert got == bytes(want)
    if name == "holes":
        alpha = decode_png(got)[..., 3].ravel()
        assert (alpha[0::3] == 0).all() and (alpha[1::3] == 0).all()


def test_get_tile_png_missing_key_is_none(render_engine):
    # the layer holds zoom 3 only, so a valid zoom-4 key has no tile
    assert render_engine.get_tile_png("plain", 4, 5, 5) is None


def test_get_values_points_are_a_local_relation(density_engine):
    # the points must plan as a LocalTableScan under the broadcast, never
    # as a Python RDD (Scan ExistingRDD), which costs a Python-worker job
    # per request to build the broadcast side
    df = density_engine.get_values("density", [(0.0, 0.0), (10.0, 20.0)], zoom=3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    below = plan[plan.index("BroadcastExchange"):]
    assert "LocalTableScan" in below


def test_get_values_empty_points(density_engine):
    df = density_engine.get_values("density", [], zoom=3)
    assert df.columns == ["point_id", "lon", "lat", "value"]
    assert df.collect() == []
