"""Broadcast PIP join vs brute-force oracles (FIXTURES.md expected-output
strategy: engine output must match cross-join + PIP row-for-row)."""

import duckdb
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from geotrellis_server_spark import sqlgen
from geotrellis_server_spark.geometry.pip import points_in_ring
from geotrellis_server_spark.operators import spatial_join
from geotrellis_server_spark.sources import synth

N = 3000


def test_rect_join_matches_duckdb_oracle(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    zones = synth.zone_grid(spark)
    res = (
        spatial_join.pip_join_rect(d, zones)
        .select("doc_id", "zone_id")
        .toPandas()
        .sort_values(["doc_id", "zone_id"])
        .reset_index(drop=True)
    )
    o = duckdb.connect().execute(
        f"""SELECT printf('doc-%012d', id) doc_id,
               {sqlgen.zone_id_for_point_sql(sqlgen.lon_sql('id'), sqlgen.lat_sql('id'))} zone_id
        FROM range({N}) t(id) ORDER BY doc_id, zone_id"""
    ).df()
    assert len(res) == N  # half-open tiling: every doc in exactly one zone
    assert (res.doc_id.values == o.doc_id.values).all()
    assert (res.zone_id.values == o.zone_id.values).all()


def test_poly_join_matches_numpy_bruteforce(spark):
    d = synth.extract_geometry(synth.docs(spark, N))
    pdf = d.select("doc_id", "lon", "lat").toPandas()
    pz = synth.poly_zone_df(spark)
    got = set(
        map(
            tuple,
            spatial_join.pip_join_poly(d, pz).select("doc_id", "zone_id").toPandas().values.tolist(),
        )
    )
    exp = set()
    for zid, ring in synth.POLY_ZONES:
        m = points_in_ring(pdf.lon.values, pdf.lat.values, ring)
        exp.update((did, zid) for did in pdf.doc_id.values[m])
    assert got == exp
    assert len(exp) > 0


def test_pip_covers_boundary_semantics():
    # covers: boundary points count in (Contains≡covers quirk,
    # RasterSourceRepository.scala:60)
    import numpy as np

    ring = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    lon = np.array([0.0, 5.0, 10.0, 10.1, 5.0, 0.0])
    lat = np.array([0.0, 0.0, 10.0, 5.0, 5.0, 10.0])
    got = points_in_ring(lon, lat, ring)
    assert got.tolist() == [True, True, True, False, True, True]


def test_broadcast_join_in_plan(spark):
    d = synth.extract_geometry(synth.docs(spark, 100))
    zones = synth.zone_grid(spark)
    plan = spatial_join.pip_join_rect(d, zones)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zones_from_wkt_matches_native_zone_table(spark):
    # WKT-parsed zones must join identically to the native ring table
    from geotrellis_server_spark.geometry.wkt import (
        parse_wkt_point, parse_wkt_polygon, zones_from_wkt)
    from geotrellis_server_spark.operators import spatial_join
    from geotrellis_server_spark.sources import synth

    assert parse_wkt_point("POINT(-74.5 40.25)") == (-74.5, 40.25)
    # closed ring -> unclosed; holes rejected
    ring = parse_wkt_polygon("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert ring == [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    import pytest as _p
    with _p.raises(ValueError):
        parse_wkt_polygon("POLYGON ((0 0, 9 0, 9 9, 0 0), (1 1, 2 1, 2 2, 1 1))")

    wkt_rows = [
        (int(zid), "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring + [ring[0]]) + "))")
        for zid, ring in synth.POLY_ZONES
    ]
    wkt_zones = zones_from_wkt(spark, wkt_rows)
    d = synth.extract_geometry(synth.docs(spark, 3000))
    a = {(r.doc_id, r.zone_id)
         for r in spatial_join.pip_join_poly(d, wkt_zones).collect()}
    b = {(r.doc_id, r.zone_id)
         for r in spatial_join.pip_join_poly(d, synth.poly_zone_df(spark)).collect()}
    assert a == b and a


def test_multipolygon_components_validated(spark):
    import pytest as _p

    from geotrellis_server_spark.geometry.wkt import parse_wkt_multipolygon

    rings = parse_wkt_multipolygon(
        "MULTIPOLYGON(((0 0, 1 0, 1 1)), ((2 2, 3 2, 3 3, 2 2)))")
    assert len(rings) == 2 and rings[1] == [(2.0, 2.0), (3.0, 2.0), (3.0, 3.0)]
    # a holed component must raise, not vanish
    with _p.raises(ValueError):
        parse_wkt_multipolygon(
            "MULTIPOLYGON(((0 0, 1 0, 1 1)), "
            "((2 2, 3 2, 3 3), (2.2 2.2, 2.4 2.2, 2.4 2.4)))")


def test_od_flows_consecutive_pairs(spark):
    from geotrellis_server_spark.operators.trajectory import od_flows

    # user 1 walks cell A -> B -> A; user 2 sits in C twice
    rows = [
        (1, 1, "2024-01-01 00:00:00", 0.0, 0.0),
        (2, 1, "2024-01-01 00:01:00", 120.0, 40.0),
        (3, 1, "2024-01-01 00:02:00", 0.0, 0.0),
        (4, 2, "2024-01-01 00:00:30", -120.0, -40.0),
        (5, 2, "2024-01-01 00:00:45", -120.0, -40.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, lon double, lat double"
    ).withColumn("ts", __import__("pyspark").sql.functions.to_timestamp("ts"))
    got = {(r.src_cell, r.dst_cell): r.n_trips
           for r in od_flows(df, res=2).collect()}
    import numpy as np

    from geotrellis_server_spark.grids.layout import tile_key_np

    def key(lon, lat):
        tx, ty = tile_key_np(np.array([lon]), np.array([lat]), 2)
        return int(tx[0]) * 4 + int(ty[0])

    a = key(0.0, 0.0); b = key(120.0, 40.0); c = key(-120.0, -40.0)
    assert got == {(a, b): 1, (b, a): 1, (c, c): 1}


def test_trajectory_stats_known_distances(spark):
    import math

    from geotrellis_server_spark.operators.trajectory import (
        trajectory_stats)

    # user 1: two 1-degree hops along the equator (~111.19 km each);
    # user 2: a single meridian hop of 2 degrees (~222.39 km)
    rows = [
        (1, 1, "2024-01-01 00:00:00", 0.0, 0.0),
        (2, 1, "2024-01-01 00:01:00", 1.0, 0.0),
        (3, 1, "2024-01-01 00:02:00", 2.0, 0.0),
        (4, 2, "2024-01-01 00:00:00", 10.0, 10.0),
        (5, 2, "2024-01-01 00:01:00", 10.0, 12.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, lon double, "
              "lat double"
    ).withColumn("ts", __import__("pyspark").sql.functions
                 .to_timestamp("ts"))
    got = {r.user_id: (r.n_trips, r.total_dist_q, r.max_hop_q)
           for r in trajectory_stats(df).collect()}
    deg = 2 * math.pi * 6371000.0 / 360.0  # great-circle metres/degree
    assert got[1][0] == 2
    assert abs(got[1][1] / 1024.0 - 2 * deg) < 1.0
    assert abs(got[1][2] / 1024.0 - deg) < 1.0
    assert got[2][0] == 1
    assert abs(got[2][1] / 1024.0 - 2 * deg) < 1.0


def test_rasterize_hops_straight_lines(spark):
    """DDA line rasterization: axis-aligned and diagonal hops cover
    exactly the expected cells, one per major-axis step."""
    from datetime import datetime

    from geotrellis_server_spark.operators.trajectory import rasterize_hops

    # place events by known lon/lat: pixel = floor(merc * 256); pick
    # points whose pixels are easy: lon -180..180 → px 0..255
    rows = [
        # user 1: horizontal run px 10→14 at the equator row
        (1, 1, datetime(2024, 1, 1, 0, 0), -180.0 + 10.5 * 360 / 256, 0.001),
        (2, 1, datetime(2024, 1, 1, 0, 1), -180.0 + 14.5 * 360 / 256, 0.001),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, lon double, lat double")
    out = {(r.px, r.py): r.n_traversals
           for r in rasterize_hops(ev, zoom=2, tile_size=64).collect()}
    py = next(iter(out))[1]
    assert {p for p, _ in out} == {10, 11, 12, 13, 14}
    assert all(v == 1 for v in out.values())
    assert all(y == py for _, y in out)


def test_rasterize_hops_diagonal_and_revisit(spark):
    from datetime import datetime

    from geotrellis_server_spark.operators.trajectory import rasterize_hops

    def lonlat(px, py):
        import math
        lon = -180.0 + (px + 0.5) * 360 / 256
        # invert mercator for pixel row centre
        y = (py + 0.5) / 256
        lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y))))
        return lon, lat

    a = lonlat(20, 100)
    b = lonlat(24, 104)
    rows = [
        (1, 7, datetime(2024, 1, 1, 0, 0), a[0], a[1]),
        (2, 7, datetime(2024, 1, 1, 0, 1), b[0], b[1]),
        (3, 7, datetime(2024, 1, 1, 0, 2), a[0], a[1]),  # back again
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, lon double, lat double")
    out = {(r.px, r.py): r.n_traversals
           for r in rasterize_hops(ev, zoom=2, tile_size=64).collect()}
    # perfect diagonal: 5 cells, each traversed twice (there and back)
    assert out == {(20 + i, 100 + i): 2 for i in range(5)}


def test_simplify_trajectories_dp(spark):
    """Douglas-Peucker: collinear points drop, the real corner stays,
    endpoints always kept; matches a scalar reference."""
    from datetime import datetime, timedelta

    from geotrellis_server_spark.operators.trajectory import (
        simplify_trajectories)

    t0 = datetime(2024, 1, 1)
    # L-shaped track with small jitter on the legs: (0,0)..(10,0)..(10,8)
    pts = ([(i, 0) for i in range(0, 11, 2)]
           + [(10, j) for j in range(2, 9, 2)])
    rows = [(k, 1, t0 + timedelta(minutes=k), x, y)
            for k, (x, y) in enumerate(pts)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, sx long, sy long")
    out = sorted((r.x, r.y) for r in
                 simplify_trajectories(ev, tolerance=1).collect())
    # perfect L: only the two endpoints and the corner survive
    assert out == [(0, 0), (10, 0), (10, 8)]


def test_simplify_trajectories_tolerance_and_invariance(spark):
    from datetime import datetime, timedelta

    from geotrellis_server_spark.operators.trajectory import (
        simplify_trajectories)

    t0 = datetime(2024, 1, 1)
    # zigzag with amplitude 3 around y=0
    rows = [(k, 7, t0 + timedelta(minutes=k), k * 2,
             3 if k % 2 else -3) for k in range(9)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, sx long, sy long")
    keep_tight = simplify_trajectories(ev, tolerance=1).count()
    keep_loose = simplify_trajectories(ev, tolerance=10).count()
    assert keep_tight == 9      # every zig exceeds tolerance 1
    assert keep_loose == 2      # only the endpoints
    a = sorted(map(tuple, simplify_trajectories(ev, 1).collect()))
    b = sorted(map(tuple,
                   simplify_trajectories(ev.repartition(5), 1).collect()))
    assert a == b


EVENT_DDL = "event_id long, user_id long, ts timestamp, lon double, lat double"


def rasterize_hops_sql_reference(events, zoom: int, tile_size: int = 64):
    """Pure-SQL rasterize_hops — the reference the numpy DDA kernel must
    equal exactly: the same (ts, event_id)-ordered hops, one row-local
    ``explode(sequence(0, n))`` per hop, and the ``_dda_coord_sql``
    closed form the gate oracle also replays."""
    from pyspark.sql import Window

    from geotrellis_server_spark.operators.density import global_pixel_sql
    from geotrellis_server_spark.operators.trajectory import _dda_coord_sql

    gpx, gpy = global_pixel_sql("lon", "lat", zoom, tile_size)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = (
        events.select("user_id", "ts", "event_id",
                      F.expr(gpx).alias("x1"), F.expr(gpy).alias("y1"))
        .select("x1", "y1", F.lag("x1").over(w).alias("x0"),
                F.lag("y1").over(w).alias("y0"))
        .where("x0 IS NOT NULL")
        .withColumn("n", F.expr("greatest(abs(x1 - x0), abs(y1 - y0))"))
    )
    return (
        hops.select("x0", "y0", "x1", "y1", "n",
                    F.expr("explode(sequence(0, n))").alias("t"))
        .select(F.expr(_dda_coord_sql("x0", "x1", "n", "t")).alias("px"),
                F.expr(_dda_coord_sql("y0", "y1", "n", "t")).alias("py"))
        .groupBy("px", "py")
        .agg(F.count("*").alias("n_traversals"))
    )


def test_rasterize_hops_arrow_equals_sql(spark):
    """The Arrow DDA kernel and the test-side pure-SQL explode reference
    are bit-identical (same int64 floor arithmetic)."""
    from datetime import datetime, timedelta

    from geotrellis_server_spark.operators.trajectory import rasterize_hops

    t0 = datetime(2024, 1, 1)
    rows = [(k, k % 7, t0 + timedelta(minutes=k),
             float(-170 + (k * 37) % 340), float(-80 + (k * 53) % 160))
            for k in range(300)]
    ev = spark.createDataFrame(rows, EVENT_DDL)
    a = sorted(map(tuple, rasterize_hops(ev, 2, 64).collect()))
    b = sorted(map(tuple, rasterize_hops_sql_reference(ev, 2, 64).collect()))
    assert a == b and len(a) > 100
    # one implementation: the former impl switch is gone from the signature
    with pytest.raises(TypeError, match="impl"):
        rasterize_hops(ev, 2, 64, impl="sql")


@st.composite
def event_logs(draw):
    """(rows, zoom, tile_size, partitions): a few users' events with
    repeated timestamps (the event id breaks ties), repeated points
    (zero-length hops) and grids on both sides of the kernel's dense
    and int32 limits."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    lon = st.floats(-180.0, 180.0)
    lat = st.floats(-85.0, 85.0)
    pts = draw(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20), lon, lat),
                        min_size=1, max_size=30))
    rows = [(k, u, t0 + timedelta(minutes=m), x, y)
            for k, (u, m, x, y) in enumerate(pts)]
    zoom = draw(st.sampled_from([0, 1, 3, 7, 9]))
    return rows, zoom, draw(st.sampled_from([4, 64])), draw(st.integers(1, 5))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(log=event_logs())
def test_rasterize_hops_property_equals_sql_reference(spark, arrow_batch, log):
    """At Arrow batches of 1, 7 and 4096 rows, over inputs spread across
    up to 5 partitions (some empty), the kernel equals the reference."""
    from geotrellis_server_spark.operators.trajectory import rasterize_hops

    rows, zoom, tile_size, parts = log
    ev = spark.createDataFrame(rows, EVENT_DDL).repartition(parts)
    want = sorted(map(tuple, rasterize_hops_sql_reference(ev, zoom, tile_size).collect()))
    for n in (1, 7, 4096):
        with arrow_batch(n):
            got = sorted(map(tuple, rasterize_hops(ev, zoom, tile_size).collect()))
        assert got == want, n
