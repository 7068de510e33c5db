"""F1 docs table: shape, determinism, span-sequence invariant, and
bit-exact agreement between the span-extraction path and the arithmetic
derivation (the load-bearing property for all oracle comparisons)."""

import pyspark.sql.functions as F

from geotrellis_server_spark import sqlgen
from geotrellis_server_spark.sources import synth

N = 1500


def test_schema_matches_input_hint(spark):
    d = synth.docs(spark, 10)
    assert d.schema["doc_id"].dataType.simpleString() == "string"
    assert (
        d.schema["spans"].dataType.simpleString()
        == "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )


def test_exactly_one_geo_span_offsets_increasing(spark):
    d = synth.docs(spark, N)
    bad = d.filter(
        "size(filter(spans, s -> s.kind = 'geo')) != 1"
        " OR exists(transform(spans, (s, i) -> s.offset != i), x -> x)"
    ).count()
    assert bad == 0


def test_generation_deterministic(spark):
    a = synth.docs(spark, 200).collect()
    b = synth.docs(spark, 200, partitions=3).collect()
    key = lambda rows: sorted((r.doc_id, tuple(map(tuple, r.spans))) for r in rows)
    assert key(a) == key(b)


def test_span_sequence_invariant_through_pipeline(spark):
    """The per-row invariant from BASELINE.json input_hint: after geometry
    extraction + join + repartition, each doc's (kind, text, media_ref,
    order) sequence is byte-identical."""
    d = synth.docs(spark, N)
    before = {r.doc_id: tuple(map(tuple, r.spans)) for r in d.collect()}

    from geotrellis_server_spark.operators import spatial_join

    g = synth.extract_geometry(d)
    zones = synth.zone_grid(spark)
    out = spatial_join.pip_join_rect(g, zones).repartition(7, "zone_id")
    after = {r.doc_id: tuple(map(tuple, r.spans)) for r in out.collect()}
    assert set(after) == set(before)
    assert all(after[k] == before[k] for k in after)


def test_extraction_matches_arithmetic(spark):
    g = synth.extract_geometry(synth.docs(spark, N))
    chk = (
        g.withColumn("id", F.expr("CAST(substring(doc_id, 5) AS BIGINT)"))
        .withColumn("lon2", F.expr(sqlgen.lon_sql("id")))
        .withColumn("lat2", F.expr(sqlgen.lat_sql("id")))
    )
    assert chk.filter("lon != lon2 OR lat != lat2").count() == 0


def test_hot_clusters_present(spark):
    # ~25% of docs land in 3 clusters (skew fixture for salting tests)
    g = synth.extract_geometry(synth.docs(spark, 4000))
    near = g.filter("abs(lon - (-74)) <= 1.1 AND abs(lat - 40) <= 1.1").count()
    assert near > 200  # one cluster alone holds ~ n/12


def test_extract_geometry_keeps_every_row(spark):
    """No geo span, a NULL spans array and an empty one each still give
    exactly one row, with NULL lon/lat and spans passed through as is."""
    spans_t = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    d = spark.createDataFrame(
        [("no-geo", [("text", "alpha", "", 0), ("media", "", "ref://1", 1)]),
         ("null", None),
         ("empty", []),
         ("geo", [("text", "beta", "", 0), ("geo", "POINT(1.5 -2.25)", "", 1)])],
        f"doc_id string, spans {spans_t}",
    )
    g = synth.extract_geometry(d)
    assert g.columns == ["doc_id", "spans", "lon", "lat"]
    got = {r.doc_id: (r.spans, r.lon, r.lat) for r in g.collect()}
    assert g.count() == 4 and len(got) == 4
    want = {r.doc_id: r.spans for r in d.collect()}
    assert {k: v[0] for k, v in got.items()} == want
    for k in ("no-geo", "null", "empty"):
        assert got[k][1:] == (None, None), k
    assert got["geo"][1:] == (1.5, -2.25)
