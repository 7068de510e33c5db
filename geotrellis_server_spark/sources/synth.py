"""Deterministic synthetic sources (FIXTURES.md F1–F7).

The primary input table has the exact shape fixed by BASELINE.json
``input_hint``::

    docs(doc_id: string,
         spans:  array<struct<kind:string, text:string,
                              media_ref:string, offset:int>>)

It is generated entirely with Spark SQL expressions over ``spark.range``
(no driver-side materialization → generation itself scales to bench sizes
and, on a real cluster, to arbitrarily many partitions). Exactly one
``kind='geo'`` span per doc carries ``POINT(lon lat)`` WKT whose
coordinates are exact multiples of 1/1024° (see sqlgen) so the engine's
span-extraction path and the DuckDB oracle's arithmetic path agree
bit-for-bit.

Reference parity: each doc plays the role of a queryable spatial record /
STAC item (SURVEY.md §1.2); the zone grid plays the role of layer extents
queried via Intersects/Contains/Covers
(core/.../store/query/RasterSourceRepository.scala:58-60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqlgen

_LOREM = "'alpha','beta','gamma','delta','epsilon','zeta','eta','theta'"


def spans_sql(id_col: str = "id") -> str:
    """SQL expression building the per-doc spans array (1–8 spans, one geo,
    offsets = array position, strictly increasing)."""
    lon = sqlgen.lon_sql(id_col)
    lat = sqlgen.lat_sql(id_col)
    wkt = f"concat('POINT(', format_string('%.10f', {lon}), ' ', format_string('%.10f', {lat}), ')')"
    # (id * 2654435761 + i*97) mod 2^32, decomposed so no intermediate
    # exceeds ~3e14: id*2654435761 overflows BIGINT for id >= ~3.5e9 (Spark
    # non-ANSI wraps silently, DuckDB raises — parity break at 10^12-doc
    # scale). Identity: (id*K) mod 2^32 = ((id mod 2^16)*K
    # + ((id div 2^16) mod 2^16) * ((K*2^16) mod 2^32)) mod 2^32;
    # (2654435761*65536) mod 2^32 = 2041643008. floor-div via DOUBLE is
    # exact for id < 2^53. Same expression mirrored in
    # __spark_entry__._span_invariant_oracle.
    hash32 = (
        f"(((({id_col}) % 65536) * 2654435761"
        f" + (CAST(floor(CAST(({id_col}) AS DOUBLE) / 65536.0) AS BIGINT) % 65536) * 2041643008"
        f" + i * 97) % 4294967296)"
    )
    media_ref = f"concat('ref://', lpad(lower(hex({hash32})), 8, '0'))"
    lorem = f"elt(CAST((({id_col}) * 7 + i) % 8 AS INT) + 1, {_LOREM})"
    return f"""
    transform(sequence(0, ({id_col}) % 7), i ->
      CASE
        WHEN i = ({id_col}) % ((({id_col}) % 7) + 1) THEN
          named_struct('kind', 'geo', 'text', {wkt}, 'media_ref', '', 'offset', CAST(i AS INT))
        WHEN (({id_col}) + i) % 3 = 0 THEN
          named_struct('kind', 'media', 'text', '', 'media_ref', {media_ref}, 'offset', CAST(i AS INT))
        ELSE
          named_struct('kind', 'text', 'text', {lorem}, 'media_ref', '', 'offset', CAST(i AS INT))
      END)
    """


def docs(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """The interleaved text+media document table (input_hint shape)."""
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.select(
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        F.expr(spans_sql("id")).alias("spans"),
    )


def extract_geometry(docs_df: DataFrame, id_expr: str = "doc_id") -> DataFrame:
    """The real engine path: pull the geo span out of the spans array and
    parse its WKT POINT — all JVM-side expressions (filter/substring/cast),
    no Python. Adds ``lon``, ``lat`` columns; preserves ``spans`` untouched
    (span-sequence invariant).

    Perf note: the parse must run ONCE per row, in ONE operator.
    Substring parsing beats regexp_extract ~1.6× (measured at 1M rows),
    and both coords come out of one generator,
    ``inline(array(named_struct(lon, lat)))``, which yields exactly one
    row per input row. A plain ``named_struct`` projection is not
    enough: when a join or predicate downstream references lon/lat,
    InferFiltersFromConstraints derives ``isnotnull(lon)`` /
    ``isnotnull(lat)`` and pushdown inlines the whole parse chain into a
    Filter over the scan, so every row was parsed twice (Filter +
    Project; ~1.5× on a 200k-doc PIP job, 4 cores). A filter on generator
    output stays above the Generate node, Generate runs inside
    whole-stage codegen, and tests/test_plans.py pins that the parse
    appears in exactly one operator.

    The geo span is located via array_position over the spans.kind
    field array rather than a filter() lambda: lambda functions defeat
    Parquet nested-schema pruning, so the filter form read every spans
    field (media_ref included) off disk; the field-extraction form
    prunes the scan to spans.kind + spans.text (ReadSchema-verified).
    Same first-geo-span semantics, NULL when absent."""
    pos = "array_position(spans.kind, 'geo')"
    geo = (f"CASE WHEN ({pos}) > 0 "
           f"THEN element_at(spans.text, CAST(({pos}) AS INT)) END")
    body = f"substring({geo}, 7, length({geo}) - 7)"
    lon = f"CAST(substring_index({body}, ' ', 1) AS DOUBLE)"
    lat = f"CAST(substring_index({body}, ' ', -1) AS DOUBLE)"
    return docs_df.select(
        *docs_df.columns, F.expr(f"inline(array(named_struct('lon', {lon}, 'lat', {lat})))"))


# ---------------------------------------------------------------------------
# F2: zone grid — broadcast side of the PIP join.
# Base layer: the 100 rectangles defined arithmetically in sqlgen (oracle-
# checkable). Extra layer: non-convex polygons for the generic ray-casting
# path (pytest brute-force oracle only).
# ---------------------------------------------------------------------------


def zone_grid(spark: SparkSession) -> DataFrame:
    """100 rectangular zones tiling [-180,180)×[-85,85). zone_id row-major
    from the south-west."""
    return spark.range(sqlgen.N_ZONE_COLS * sqlgen.N_ZONE_ROWS).select(
        F.col("id").alias("zone_id"),
        (F.lit(sqlgen.ZONE_LON0) + (F.col("id") % sqlgen.N_ZONE_COLS) * sqlgen.ZONE_LON_W).alias("xmin"),
        (F.lit(sqlgen.ZONE_LAT0) + (F.col("id") / sqlgen.N_ZONE_COLS).cast("int") * sqlgen.ZONE_LAT_H).alias(
            "ymin"
        ),
        (
            F.lit(sqlgen.ZONE_LON0) + ((F.col("id") % sqlgen.N_ZONE_COLS) + 1) * sqlgen.ZONE_LON_W
        ).alias("xmax"),
        (
            F.lit(sqlgen.ZONE_LAT0)
            + ((F.col("id") / sqlgen.N_ZONE_COLS).cast("int") + 1) * sqlgen.ZONE_LAT_H
        ).alias("ymax"),
    )


POLY_ZONES = [
    # (zone_id, [(x, y) ring, not closed]) — convex + concave shapes for the
    # generic point-in-polygon kernel (FIXTURES.md F2 "a few concave
    # polygons"). Coordinates are exact quarters to avoid edge ambiguity.
    (1000, [(-10.0, -10.0), (30.0, -10.0), (30.0, 30.0), (-10.0, 30.0)]),  # square
    (1001, [(-170.0, -80.0), (-120.0, -80.0), (-145.0, -30.0)]),  # triangle
    (1002, [(60.0, 10.0), (120.0, 10.0), (120.0, 70.0), (90.0, 40.0), (60.0, 70.0)]),  # concave "M"
    (1003, [(-60.0, 40.0), (0.0, 40.0), (0.0, 80.0), (-20.0, 80.0), (-20.0, 60.0), (-40.0, 60.0), (-40.0, 80.0), (-60.0, 80.0)]),  # U-shape
]


def poly_zone_df(spark: SparkSession) -> DataFrame:
    rows = []
    for zid, ring in POLY_ZONES:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        rows.append((zid, [list(p) for p in ring], min(xs), min(ys), max(xs), max(ys)))
    schema = T.StructType(
        [
            T.StructField("zone_id", T.LongType()),
            T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# F3: catalog fixture — exact QueryFSpec 4-source store
# (core/src/test/.../query/QueryFSpec.scala:226-245, EmptyRasterSource).
# ---------------------------------------------------------------------------


def catalog_fixture(spark: SparkSession) -> DataFrame:
    import datetime as dt

    utc = dt.timezone.utc
    rows = [
        ("first", 0.0, 0.0, 2.0, 2.0, dt.datetime(2020, 1, 1, 0, 0, 1, tzinfo=utc)),
        ("second", 1.0, 1.0, 4.0, 4.0, dt.datetime(2020, 2, 1, 0, 0, 1, tzinfo=utc)),
        ("third", 2.0, 2.0, 5.0, 5.0, dt.datetime(2020, 2, 1, 0, 0, 1, tzinfo=utc)),
        ("fourth", 6.0, 6.0, 10.0, 10.0, dt.datetime(2020, 3, 1, 0, 0, 1, tzinfo=utc)),
    ]
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
            T.StructField("time", T.TimestampType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# F4: the 8×8 golden raster (reference core/src/test/resources/8x8.tif:
# values 1..64 row-major, extent (0,0,8,8), cell 1×1) as a tile table row.
# ---------------------------------------------------------------------------

TILE_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType()),
        T.StructField("zoom", T.IntegerType()),
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("celltype", T.StringType()),
        T.StructField("nodata", T.DoubleType()),
        T.StructField("cells", T.ArrayType(T.DoubleType())),
    ]
)


def raster8(spark: SparkSession) -> DataFrame:
    cells = [float(v) for v in range(1, 65)]
    row = ("r8", 0, 0, 0, 0, 8, 8, 0.0, 0.0, 8.0, 8.0, "int32", float("nan"), cells)
    return spark.createDataFrame([row], TILE_SCHEMA)
