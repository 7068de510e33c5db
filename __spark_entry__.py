"""Driver contract for the spark-graft builder (PySpark target).

Engine: geotrellis_server_spark — a PySpark-native spatial-join + tiling
engine (SURVEY.md). The primary input is the interleaved text+media
document table fixed by BASELINE.json input_hint, synthesized
deterministically (sources/synth.py) and sized 10× the driver's
``documents`` table so it scales with sf. Every geometry is a pure
function of doc_id (exact 1/1024° doubles) so DuckDB oracles reproduce
the engine's span-extraction path bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotrellis_server_spark import sqlgen
from geotrellis_server_spark.grids import cells as C
from geotrellis_server_spark.operators import knn as knn_op
from geotrellis_server_spark.operators import spatial_join, tiling
from geotrellis_server_spark.sources import synth

DOCS_PER_DOCUMENT = 20  # synthetic docs = 20 × driver documents rows

# fixed kNN query points (deterministic; cluster / sparse / corner)
KNN_QUERIES = [(0, -74.0, 40.5), (1, 10.0, 10.0), (2, 179.0, -80.0), (3, 0.25, 0.25)]
KNN_K = 10

_LON = sqlgen.lon_sql("id")
_LAT = sqlgen.lat_sql("id")
# DuckDB range() rejects subquery params; driver doc_ids are contiguous
# 0..M-1, so synth ids 0..20M-1 come from a cross join.
_IDS_SQL = f"(SELECT d.doc_id * {DOCS_PER_DOCUMENT} + k.i AS id FROM documents d CROSS JOIN range({DOCS_PER_DOCUMENT}) k(i))"


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").count() * DOCS_PER_DOCUMENT


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth.extract_geometry(synth.docs(spark, _n_docs(spark, sf_dir)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs → geometry extraction → broadcast PIP
    join → zoom-8 tile assignment → per-(zone, tile) counts."""
    d = _docs(spark, "/root/testdata/sf0.001")
    zones = synth.zone_grid(spark)
    joined = spatial_join.pip_join_rect(d, zones)
    tiled = tiling.assign_tiles(joined, 8)
    return tiled.groupBy("zone_id", "tile_x", "tile_y").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# queries / oracles
# ---------------------------------------------------------------------------


def _q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("cell", C.cell_key_col("lon", "lat", 6))
        .groupBy("cell")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_tile_assign(zoom: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return tiling.tile_counts(_docs(spark, sf_dir), zoom)

    return q


def _q_tile_assign_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-tautologized tile math (VERDICT r1 'oracle non-independence'):
    the ENGINE's sqlgen fragments evaluate ~100 boundary-case points
    (world edges, latitude clamp, tile-edge lons, near ty-boundary lats)
    and the ORACLE is a constant VALUES table derived with an independent
    formulation (asinh(tan); lon/360+0.5) — no shared SQL fragment."""
    from geotrellis_server_spark.sources.tile_goldens import GOLDEN_Z8, ZOOM

    df = spark.createDataFrame(
        [(pid, lon, lat) for pid, lon, lat, _, _ in GOLDEN_Z8],
        "pid BIGINT, lon DOUBLE, lat DOUBLE",
    )
    return df.select(
        "pid",
        F.expr(sqlgen.tile_x_sql("lon", ZOOM)).alias("tile_x"),
        F.expr(sqlgen.tile_y_sql("lat", ZOOM)).alias("tile_y"),
    )


def _tile_assign_golden_oracle() -> str:
    from geotrellis_server_spark.sources.tile_goldens import GOLDEN_Z8

    vals = ", ".join(f"({pid}, {tx}, {ty})" for pid, _, _, tx, ty in GOLDEN_Z8)
    return f"""
    SELECT CAST(pid AS BIGINT) AS pid, CAST(tx AS BIGINT) AS tile_x,
           CAST(ty AS BIGINT) AS tile_y
    FROM (VALUES {vals}) t(pid, tx, ty)
    """


def _q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return spatial_join.pip_join_rect(d, synth.zone_grid(spark)).select("doc_id", "zone_id")


def _q_pip_zone_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        spatial_join.pip_join_rect(d, synth.zone_grid(spark))
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return knn_op.knn_join(d, KNN_QUERIES, k=KNN_K).select("query_id", "doc_id", "rank")


N_BULK_KNN_QUERIES = 1000
_BULK_QLON = "CAST((id * 7349) % 368640 AS DOUBLE) / 1024.0 - 180.0"
_BULK_QLAT = "CAST((id * 4391) % 174080 AS DOUBLE) / 1024.0 - 85.0"


def _q_knn_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based bulk kNN (no driver loop): 1,000 deterministic query
    points vs the docs table — exact top-10 each, verified against the
    brute-force cross-join oracle."""
    d = _docs(spark, sf_dir)
    q = spark.range(N_BULK_KNN_QUERIES).selectExpr(
        "id AS query_id", f"{_BULK_QLON} AS qlon", f"{_BULK_QLAT} AS qlat"
    )
    return knn_op.knn_join_bulk(d, q, k=KNN_K).select("query_id", "doc_id", "rank")


def _knn_bulk_oracle() -> str:
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH q AS (SELECT id AS query_id, {_BULK_QLON} AS qlon, {_BULK_QLAT} AS qlat
               FROM range({N_BULK_KNN_QUERIES}) t(id)),
    d AS (SELECT q.query_id, printf('doc-%012d', p.id) AS doc_id,
                 (p.lon - q.qlon) * (p.lon - q.qlon)
               + (p.lat - q.qlat) * (p.lat - q.qlat) AS dist_sq
          FROM ({pts}) p CROSS JOIN q)
    SELECT query_id, doc_id, rank FROM (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist_sq, doc_id) AS INT) AS rank
      FROM d) WHERE rank <= {KNN_K}
    """


def _q_resample_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 aggregating resample: z3 16px count tiles → 8px via 'average'
    (2×2 window mean), flattened per cell. Oracle recomputes the window
    mean over the dense pixel domain."""
    from geotrellis_server_spark.operators import resample as RS

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 3, tile_size=16)
    out = RS.resample_tiles(tiles, 8, 8, "average")
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(value AS DOUBLE) AS value")


def _resample_avg_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 3, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px, COALESCE(p.cnt, 0) AS v
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px)
    SELECT tx AS tile_x, ty AS tile_y,
           CAST((py // 2) * 8 + (px // 2) AS INT) AS idx,
           CAST(sum(v) AS DOUBLE) / 4.0 AS value
    FROM gval GROUP BY tx, ty, py // 2, px // 2
    """


def _q_span_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = synth.docs(spark, _n_docs(spark, sf_dir))
    return (
        d.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(F.count("*").alias("n"))
    )


def _q_pixel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterization per-pixel counts at z=4 (the groupBy feeding
    rasterize_count's dense tile assembly)."""
    d = _docs(spark, sf_dir)
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 4, 64)
    return (
        d.select(
            F.expr(tx).alias("tile_x"),
            F.expr(ty).alias("tile_y"),
            (F.expr(py) * 64 + F.expr(px)).alias("pixel"),
        )
        .groupBy("tile_x", "tile_y", "pixel")
        .agg(F.count("*").alias("cnt"))
    )


def _q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering keys (sources/zorder.py) of the z8
    tile assignment — the engine's ZORDER-BY layout key (GeoTrellis
    Z-curve KeyIndex analog): docs per z-key, pure bit arithmetic,
    engine-portable verbatim."""
    from geotrellis_server_spark.sources.zorder import zorder_key_expr

    d = _docs(spark, sf_dir)
    tx = sqlgen.tile_x_sql("lon", 8)
    ty = sqlgen.tile_y_sql("lat", 8)
    return (d.select(F.expr(tx).alias("tx"), F.expr(ty).alias("ty"))
            .select(F.expr(zorder_key_expr("tx", "ty")).alias("zkey"))
            .groupBy("zkey").agg(F.count("*").alias("n_docs")))


def _q_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering keys (sources/hilbert.py) of the z8
    tile assignment — the seam-free KeyIndex twin of geo_zorder_keys_z8
    (GeoTrellis HilbertKeyIndex analog). Engine path is the vectorized
    numpy rotate-and-accumulate UDF; the oracle re-derives every key
    through 8 unrolled pure-BIGINT SQL rounds — two independent
    formulations of the same state machine."""
    from geotrellis_server_spark.sources.hilbert import hilbert_key_udf

    d = _docs(spark, sf_dir)
    tx = sqlgen.tile_x_sql("lon", 8)
    ty = sqlgen.tile_y_sql("lat", 8)
    k = hilbert_key_udf(8)
    return (d.select(F.expr(tx).alias("tx"), F.expr(ty).alias("ty"))
            .select(k("tx", "ty").alias("hkey"))
            .groupBy("hkey").agg(F.count("*").alias("n_docs")))


def _hilbert_keys_oracle() -> str:
    from geotrellis_server_spark.sources.hilbert import hilbert_unrolled_sql

    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    src = (f"SELECT {sqlgen.tile_x_sql('lon', 8)} AS x,"
           f" {sqlgen.tile_y_sql('lat', 8)} AS y FROM ({pts}) p")
    return (f"SELECT hkey, count(*) AS n_docs FROM ("
            f"{hilbert_unrolled_sql(8, src)}) hk GROUP BY 1")


def _q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I / LISA spatial autocorrelation
    (operators/zonal.py:local_moran) over the z2 rasterized doc-count
    layer: per-pixel (N·x−S)·(N·Σnbr−n·S) in exact BIGINTs through two
    gated focal-fsum passes (values + in-domain neighbor counts)."""
    from geotrellis_server_spark.operators.zonal import local_moran

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=8)
    return local_moran(tiles)


def _local_moran_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 8)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(8) i(i) CROSS JOIN range(8) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px,
             d.ty * 8 + d.py AS gy, d.tx * 8 + d.px AS gx,
             CAST(COALESCE(p.cnt, 0) AS BIGINT) AS v
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    nbr AS (
      SELECT c.tx, c.ty, c.py, c.px, c.v,
             sum(n.v) AS nb_sum, count(*) AS nb_cnt
      FROM gval c
      JOIN gval n ON n.gx BETWEEN c.gx - 1 AND c.gx + 1
                 AND n.gy BETWEEN c.gy - 1 AND c.gy + 1
                 AND NOT (n.gx = c.gx AND n.gy = c.gy)
      GROUP BY 1, 2, 3, 4, 5),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_pix,
                  CAST(sum(v) AS BIGINT) AS s_sum FROM gval)
    SELECT tx AS tile_x, ty AS tile_y, CAST(py * 8 + px AS INT) AS idx,
           nbr.v AS v, CAST(nb_cnt AS BIGINT) AS nb_cnt,
           (n_pix * nbr.v - s_sum)
             * (n_pix * CAST(nb_sum AS BIGINT) - nb_cnt * s_sum) AS moran_q
    FROM nbr, st"""


def _q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule filter (operators/text.py:gopher_rules — Rae
    et al. 2021 App. A1.1): per-doc integer rule counts + keep verdict,
    every flag decided by BIGINT cross-multiplication so the table is
    engine-exact. min_words=8 on the gate corpus (driver docs are short
    synthetic lines; the published 50 applies at web scale)."""
    from geotrellis_server_spark.operators import text

    d = text.gopher_rules(_read_documents(spark, sf_dir), min_words=8)
    flags = [c for c in d.columns if c.startswith("ok_")] + ["keep"]
    return d.select(
        "doc_id", "n_words", "n_word_chars", "n_symbols", "n_alpha_words",
        "n_stop_hits",
        *[F.col(c).cast("int").alias(c) for c in flags])


def _gopher_oracle(min_words: int = 8, max_words: int = 100_000) -> str:
    from geotrellis_server_spark.operators.text import GOPHER_STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    words = ("list_filter(string_split(translate(text, chr(10), ' '), ' '), "
             "w -> w <> '')")
    lines = "string_split(text, chr(10))"
    rules = {
        "ok_word_count": f"n_words >= {min_words} AND n_words <= {max_words}",
        "ok_word_len": "3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words",
        "ok_symbols": "10 * n_symbols <= n_words",
        "ok_bullets": "10 * n_bullet_lines <= 9 * n_lines",
        "ok_ellipsis": "10 * n_ellipsis_lines <= 3 * n_lines",
        "ok_alpha": "5 * n_alpha_words >= 4 * n_words",
        "ok_stopwords": "n_stop_hits >= 2",
    }
    flag_cols = ",\n                   ".join(
        f"CAST({e} AS INT) AS {k}" for k, e in rules.items())
    keep = " AND ".join(f"({e})" for e in rules.values())
    return f"""
    WITH c AS (
        SELECT doc_id,
               CAST(len({words}) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform({words}, w -> len(w))), 0)
                    AS BIGINT) AS n_word_chars,
               CAST((len(text) - len(replace(text, '#', '')))
                    + (len(text) - len(replace(text, '...', ''))) // 3
                    AS BIGINT) AS n_symbols,
               CAST(len({lines}) AS BIGINT) AS n_lines,
               CAST(len(list_filter({lines},
                    l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
                    AS BIGINT) AS n_bullet_lines,
               CAST(len(list_filter({lines}, l -> l LIKE '%...'))
                    AS BIGINT) AS n_ellipsis_lines,
               CAST(len(list_filter({words},
                    w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
                    AS n_alpha_words,
               CAST(len(list_intersect(list_distinct({words}),
                    [{stop_arr}])) AS BIGINT) AS n_stop_hits
        FROM documents)
    SELECT doc_id, n_words, n_word_chars, n_symbols, n_alpha_words,
           n_stop_hits,
           {flag_cols},
           CAST({keep} AS INT) AS keep
    FROM c"""


def _q_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell keys (grids/geohash.py) at precision 6 — the public
    textual SFC geocode (Niemeyer), encoded entirely in portable BIGINT
    bit arithmetic + substr: docs per geohash cell. The prefix IS the
    parent cell, so this key range-partitions by cell prefix exactly
    like the engine's quadtree keys (north rule)."""
    from geotrellis_server_spark.grids.geohash import geohash_expr

    d = _docs(spark, sf_dir)
    return (d.select(F.expr(geohash_expr("lon", "lat", 6)).alias("geohash"))
            .groupBy("geohash").agg(F.count("*").alias("n_docs")))


def _q_minmax_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 min/max fold (operators/histogram.py:minmax — the color-ramp
    break driver) over the DENSE z4 rasterized density layer: min is 0
    whenever any touched tile has an uncovered pixel, the dense-tile
    semantics the independent oracle reproduces arithmetically."""
    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, zoom=4, tile_size=64) \
        .withColumn("band", F.lit(1))
    from geotrellis_server_spark.operators import histogram as hg

    return hg.minmax(tiles)


# --- training-data ops over the driver's documents/embeddings tables -----


def _read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import dedup

    return dedup.exact_dedup(_read_documents(spark, sf_dir), id_col="doc_id")


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import dedup

    return dedup.minhash_dedup_pairs(
        _read_documents(spark, sf_dir), k=8, bands=4, rows_per_band=2, threshold=0.5
    ).select("a", "b")  # jaccard value excluded: double hash-compare fragility


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import dedup

    return dedup.simhash_dup_classes(_read_documents(spark, sf_dir), n_bits=16, id_col="doc_id")


def _q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components (min-label + pointer jumping)
    over the MinHash-LSH near-dup pairs — (doc id, cluster id = min id of
    the component). Oracle: recursive-CTE transitive min over the same
    edge set."""
    from geotrellis_server_spark.operators import dedup

    pairs = dedup.minhash_dedup_pairs(
        _read_documents(spark, sf_dir), k=8, bands=4, rows_per_band=2, threshold=0.5
    ).select("a", "b")
    return dedup.connected_components(pairs)


def _cluster_assign_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs),
    reach(id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst
    )
    SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
    """


def _q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import dedup

    return dedup.simhash_hamming_pairs(
        _read_documents(spark, sf_dir), n_bits=16, max_hamming=3, id_col="doc_id"
    ).selectExpr("a", "b", "CAST(hamming AS INT) AS hamming")


def _simhash_hamming_oracle(n_bits: int = 16, max_hamming: int = 3, n_bands: int = 4) -> str:
    hexes = "('8','9','a','b','c','d','e','f')"
    votes = ", ".join(
        f"sum(CASE WHEN substr(md5(tok), {j + 1}, 1) IN {hexes} THEN 1 ELSE -1 END) AS v{j}"
        for j in range(n_bits)
    )
    bits = " || ".join(f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(n_bits))
    width = n_bits // n_bands
    hamming = " + ".join(
        f"CASE WHEN substr(sa, {j}, 1) != substr(sb, {j}, 1) THEN 1 ELSE 0 END"
        for j in range(1, n_bits + 1)
    )
    return f"""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
    sig AS (SELECT doc_id, {bits} AS simhash FROM votes),
    bands AS (SELECT doc_id, simhash, CAST(t.b AS INT) AS band,
                     substr(simhash, CAST(t.b * {width} + 1 AS INT), {width}) AS bucket
              FROM sig CROSS JOIN range({n_bands}) t(b)),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                    x.simhash AS sa, y.simhash AS sb
             FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
             WHERE x.doc_id < y.doc_id)
    SELECT a, b, CAST({hamming} AS INT) AS hamming
    FROM cand WHERE ({hamming}) <= {max_hamming}
    """


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import text

    return text.text_stats(_read_documents(spark, sf_dir)).select(
        "doc_id", "n_chars", "n_tokens", "stopword_ratio"
    )


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import text

    return text.token_count(_read_documents(spark, sf_dir))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import text

    return text.lang_id(_read_documents(spark, sf_dir)).selectExpr(
        "doc_id", "lang_pred", "CAST(score AS INT) AS score"
    )


def _lang_id_oracle() -> str:
    from geotrellis_server_spark.operators.text import LANG_MARKERS

    cols = []
    for lang, markers in LANG_MARKERS.items():
        arr = ", ".join(f"'{m}'" for m in markers)
        cols.append(
            f"len(list_filter(string_split(text, ' '), t -> t IN ({arr}))) AS s_{lang}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = best THEN '{l}'" for l in langs
    ) + " END"
    return f"""
    WITH s AS (SELECT doc_id, {', '.join(cols)} FROM documents),
    b AS (SELECT *, {best} AS best FROM s)
    SELECT doc_id, {pred} AS lang_pred, CAST(best AS INT) AS score FROM b
    """


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import text

    return text.fingerprint(_read_documents(spark, sf_dir)).select("doc_id", "fingerprint")


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (size 50, overlap 10) — the training-corpus
    context-window preparation step; row-local, zero shuffle."""
    from geotrellis_server_spark.operators import text

    return text.chunk_documents(
        _read_documents(spark, sf_dir), size=50, overlap=10
    ).select("doc_id", "chunk_id", "chunk", "n_chunk_tokens")


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/val/test split — a pure function of
    (id, salt), reproduced exactly by the oracle via the same md5-hex
    string thresholds."""
    from geotrellis_server_spark.operators import text

    return text.split_assign(
        _read_documents(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing: deterministic per-stratum sampling keyed by the
    language-ID prediction (keep all 'en', 25% of 'und', 50% otherwise) —
    a pure function of (id, salt, stratum), so the oracle reproduces the
    kept rows exactly."""
    from geotrellis_server_spark.operators import text

    d = _read_documents(spark, sf_dir)
    lang = text.lang_id(d).select("doc_id", "lang_pred")
    return text.stratified_sample(
        d.join(lang, "doc_id"), {"en": 1.0, "und": 0.25}, "lang_pred",
        default_rate=0.5,
    ).select("doc_id", "lang_pred")


def _stratified_sample_oracle() -> str:
    return f"""
    WITH l AS ({_lang_id_oracle()}),
    h AS (SELECT doc_id, lang_pred,
                 substr(md5(CAST(doc_id AS VARCHAR) || '#sample-v1'), 1, 4) AS hh
          FROM l)
    SELECT doc_id, lang_pred FROM h
    WHERE (lang_pred = 'en')
       OR (lang_pred = 'und' AND hh < '4000')
       OR (lang_pred NOT IN ('en', 'und') AND hh < '8000')
    """


def _q_pretrain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data curation pipeline — the composition a
    100-TB corpus actually runs: exact-dedup survivors → quality filter
    (text_stats score ≥ 0.3) → language ID → deterministic split
    assignment → per-(split, lang) doc counts + token budget. Every stage
    is one of the engine's own operators; the oracle re-derives the whole
    pipeline in SQL."""
    from geotrellis_server_spark.operators import dedup, text

    d = _read_documents(spark, sf_dir)
    stats = text.text_stats(d).select("doc_id", "quality_score", "n_tokens")
    lang = text.lang_id(d).select("doc_id", "lang_pred")
    surv = dedup.exact_dedup(d).select(F.col("survivor_id").alias("doc_id"))
    splits = text.split_assign(d)
    kept = (
        d.select("doc_id")
        .join(surv, "doc_id")
        .join(stats, "doc_id")
        .filter("quality_score >= 0.3")
        .join(lang, "doc_id")
        .join(splits, "doc_id")
    )
    return kept.groupBy("split", "lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def _pretrain_curation_oracle() -> str:
    from geotrellis_server_spark.operators.text import STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    # mirrors text_stats' expression tree exactly (same IEEE operation
    # order) so threshold comparisons agree bit-for-bit
    q = f"""
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
           CASE WHEN len(string_split(text, ' ')) < 3 THEN 0.0 ELSE
             least(1.0, len(string_split(text, ' ')) / 64.0) * 0.5
             + least(1.0, (CAST(len(list_filter(string_split(text, ' '),
                 t -> t IN ({stop_arr}))) AS DOUBLE)
                 / len(string_split(text, ' '))) * 4.0) * 0.3
             + (1.0 - least(1.0, (CAST(length(text)
                 - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                 / length(text)) * 10.0)) * 0.2
           END AS quality_score
    FROM documents
    """
    return f"""
    WITH q AS ({q}),
    l AS ({_lang_id_oracle()}),
    surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    sp AS (SELECT doc_id,
                  CASE WHEN h < 'cccd' THEN 'train'
                       WHEN h < 'e666' THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT doc_id,
                        substr(md5(CAST(doc_id AS VARCHAR) || '#split-v1'), 1, 4) AS h
                 FROM documents))
    SELECT sp.split, l.lang_pred, count(*) AS n_docs,
           CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
    FROM surv
    JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN sp USING (doc_id)
    WHERE q.quality_score >= 0.3
    GROUP BY 1, 2
    """


_PII_INJECT_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com or ', "
    "CAST(100 + doc_id % 900 AS STRING), '-', CAST(10 + doc_id % 90 AS STRING), "
    "'-', CAST(1000 + doc_id % 9000 AS STRING), ' at ', "
    "CAST(doc_id % 256 AS STRING), '.0.', CAST(doc_id % 100 AS STRING), '.1')"
)


def _q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministically INJECTED PII
    (the raw synthetic corpus contains none — the injection makes the
    redaction paths actually fire; the oracle injects identically)."""
    from geotrellis_server_spark.operators import text

    d = _read_documents(spark, sf_dir).select(
        "doc_id", F.expr(_PII_INJECT_SPARK).alias("text")
    )
    return text.redact_pii(d)


def _redact_pii_oracle() -> str:
    from geotrellis_server_spark.operators.text import PII_PATTERNS

    inject = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or ' "
        "|| CAST(100 + doc_id % 900 AS VARCHAR) || '-' || CAST(10 + doc_id % 90 AS VARCHAR) "
        "|| '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' at ' "
        "|| CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || '.1'"
    )
    red = "t"
    counts = []
    for k, pat in PII_PATTERNS.items():
        counts.append(f"len(regexp_extract_all(t, '{pat}')) AS n_{k}")
        red = f"regexp_replace({red}, '{pat}', '<{k.upper()}>', 'g')"
    return f"""
    WITH inj AS (SELECT doc_id, {inject} AS t FROM documents)
    SELECT doc_id, {red} AS redacted, {', '.join(counts)} FROM inj
    """


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import text

    return text.repetition_stats(_read_documents(spark, sf_dir))


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    return similarity.cosine_topk(emb, qvec, 20).select("vec_id", "rank")


def _q_tile_assign_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM-33N NATIVE pyramid keying (CrsLayoutScheme — the non-
    WebMercator tile-matrix-set surface, reference
    GeotrellisTileMatrix.scala:37-49): lon/lat → Karney-series UTM →
    floor keys over the custom layout. Oracle = constant VALUES derived
    with the independent Snyder N/T/C/A/M series
    (scripts/gen_utm_goldens.py)."""
    from geotrellis_server_spark.grids.layout import CrsLayoutScheme, Extent
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources.utm_goldens import (
        BASE_EXTENT, EPSG, GOLDEN_UTM33, ZOOM)

    lay = CrsLayoutScheme(EPSG, Extent(*BASE_EXTENT), 256).layout(ZOOM)
    df = spark.createDataFrame(
        [(pid, lon, lat) for pid, lon, lat, _, _ in GOLDEN_UTM33],
        "pid BIGINT, lon DOUBLE, lat DOUBLE",
    )
    pts = tiling.project_to_epsg(df, EPSG)
    return tiling.assign_tiles_layout(pts, lay).select("pid", "tile_x", "tile_y")


def _tile_assign_utm_oracle() -> str:
    from geotrellis_server_spark.sources.utm_goldens import GOLDEN_UTM33

    vals = ", ".join(f"({pid}, {tx}, {ty})" for pid, _, _, tx, ty in GOLDEN_UTM33)
    return f"""
    SELECT CAST(pid AS BIGINT) AS pid, CAST(tx AS BIGINT) AS tile_x,
           CAST(ty AS BIGINT) AS tile_y
    FROM (VALUES {vals}) AS g(pid, tx, ty)
    """


def _q_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN exactness contract: probing EVERY cell (nprobe = n_centroids)
    must degrade to the exact scan, so the oracle is plain exact top-k.
    Exercises ivf_train (hash-ordered deterministic sample), ivf_assign
    (Arrow matmul cells) and the TakeOrderedAndProject top-k."""
    from geotrellis_server_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 7").first().embedding]
    cent = similarity.ivf_train(emb, n_centroids=8, seed=7)
    return similarity.ivf_ann_topk(emb, cent, qvec, 15, nprobe=8).select("vec_id", "rank")


def _q_ivfpq_full_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ COMPOSITE exactness contract (similarity.ivf_pq_topk, the
    full serving path: coarse-cell prune -> ADC scan -> exact rerank).
    With nprobe = n_centroids (no pruning) and a rerank pool covering
    every candidate, the two-stage pipeline must degrade to the exact
    cosine top-k — the same discipline as sim_ivf_full_probe, now over
    the composed operator rather than its parts."""
    from geotrellis_server_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 3").first()["embedding"]]
    cent = S.ivf_train(emb, n_centroids=8, seed=7)
    books = S.pq_train(emb, n_subspaces=8, n_codes=16, seed=11)
    return S.ivf_pq_topk(emb, cent, books, qvec, 12, nprobe=8,
                         rerank=1_000_000)


def _q_lsh_ann_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN contract: deterministic sin-valued hyperplanes
    (similarity._hyperplanes — no RNG state) mean the bucket membership is
    reproducible in ANSI SQL; the oracle recomputes the same sign pattern
    and in-bucket top-k in DuckDB."""
    from geotrellis_server_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").first().embedding]
    return similarity.lsh_ann_topk(
        emb, qvec, 10, n_planes=4, multiprobe=False
    ).select("vec_id", "rank")


def _lsh_bucket_oracle() -> str:
    from geotrellis_server_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 4)
    vals = ", ".join(
        f"({i}, [{', '.join(repr(v) for v in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH planes(pid, pv) AS (VALUES {vals}),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT string_agg(CASE WHEN list_dot_product(qv, pv) >= 0 THEN '1' ELSE '0' END,
                             '' ORDER BY pid) AS qbits
           FROM planes, q),
    bits AS (SELECT e.vec_id,
                    string_agg(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pv) >= 0
                               THEN '1' ELSE '0' END, '' ORDER BY pid) AS bs
             FROM embeddings e CROSS JOIN planes GROUP BY e.vec_id),
    s AS (SELECT b.vec_id,
                 list_dot_product(e.embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))) AS cosine
          FROM bits b
          JOIN embeddings e ON e.vec_id = b.vec_id, q, qb
          WHERE b.bs = qb.qbits)
    SELECT vec_id, rank FROM (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
      FROM s) WHERE rank <= 10
    """


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram MinHash-LSH near-dup pairs (the n-gram variant of
    the word-token pipeline) — same signature/band/verify skeleton, oracle
    reuses _minhash_oracle with the shingle tokenizer."""
    from geotrellis_server_spark.operators import dedup

    return dedup.ngram_jaccard_pairs(
        _read_documents(spark, sf_dir), n=3, threshold=0.5, k=8, bands=4,
        rows_per_band=2,
    ).select("a", "b")


def _q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via full-sign-pattern buckets +
    exact verify; deterministic sin-valued hyperplanes make the bucket
    membership reproducible in SQL."""
    from geotrellis_server_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.2, n_planes=10
    ).select("a", "b")


def _near_dup_oracle(threshold: float = 0.2, n_planes: int = 10) -> str:
    from geotrellis_server_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes)
    vals = ", ".join(
        f"({i}, [{', '.join(repr(v) for v in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH planes(pid, pv) AS (VALUES {vals}),
    bits AS (SELECT e.vec_id,
                    string_agg(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pv) >= 0
                               THEN '1' ELSE '0' END, '' ORDER BY pid) AS bs
             FROM embeddings e CROSS JOIN planes GROUP BY e.vec_id),
    cand AS (SELECT x.vec_id AS a, y.vec_id AS b
             FROM bits x JOIN bits y ON x.bs = y.bs AND x.vec_id < y.vec_id)
    SELECT c.a, c.b
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.a
    JOIN embeddings eb ON eb.vec_id = c.b
    WHERE list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
          / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
             * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))
          >= {threshold}
    """


def _q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row span-sequence signature AFTER join + repartition — the
    input_hint invariant, checked value-for-value by the oracle which
    reconstructs the signature arithmetically."""
    d = _docs(spark, sf_dir)
    joined = spatial_join.pip_join_rect(d, synth.zone_grid(spark)).repartition(16, "zone_id")
    sig = (
        "concat_ws('|', transform(spans, s -> concat(s.kind, ':', s.text, ':', "
        "s.media_ref, ':', CAST(s.offset AS STRING))))"
    )
    return joined.select("doc_id", F.expr(sig).alias("span_sig"))


# --- mosaic / temporal / histogram / zoom ops ------------------------------


def _q_pip_poly_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic ray-cast PIP kernel vs an independent half-plane oracle
    (convex zones 1000 square + 1001 triangle)."""
    d = _docs(spark, sf_dir)
    pz = synth.poly_zone_df(spark).filter("zone_id IN (1000, 1001)")
    return spatial_join.pip_join_poly(d, pz).select("doc_id", "zone_id")


def _mosaic_sources(spark: SparkSession) -> DataFrame:
    base = spark.range(25).selectExpr(
        "CAST(0 AS INT) AS zoom",
        "id % 5 AS tile_x",
        "CAST((id - id % 5) / 5 AS BIGINT) AS tile_y",
        "CAST(0 AS INT) AS band",
        "CAST(4 AS INT) AS width",
        "CAST(4 AS INT) AS height",
        "id",
    )
    a = base.selectExpr(
        "zoom", "tile_x", "tile_y", "band", "width", "height",
        "CAST(0 AS INT) AS src_rank",
        "transform(sequence(0, 15), i -> CASE WHEN (id * 16 + i) % 5 = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(id + i AS DOUBLE) END) AS cells",
    )
    b = base.selectExpr(
        "zoom", "tile_x", "tile_y", "band", "width", "height",
        "CAST(1 AS INT) AS src_rank",
        "transform(sequence(0, 15), i -> CASE WHEN (id * 16 + i) % 7 = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE CAST(100 + id - i AS DOUBLE) END) AS cells",
    )
    return a.unionByName(b)


def _q_mosaic_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import mosaic

    merged = mosaic.mosaic_merge(_mosaic_sources(spark))
    return merged.selectExpr("tile_x", "tile_y", "posexplode(cells) AS (idx, value)")


def _q_between_half_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from geotrellis_server_spark.query import ast as Qa
    from geotrellis_server_spark.query.compile import raster_source_predicate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = Qa.between(
        dt.datetime(2024, 1, 10, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 20, tzinfo=dt.timezone.utc),
        field_name="ts",
    )
    return ev.filter(raster_source_predicate(q)).select("event_id")


def _q_between_ogc_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from geotrellis_server_spark.query import ast as Qa
    from geotrellis_server_spark.query.compile import ogc_layer_predicate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # one "layer" per (user, day): interval = that day's event span
    intervals = ev.groupBy(
        "user_id", F.date_trunc("DAY", "ts").alias("day")
    ).agg(
        F.lit(None).cast("array<timestamp>").alias("times"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
    )
    q = Qa.between(
        dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 11, 12, tzinfo=dt.timezone.utc),
    )
    return intervals.filter(ogc_layer_predicate(q)).select("user_id", "day")


def _q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geotrellis_server_spark.operators import histogram as H

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return H.column_histogram(li, "l_extendedprice", n_bins=16)


def _q_zoom_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview/zoom selection rule as a pure expression (R5/O3): coarsest
    zoom whose 256-px cell size <= requested."""
    world = 2 * 20037508.342789244
    return spark.range(1, 60).selectExpr(
        "id AS req_id",
        f"{world} / (100.0 + CAST(id AS DOUBLE) * 37.0) AS req_cell_size",
        f"greatest(0, CAST(ceil(log2({world} / (({world} / (100.0 + CAST(id AS DOUBLE) * 37.0)) * 256.0))) AS INT)) AS zoom",
    )


def _q_focal_fsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal fsum(radius=1) over the z2 rasterized doc-count pyramid,
    flattened to (tile_x, tile_y, idx, value). Exercises the halo join +
    fused kernel; the oracle recomputes the neighborhood sum over global
    pixels, counting a neighbor only if its tile exists (NaN-halo
    semantics of absent tiles)."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=8)
    out = eval_expr(M.focal("fsum", M.var("d"), radius=1), {"d": tiles})
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(coalesce(value, 0.0) AS DOUBLE) AS value")


def _focal_fsum_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 8)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    -- dense global pixel domain of the existing tiles
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(8) i(i) CROSS JOIN range(8) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px,
             d.ty * 8 + d.py AS gy, d.tx * 8 + d.px AS gx,
             COALESCE(p.cnt, 0) AS v
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    nbr AS (
      SELECT c.tx, c.ty, c.py, c.px, sum(n.v) AS fsum
      FROM gval c
      JOIN gval n ON n.gx BETWEEN c.gx - 1 AND c.gx + 1
                 AND n.gy BETWEEN c.gy - 1 AND c.gy + 1
      GROUP BY 1, 2, 3, 4)
    SELECT tx AS tile_x, ty AS tile_y, CAST(py * 8 + px AS INT) AS idx,
           CAST(fsum AS DOUBLE) AS value
    FROM nbr
    """


# Convex CCW quadrilateral (lon/lat) for mask-by-geometry; vertices chosen
# off the pixel-center lattice so no center sits within ~1e-3 deg of an
# edge (engine ray-cast and oracle half-planes agree far from boundaries).
MASK_RING = [(-60.3, -20.7), (45.9, -33.1), (70.4, 38.6), (-85.2, 55.9)]


def _q_mask_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAML mask-by-geometry: rasterize the doc-count pyramid at z3 and
    mask it by a convex polygon — cells outside → NoData (NULL). The
    engine rasterizes the ring with the generic ray-cast kernel
    (geometry/rasterize.py); the oracle classifies pixel centers with
    independent half-plane inequalities."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 3, tile_size=16)
    out = eval_expr(M.mask(M.var("d"), M.geom(MASK_RING)), {"d": tiles})
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr(
        "tile_x", "tile_y", "idx",
        # NaN (NoData) normalizes to NULL for the oracle compare
        "CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DOUBLE) AS value",
    )


def _mask_polygon_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 3, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    npx = (1 << 3) * 16  # 128 global pixels per axis
    # half-plane inequalities from MASK_RING (CCW ⇒ inside = all cross ≥ 0)
    planes = []
    n = len(MASK_RING)
    for i in range(n):
        x1, y1 = MASK_RING[i]
        x2, y2 = MASK_RING[(i + 1) % n]
        planes.append(
            f"(({x2 - x1!r}) * (clat - ({y1!r})) - (clon - ({x1!r})) * ({y2 - y1!r}) >= 0)"
        )
    inside = " AND ".join(planes)
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px, COALESCE(p.cnt, 0) AS v,
             (CAST(d.tx * 16 + d.px AS DOUBLE) + 0.5) / {npx} * 360.0 - 180.0 AS clon,
             degrees(2.0 * atan(exp(pi() * (1.0 - 2.0 *
               ((CAST(d.ty * 16 + d.py AS DOUBLE) + 0.5) / {npx})))) - pi() / 2.0) AS clat
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px)
    SELECT tx AS tile_x, ty AS tile_y, CAST(py * 16 + px AS INT) AS idx,
           CASE WHEN {inside} THEN CAST(v AS DOUBLE) ELSE NULL END AS value
    FROM gval
    """


def _q_focal_fsum_over_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-var focal: fsum(a + b, radius=1) where a = doc-count raster of
    all docs and b = doc-count raster of docs with id % 3 = 0, both at z2.
    Exercises per-var halo pad + tile-key join (Vars.varsWithBuffer,
    LayerTms.scala:66-74). A neighbor pixel contributes iff its tile
    exists in BOTH inputs (NaN halo of either side poisons the sum —
    nansum then skips it); output keys = key intersection."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    d = _docs(spark, sf_dir)
    d3 = d.filter("CAST(substring(doc_id, 5) AS BIGINT) % 3 = 0")
    a = tiling.rasterize_count(d, 2, tile_size=8)
    b = tiling.rasterize_count(d3, 2, tile_size=8)
    out = eval_expr(M.focal("fsum", M.var("a") + M.var("b"), radius=1), {"a": a, "b": b})
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(coalesce(value, 0.0) AS DOUBLE) AS value")


def _focal_fsum_over_sum_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 8)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pa AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    pb AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) WHERE id % 3 = 0 GROUP BY 1, 2, 3, 4),
    -- tiles present in BOTH rasters (join + per-var NaN-halo semantics)
    tiles AS (SELECT tx, ty FROM (SELECT DISTINCT tx, ty FROM pa)
              INTERSECT SELECT tx, ty FROM (SELECT DISTINCT tx, ty FROM pb)),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(8) i(i) CROSS JOIN range(8) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px,
             d.ty * 8 + d.py AS gy, d.tx * 8 + d.px AS gx,
             COALESCE(a.cnt, 0) + COALESCE(b.cnt, 0) AS v
      FROM dom d
      LEFT JOIN pa a ON a.tx = d.tx AND a.ty = d.ty AND a.py = d.py AND a.px = d.px
      LEFT JOIN pb b ON b.tx = d.tx AND b.ty = d.ty AND b.py = d.py AND b.px = d.px),
    nbr AS (
      SELECT c.tx, c.ty, c.py, c.px, sum(n.v) AS fsum
      FROM gval c
      JOIN gval n ON n.gx BETWEEN c.gx - 1 AND c.gx + 1
                 AND n.gy BETWEEN c.gy - 1 AND c.gy + 1
      GROUP BY 1, 2, 3, 4)
    SELECT tx AS tile_x, ty AS tile_y, CAST(py * 8 + px AS INT) AS idx,
           CAST(fsum AS DOUBLE) AS value
    FROM nbr
    """


def _q_interval_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OgcTimeInterval → positions expansion (7-day step over each user's
    event-time hull), exploded to rows."""
    from geotrellis_server_spark.operators import histogram as H

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hull = ev.groupBy("user_id").agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    return (
        H.interval_to_positions(hull, step="P7D")  # ISO-8601 period path
        .select("user_id", F.explode("positions").alias("position"))
    )


def _q_interpret_as(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 celltype coercion: double tiles → int32 with user NoData 2.0
    mapped to NoData; flattened per cell. Truncation semantics (Spark
    double→bigint truncates toward zero; values are non-negative so the
    oracle uses floor)."""
    from geotrellis_server_spark.operators import resample as RS

    base = spark.range(25).selectExpr(
        "CAST(0 AS INT) AS zoom",
        "id % 5 AS tile_x",
        "CAST((id - id % 5) / 5 AS BIGINT) AS tile_y",
        "CAST(0 AS INT) AS band",
        "CAST(4 AS INT) AS width",
        "CAST(4 AS INT) AS height",
        "'float64' AS celltype",
        "transform(sequence(0, 15), i -> CAST(id + i AS DOUBLE) / 3.0) AS cells",
    )
    out = RS.interpret_as(base, "int32", nodata=2.0)
    return out.selectExpr("tile_x", "tile_y", "posexplode(cells) AS (idx, value)")


def _q_render_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render path (rows-only: binary output has no SQL oracle; PNG bytes
    are deterministic — fixed zlib level, no timestamps)."""
    from geotrellis_server_spark.engine import Engine, Layer

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 3, tile_size=16).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    styled = eng.render_png(tiles)
    return styled.select("tile_x", "tile_y", F.length("png").alias("png_bytes"))


def _q_render_geotiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 sink (rows-only: binary output, no SQL oracle): rasterize at
    z2, render the full window as ONE uncompressed EPSG:3857 GeoTIFF via
    the stdlib encoder, and return its deterministic envelope (byte size,
    dims, epsg) as a single row. Bytes are stable: fixed tag layout, no
    compression, no timestamps."""
    from geotrellis_server_spark.operators.stitch import render_geotiff
    from geotrellis_server_spark.sources.gtiff import decode_geotiff

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=8)
    data = render_geotiff(tiles, nodata=float("nan"))
    arr, ext, epsg = decode_geotiff(data)  # self-check: decodable output
    return spark.createDataFrame(
        [(len(data), int(arr.shape[1]), int(arr.shape[0]), int(epsg))],
        "tif_bytes BIGINT, width INT, height INT, epsg INT",
    )


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling (sketch.weighted_sample):
    50 documents drawn ∝ n_chars with md5-derived uniforms — the sample
    is a pure function of the corpus, so the oracle draws the SAME
    rows (ids compared as a set)."""
    from geotrellis_server_spark.operators.sketch import weighted_sample

    docs = _read_documents(spark, sf_dir)
    return weighted_sample(docs, "n_chars", ["doc_id"], 50).select("doc_id")


def _weighted_sample_oracle() -> str:
    hexmap = "'0123456789abcdef'"
    h = "md5(concat_ws('|', CAST(doc_id AS VARCHAR)))"
    frac = (
        f"list_sum([ (instr({hexmap}, {h}[i + 1:i + 1]) - 1) "
        f"* 16.0 ** (12 - i) for i in range(0, 13)])"
    )
    u = f"(({frac} + 1.0) / {float(16**13)!r})"
    # quantized-key rank (sketch.ES_KEY_SCALE): floor(ln(u)/w * 2^24)
    # with md5 tiebreak — immune to 1-ULP cross-engine ln() divergence
    return f"""
    SELECT doc_id FROM documents
    WHERE n_chars > 0
    ORDER BY floor(ln({u}) / CAST(n_chars AS DOUBLE) * 16777216.0) DESC,
             {h} ASC
    LIMIT 50
    """


def _q_zonal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone histogram of the z4 count raster (zonal.zonal_histogram_rect):
    floor bins of width 1 over the dense pixel domain — (zone, bin, count)
    exactly reproduced by the oracle's dense-grid SQL."""
    from geotrellis_server_spark.operators import zonal

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 4, tile_size=16)
    return zonal.zonal_histogram_rect(tiles, 4, 16, bin_width=1.0)


def _zonal_histogram_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 4, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    npx = (1 << 4) * 16
    clon = f"((CAST(d.tx * 16 + d.px AS DOUBLE) + 0.5) / {npx} * 360.0 - 180.0)"
    clat = (
        f"degrees(2.0 * atan(exp(pi() * (1.0 - 2.0 * "
        f"((CAST(d.ty * 16 + d.py AS DOUBLE) + 0.5) / {npx})))) - pi() / 2.0)"
    )
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)),
    gval AS (
      SELECT {sqlgen.zone_id_for_point_sql(clon, clat)} AS zone_id,
             CAST(floor(CAST(COALESCE(p.cnt, 0) AS DOUBLE) / 1.0) AS BIGINT) AS bin
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px)
    SELECT zone_id, bin, CAST(count(*) AS BIGINT) AS count
    FROM gval GROUP BY 1, 2
    """


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics of the z4 count raster over the rectangular zone
    grid (count/sum/min/max/mean per zone; sums are exact — integer-valued
    raster). Dense pixels (zeros included) so the oracle reproduces the
    full domain."""
    from geotrellis_server_spark.operators import zonal

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 4, tile_size=16)
    out = zonal.zonal_stats_rect(tiles, 4, 16)
    return out.selectExpr(
        "zone_id", "n_cells", "CAST(sum AS DOUBLE) AS sum",
        "CAST(min AS DOUBLE) AS min", "CAST(max AS DOUBLE) AS max",
        "CAST(sum AS DOUBLE) / CAST(n_cells AS DOUBLE) AS mean",
    )


def _zonal_stats_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 4, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    npx = (1 << 4) * 16
    clon = f"((CAST(d.tx * 16 + d.px AS DOUBLE) + 0.5) / {npx} * 360.0 - 180.0)"
    clat = (f"degrees(2.0 * atan(exp(pi() * (1.0 - 2.0 * "
            f"((CAST(d.ty * 16 + d.py AS DOUBLE) + 0.5) / {npx})))) - pi() / 2.0)")
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)),
    gval AS (
      SELECT {sqlgen.zone_id_for_point_sql(clon, clat)} AS zone_id,
             CAST(COALESCE(p.cnt, 0) AS DOUBLE) AS v
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px)
    SELECT zone_id, count(*) AS n_cells, CAST(sum(v) AS DOUBLE) AS sum,
           CAST(min(v) AS DOUBLE) AS min, CAST(max(v) AS DOUBLE) AS max,
           CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
    FROM gval GROUP BY 1
    """


def _q_salted_cell_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell salted collect aggregation (north-rule O11) must equal the
    plain per-cell count — the oracle is the unsalted GROUP BY."""
    from geotrellis_server_spark.grids import cells as C
    from geotrellis_server_spark.operators import skew

    d = _docs(spark, sf_dir).withColumn("cell", C.cell_key_col("lon", "lat", 4))
    agg = skew.salted_collect_agg(d, ["cell"], "doc_id", id_col="doc_id", n_salt=8)
    return agg.select("cell", F.size("values").alias("n_docs"))


def _q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v2 — the round-3 ops chained end-to-end:
    source blocklist (broadcast anti-join) → benchmark decontamination
    (word-5-gram overlap vs the eval split) → exact dedup survivors →
    deterministic split assignment → per-split doc/token budget. Every
    stage is individually oracle-exact; this query gates their
    COMPOSITION (join orders, column flows, filter interactions)."""
    from geotrellis_server_spark.operators import dedup
    from geotrellis_server_spark.operators import text as T_

    docs = _read_documents(spark, sf_dir)
    blocked = docs.select("source").distinct().where(
        "substring(md5(source), 1, 1) < '2'"
    )
    clean_src = T_.blocklist_filter(docs, blocked)
    eval_set = docs.where("doc_id % 10 = 0")
    train_pool = clean_src.where("doc_id % 10 != 0")
    contaminated = dedup.decontaminate(train_pool, eval_set, n=5, min_hits=2)
    clean = train_pool.join(contaminated, "doc_id", "left_anti")
    surv = dedup.exact_dedup(clean).select(
        F.col("survivor_id").alias("doc_id")
    )
    kept = clean.join(surv, "doc_id")
    splits = T_.split_assign(kept)
    toks = T_.token_count(kept).select("doc_id", "ws_tokens")
    return (
        kept.select("doc_id").join(splits, "doc_id").join(toks, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.sum("ws_tokens").alias("total_tokens"))
    )


def _curation_v2_oracle() -> str:
    n = 5
    grams = (
        f"[array_to_string(toks[i + 1:i + {n}], ' ') "
        f"for i in range(0, greatest(len(toks) - {n} + 1, 1))]"
    )
    return f"""
    WITH clean_src AS (
      SELECT * FROM documents WHERE substring(md5(source), 1, 1) >= '2'),
    pool AS (SELECT * FROM clean_src WHERE doc_id % 10 != 0),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct({grams})) AS ngram FROM tok),
    gn AS (SELECT doc_id, ngram FROM g WHERE len(string_split(ngram, ' ')) = {n}),
    ev AS (SELECT DISTINCT ngram FROM gn WHERE doc_id % 10 = 0),
    contaminated AS (
      SELECT gn.doc_id FROM gn JOIN ev USING (ngram)
      WHERE gn.doc_id IN (SELECT doc_id FROM pool)
      GROUP BY gn.doc_id HAVING count(*) >= 2),
    clean AS (
      SELECT * FROM pool
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    kept AS (
      SELECT * FROM clean
      WHERE doc_id IN (SELECT min(doc_id) FROM clean GROUP BY md5(text)))
    SELECT CASE WHEN h < 'cccd' THEN 'train'
                WHEN h < 'e666' THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM (SELECT *,
                 substr(md5(CAST(doc_id AS VARCHAR) || '#split-v1'), 1, 4) AS h
          FROM kept)
    GROUP BY 1
    """


def _q_reproject_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 reproject through the driver gate: the DISTRIBUTED
    project_to_epsg op (Arrow-batched Karney–Krüger kernel) against a
    constant golden table derived with the independent Snyder N/T/C/A/M
    series (scripts/gen_reproject_goldens.py), in integer centimetres —
    both formulations agree to <1 mm and every golden sits clear of the
    rounding boundary."""
    from geotrellis_server_spark.sources.reproject_goldens import EPSG, GOLDEN

    pts = spark.createDataFrame(
        [(pid, lon, lat) for pid, lon, lat, _, _ in GOLDEN],
        "pid INT, lon DOUBLE, lat DOUBLE",
    )
    out = tiling.project_to_epsg(pts, EPSG)
    return out.selectExpr(
        "pid",
        "CAST(round(x * 100.0) AS BIGINT) AS easting_cm",
        "CAST(round(y * 100.0) AS BIGINT) AS northing_cm",
    )


def _reproject_points_oracle() -> str:
    from geotrellis_server_spark.sources.reproject_goldens import GOLDEN

    vals = ", ".join(f"({p}, {e}, {n})" for p, _, _, e, n in GOLDEN)
    return f"""
    SELECT CAST(pid AS INT) AS pid, CAST(e AS BIGINT) AS easting_cm,
           CAST(n AS BIGINT) AS northing_cm
    FROM (VALUES {vals}) t(pid, e, n)
    """


def _q_reproject_proj4_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-CRS front-end through the driver gate: a Lambert
    conformal conic that exists NOWHERE in the registry is minted from
    a parameter dict (grids/proj4.crs_from_params — the reference
    accepts any proj4 CRS per request, WmsParams.scala:90-103), then
    points are projected by the DISTRIBUTED Arrow-batched kernel (the
    dynamic registry entry ships to executors via registry_snapshot).
    Golden: the independent isometric-latitude LCC formulation
    (scripts/gen_lcc_goldens.py), integer centimetres, boundary-clear."""
    from geotrellis_server_spark.grids import proj4
    from geotrellis_server_spark.sources.lcc_goldens import GOLDEN, PARAMS

    code = proj4.crs_from_params("lcc", PARAMS)
    pts = spark.createDataFrame(
        [(pid, lon, lat) for pid, lon, lat, _, _ in GOLDEN],
        "pid INT, lon DOUBLE, lat DOUBLE",
    )
    return tiling.project_to_epsg(pts, code).selectExpr(
        "pid",
        "CAST(round(x * 100.0) AS BIGINT) AS easting_cm",
        "CAST(round(y * 100.0) AS BIGINT) AS northing_cm",
    )


def _reproject_proj4_lcc_oracle() -> str:
    from geotrellis_server_spark.sources.lcc_goldens import GOLDEN

    vals = ", ".join(f"({p}, {e}, {n})" for p, _, _, e, n in GOLDEN)
    return f"""
    SELECT CAST(pid AS INT) AS pid, CAST(e AS BIGINT) AS easting_cm,
           CAST(n AS BIGINT) AS northing_cm
    FROM (VALUES {vals}) t(pid, e, n)
    """


def _bpe_golden_corpus() -> list[str]:
    """Fixed deterministic training corpus for the BPE golden (the
    hillshade-golden pattern: same input both sides, independent
    computations). An LCG draws words from a 48-word synthetic
    vocabulary with a Zipf-ish skew, so merge ranks have a rich,
    non-degenerate frequency structure."""
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    state = 1234567
    vocab = []
    for _ in range(48):
        word = []
        state = (state * 1103515245 + 12345) % (1 << 31)
        for _ in range(2 + state % 7):
            state = (state * 1103515245 + 12345) % (1 << 31)
            word.append(alphabet[state % 26])
        vocab.append("".join(word))
    sentences = []
    for _ in range(160):
        words = []
        for _ in range(9):
            state = (state * 1103515245 + 12345) % (1 << 31)
            # square the uniform for a skewed (Zipf-ish) vocab pick
            r = (state % 48) * (state // 65536 % 48) // 48
            words.append(vocab[r % 48])
        sentences.append(" ".join(words))
    return sentences


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): 24 merges
    learned via the driver loop over distributed pair counts from the
    fixed golden corpus; the oracle is the INDEPENDENT scalar
    implementation (bpe.reference_bpe — dict/loop, no Spark) on the
    same corpus, emitted as a VALUES golden including each winning
    pair's corpus frequency."""
    from geotrellis_server_spark.operators.bpe import learn_bpe_merges

    docs = spark.createDataFrame(
        [(s,) for s in _bpe_golden_corpus()], "text STRING"
    )
    merges = learn_bpe_merges(docs, n_merges=24, with_counts=True)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank INT, merge_left STRING, merge_right STRING, pair_freq BIGINT",
    )


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODING (bpe.bpe_encode — shuffle-free
    mapInPandas with a per-batch word cache): the golden corpus encoded
    with its own trained merge table; the oracle re-derives both table
    and tokenization with the independent scalar implementations."""
    from geotrellis_server_spark.operators.bpe import bpe_encode, learn_bpe_merges

    docs = spark.createDataFrame(
        [(str(i), s) for i, s in enumerate(_bpe_golden_corpus())],
        "doc_id STRING, text STRING",
    )
    merges = learn_bpe_merges(docs, n_merges=24)
    enc = bpe_encode(docs, merges)
    return enc.selectExpr(
        "CAST(doc_id AS INT) AS doc_id", "n_tokens",
        "concat_ws(' ', tokens) AS token_str",
    )


def _scalar_bpe_encode_word(word: str, ranks: dict, cache: dict) -> list:
    if word in cache:
        return cache[word]
    syms = list(word) + ["</w>"]
    while True:
        pairs = [(ranks[(syms[i], syms[i + 1])], i)
                 for i in range(len(syms) - 1)
                 if (syms[i], syms[i + 1]) in ranks]
        if not pairs:
            break
        _, i = min(pairs)
        syms[i:i + 2] = [syms[i] + syms[i + 1]]
    cache[word] = syms
    return syms


def _bpe_encode_oracle() -> str:
    from geotrellis_server_spark.operators.bpe import reference_bpe

    freqs: dict[str, int] = {}
    corpus = _bpe_golden_corpus()
    for s in corpus:
        for w in s.split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    ranks = {m: i for i, m in enumerate(reference_bpe(freqs, 24))}
    cache: dict = {}
    rows = []
    for i, s in enumerate(corpus):
        toks = [t for w in s.split(" ") if w
                for t in _scalar_bpe_encode_word(w, ranks, cache)]
        rows.append((i, len(toks), " ".join(toks)))
    vals = ", ".join(f"({i}, {n}, '{t}')" for i, n, t in rows)
    return f"""
    SELECT CAST(doc_id AS INT) AS doc_id, CAST(n AS INT) AS n_tokens,
           token_str
    FROM (VALUES {vals}) t(doc_id, n, token_str)
    """


def _bpe_oracle() -> str:
    from geotrellis_server_spark.operators.bpe import reference_bpe

    freqs: dict[str, int] = {}
    for s in _bpe_golden_corpus():
        for w in s.split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    rows = reference_bpe(freqs, 24, with_counts=True)
    vals = ", ".join(
        f"({i}, '{a}', '{b}', {n})" for i, (a, b, n) in enumerate(rows)
    )
    return f"""
    SELECT CAST(rank AS INT) AS rank, merge_left, merge_right,
           CAST(pair_freq AS BIGINT) AS pair_freq
    FROM (VALUES {vals}) t(rank, merge_left, merge_right, pair_freq)
    """


CMS_D, CMS_W = 4, 64


def _q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketch.py cms_build/cms_query):
    per-source document frequencies estimated from a 4×64 sketch — the
    md5-derived buckets make the sketch a pure function of the data, so
    the DuckDB oracle rebuilds it and the estimates match exactly."""
    from geotrellis_server_spark.operators.sketch import cms_build, cms_query

    docs = _read_documents(spark, sf_dir)
    cms = cms_build(docs, "source", depth=CMS_D, width=CMS_W)
    # fresh read: probing the sketch with a DataFrame from the same
    # lineage trips Spark's self-join attribute resolution in the
    # broadcast (key not found) — a separate relation sidesteps it
    vals = _read_documents(spark, sf_dir).select("source").distinct()
    return cms_query(cms, vals, "source", depth=CMS_D, width=CMS_W)


def _cms_counts_oracle() -> str:
    d, w = CMS_D, CMS_W
    hexmap = "'0123456789abcdef'"

    def bucket(expr: str, r: int) -> str:
        h = f"md5(concat(CAST({expr} AS VARCHAR), '#', '{r}'))"
        frac = (
            f"list_sum([ (instr({hexmap}, {h}[i + 1:i + 1]) - 1) "
            f"* 16.0 ** (12 - i) for i in range(0, 13)])"
        )
        return f"CAST({frac} AS BIGINT) % {w}"

    rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {bucket('source', r)} AS bucket, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2"
        for r in range(d)
    )
    probes = " UNION ALL ".join(
        f"SELECT source AS value, {r} AS row, {bucket('source', r)} AS bucket "
        f"FROM (SELECT DISTINCT source FROM documents)"
        for r in range(d)
    )
    return f"""
    WITH cms AS ({rows}), probe AS ({probes})
    SELECT value, CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS est_count
    FROM probe LEFT JOIN cms USING (row, bucket)
    GROUP BY value
    """


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/asof.range_join): events banded by value
    into half-open price bands via a broadcast non-equi join; per-band
    counts. Oracle: the same containment predicate as a plain SQL
    join."""
    from geotrellis_server_spark.operators.asof import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bands = spark.createDataFrame(
        [("b0", 0.0, 10.0), ("b1", 10.0, 50.0), ("b2", 50.0, 200.0),
         ("b3", 200.0, 1e9)],
        "band STRING, lo DOUBLE, hi DOUBLE",
    )
    return (
        range_join(ev.select("event_id", "value"), bands, "value")
        .groupBy("band")
        .agg(F.count("*").alias("n_events"))
    )


def _range_join_oracle() -> str:
    return """
    WITH bands(band, lo, hi) AS (VALUES
      ('b0', 0.0, 10.0), ('b1', 10.0, 50.0), ('b2', 50.0, 200.0),
      ('b3', 200.0, 1e9))
    SELECT band, CAST(count(*) AS BIGINT) AS n_events
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """


SESSION_GAP_US = 3_600_000_000  # 1 hour in microseconds


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/asof.py sessionize +
    session_stats): per-user sessions over the events stream with a
    1-hour gap; one row per session with count and duration."""
    from geotrellis_server_spark.operators.asof import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS t_us"
    )
    return session_stats(ev, ["user_id"], "t_us", SESSION_GAP_US)


def _sessionize_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS t_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts) ASC)
                  > {SESSION_GAP_US} THEN 1 ELSE 0 END AS boundary
      FROM events),
    s AS (
      SELECT user_id, t_us,
             sum(boundary) OVER (PARTITION BY user_id ORDER BY t_us ASC
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM t)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(t_us) - min(t_us) AS DOUBLE) AS duration_s
    FROM s GROUP BY user_id, session_id
    """


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py — union-sort-carry, single keyed
    window, NO join operator in the plan): every purchase event matched
    to the user's latest at-or-before view event. The oracle is DuckDB's
    NATIVE ``ASOF JOIN`` — an independent implementation of the
    semantics, not a mirrored formulation."""
    from geotrellis_server_spark.operators.asof import as_of_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where("event_type = 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    # dedupe to one view per (user, ts): equal-time ties would otherwise
    # be resolved differently by the engine (deterministic max) and
    # DuckDB's ASOF JOIN (unspecified) — structural, though this data
    # has no (user_id, ts) collisions
    right = (
        ev.where("event_type = 'view'")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = as_of_join(left, right, ["user_id"], "ts", ["view_event_id"])
    return out.selectExpr(
        "event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
        "view_event_id",
        "unix_micros(CAST(matched_time AS TIMESTAMP)) AS matched_us",
    )


def _asof_join_oracle() -> str:
    return """
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           r.event_id AS view_event_id, epoch_us(r.ts) AS matched_us
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') l
    ASOF LEFT JOIN
         (SELECT user_id, ts, max(event_id) AS event_id FROM events
          WHERE event_type = 'view' GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """


QSK_K, QSK_PROBS = 128, (0.25, 0.5, 0.9)


def _q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling quantile sketch (operators/sketch.py):
    bottom-k-by-md5 sample of events, nearest-rank quantiles of value.
    The oracle draws the SAME sample in DuckDB — every output is an
    actual data value picked by integer rank, hash-exact."""
    from geotrellis_server_spark.operators.sketch import quantile_sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return quantile_sketch(ev, "value", ["event_id"], k=QSK_K,
                           probs=list(QSK_PROBS))


def _quantile_sketch_oracle() -> str:
    cases = []
    for p in QSK_PROBS:
        cases.append(
            f"WHEN rk = greatest(CAST(ceil({p!r} * m) AS BIGINT), 1) "
            f"THEN CAST({p!r} AS DOUBLE)"
        )
    return f"""
    WITH sample AS (
      SELECT value AS v
      FROM events
      ORDER BY md5(concat_ws('|', CAST(event_id AS VARCHAR))) ASC
      LIMIT {QSK_K}),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v ASC) AS rk,
             count(*) OVER () AS m
      FROM sample)
    SELECT CASE {' '.join(cases)} END AS prob, v AS value
    FROM ranked
    WHERE CASE {' '.join(cases)} END IS NOT NULL
    """


KMV_K = 16


def _q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketch.py): per-source
    approximate distinct-token-count over documents — md5-hash k-minimum
    values, so the sketch is a pure function of the input set and the
    oracle reproduces the ESTIMATE bit-exactly (a sketch with an
    exactness gate). Some sources fall below k (exact path), some above
    (estimator path) — both exercised."""
    from geotrellis_server_spark.operators.sketch import kmv_estimate

    docs = _read_documents(spark, sf_dir)
    words = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    return kmv_estimate(words, "w", k=KMV_K, group_by=["source"])


def _kmv_sketch_oracle() -> str:
    k = KMV_K
    # digit-weighted hex13 sum — exact integers, any order identical
    hexmap = "'0123456789abcdef'"
    frac = (
        f"list_sum([ (instr({hexmap}, kth[i + 1:i + 1]) - 1) "
        f"* 16.0 ** (12 - i) for i in range(0, 13)])"
    )
    return f"""
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
    hashes AS (
      SELECT source, md5(w) AS h FROM words GROUP BY source, md5(w)),
    sk AS (
      SELECT source, list_sort(list(h))[1:{k}] AS sk FROM hashes GROUP BY source),
    kth_t AS (
      SELECT source, len(sk) AS n, sk[{k}] AS kth FROM sk)
    SELECT source, CAST(n AS INT) AS n_seen_hashes,
           CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                ELSE CAST({k} - 1 AS DOUBLE) / ({frac} / {float(16**13)!r}) END
           AS distinct_est
    FROM kth_t
    """


DECON_N, DECON_MIN_HITS = 5, 2


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.decontaminate): the 'eval set'
    is every doc with doc_id % 10 = 0; flag the other docs sharing >= 2
    distinct word 5-grams with it. The oracle regenerates n-grams with
    DuckDB list slicing (1-based inclusive — a different indexing
    convention from Spark's slice, so the formulations are independent)."""
    from geotrellis_server_spark.operators import dedup

    docs = _read_documents(spark, sf_dir)
    eval_set = docs.where("doc_id % 10 = 0")
    train = docs.where("doc_id % 10 != 0")
    return dedup.decontaminate(train, eval_set, n=DECON_N, min_hits=DECON_MIN_HITS)


def _decontaminate_oracle() -> str:
    n = DECON_N
    grams = (
        f"[array_to_string(toks[i + 1:i + {n}], ' ') "
        f"for i in range(0, greatest(len(toks) - {n} + 1, 1))]"
    )
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct({grams})) AS ngram FROM tok),
    gn AS (SELECT doc_id, ngram FROM g
           WHERE len(string_split(ngram, ' ')) = {n}),
    ev AS (SELECT DISTINCT ngram FROM gn WHERE doc_id % 10 = 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM gn JOIN ev USING (ngram)
    WHERE doc_id % 10 != 0
    GROUP BY doc_id
    HAVING count(*) >= {DECON_MIN_HITS}
    """


def _q_temporal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pixel temporal mean composite (mosaic.temporal_aggregate):
    docs split into 4 deterministic 'time' buckets by id%4, each
    rasterized at z2, stacked, folded element-wise JVM-side. A tile's
    mean divides by the number of buckets that HAVE the tile (absent
    bucket = absent observation, not zero) — the oracle mirrors that."""
    from functools import reduce as _reduce

    from geotrellis_server_spark.operators.mosaic import temporal_aggregate

    d = _docs(spark, sf_dir).withColumn(
        "idnum", F.expr("CAST(substring(doc_id, 5) AS BIGINT)")
    )
    stacks = [
        tiling.rasterize_count(d.where(f"idnum % 4 = {t}"), 2, tile_size=16)
        .withColumn("time", F.lit(t))
        for t in range(4)
    ]
    stacked = _reduce(lambda a, b: a.unionByName(b), stacks)
    out = temporal_aggregate(stacked, "mean")
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(value AS DOUBLE) AS value")


def _temporal_mean_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, id % 4 AS bkt,
             ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4, 5),
    tb AS (SELECT DISTINCT tx, ty, bkt FROM pix),
    nper AS (SELECT tx, ty, count(*) AS n FROM tb GROUP BY 1, 2),
    dom AS (
      SELECT n.tx, n.ty, n.n, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM nper n CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j))
    SELECT d.tx AS tile_x, d.ty AS tile_y, CAST(d.py * 16 + d.px AS INT) AS idx,
           CAST(COALESCE(sum(p.cnt), 0) AS DOUBLE) / CAST(d.n AS DOUBLE) AS value
    FROM dom d LEFT JOIN pix p
      ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px
    GROUP BY d.tx, d.ty, d.py, d.px, d.n
    """


def _q_resample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 bilinear: 2× upsample of the z2 count raster (16→32 px). All
    weights are exact quarters (fx, fy ∈ {0, .25, .75}) over integer
    counts, so every output value is exact in binary and the oracle —
    an independent 4-corner lerp over the dense grid in SQL — matches
    hash-exactly whatever the evaluation order."""
    from geotrellis_server_spark.operators.resample import resample_tiles

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=16)
    out = resample_tiles(tiles, 32, 32, "bilinear")
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(value AS DOUBLE) AS value")


def _resample_bilinear_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    # source position for output pixel o (of 32) over 16 source px:
    # pos = (o + 0.5) / 2 - 0.5 ; corner indices clipped like the engine
    def pos(o: str) -> str:
        return f"(CAST({o} AS DOUBLE) + 0.5) / 2.0 - 0.5"

    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px, CAST(COALESCE(p.cnt, 0) AS DOUBLE) AS v
      FROM (SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
            FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)) d
      LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS oy, CAST(j.j AS BIGINT) AS ox,
             greatest(least(floor({pos('i.i')}), 15), 0) AS y0,
             greatest(least({pos('i.i')} - greatest(least(floor({pos('i.i')}), 15), 0), 1.0), 0.0) AS fy,
             greatest(least(floor({pos('j.j')}), 15), 0) AS x0,
             greatest(least({pos('j.j')} - greatest(least(floor({pos('j.j')}), 15), 0), 1.0), 0.0) AS fx
      FROM tiles t CROSS JOIN range(32) i(i) CROSS JOIN range(32) j(j))
    SELECT d.tx AS tile_x, d.ty AS tile_y, CAST(d.oy * 32 + d.ox AS INT) AS idx,
           (tl.v * (1.0 - d.fx) + tr.v * d.fx) * (1.0 - d.fy)
           + (bl.v * (1.0 - d.fx) + br.v * d.fx) * d.fy AS value
    FROM dom d
    JOIN gval tl ON tl.tx = d.tx AND tl.ty = d.ty AND tl.py = d.y0 AND tl.px = d.x0
    JOIN gval tr ON tr.tx = d.tx AND tr.ty = d.ty AND tr.py = d.y0
                AND tr.px = least(d.x0 + 1, 15)
    JOIN gval bl ON bl.tx = d.tx AND bl.ty = d.ty AND bl.py = least(d.y0 + 1, 15)
                AND bl.px = d.x0
    JOIN gval br ON br.tx = d.tx AND br.ty = d.ty AND br.py = least(d.y0 + 1, 15)
                AND br.px = least(d.x0 + 1, 15)
    """


def _q_interp_colormap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 interpolated colormap: the REAL np.interp-based kernel
    (styles/colormap.py interpolated_colormap) applied per Arrow batch to
    probe values covering pole hits, segment interiors, and out-of-range
    clip-none extension; the oracle is the golden table generated by an
    independent scalar segment-lerp (scripts/gen_colormap_golden.py)."""
    import numpy as np
    import pandas as pd

    from geotrellis_server_spark.sources.colormap_golden import POLES, VALUES
    from geotrellis_server_spark.styles import colormap as cmap

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(VALUES)], "pid INT, value DOUBLE"
    )

    def mapper(batches):
        for pdf in batches:
            rgba = cmap.interpolated_colormap(
                pdf["value"].to_numpy(dtype=np.float64), POLES
            )
            yield pd.DataFrame({
                "pid": pdf["pid"],
                "r": rgba[:, 0].astype("int32"), "g": rgba[:, 1].astype("int32"),
                "b": rgba[:, 2].astype("int32"), "a": rgba[:, 3].astype("int32"),
            })

    return df.mapInPandas(mapper, "pid INT, r INT, g INT, b INT, a INT")


def _interp_colormap_oracle() -> str:
    from geotrellis_server_spark.sources.colormap_golden import GOLDEN

    vals = ", ".join(f"({p}, {r}, {g}, {b}, {a})" for p, _, r, g, b, a in GOLDEN)
    return f"""
    SELECT CAST(pid AS INT) AS pid, CAST(r AS INT) AS r, CAST(g AS INT) AS g,
           CAST(b AS INT) AS b, CAST(a AS INT) AS a
    FROM (VALUES {vals}) t(pid, r, g, b, a)
    """


def _q_ndvi_multivar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-var MAML alignment (J4): two rasters from disjoint doc
    subsets (even/odd ids) at z3, combined as (a-b)/(a+b) — the NDVI
    AST shape (TmsReificationBench.scala:39-41). The tile-key equi-join
    + fused local kernel is the engine path; the oracle computes the
    same ratio from dense per-pixel counts (exact ints → the float
    division is bit-identical)."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    d = _docs(spark, sf_dir).withColumn(
        "idnum", F.expr("CAST(substring(doc_id, 5) AS BIGINT)")
    )
    a = tiling.rasterize_count(d.where("idnum % 2 = 0"), 3, tile_size=16)
    b = tiling.rasterize_count(d.where("idnum % 2 = 1"), 3, tile_size=16)
    e = (M.var("a") - M.var("b")) / (M.var("a") + M.var("b"))
    out = eval_expr(e, {"a": a, "b": b})
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr(
        "tile_x", "tile_y", "idx",
        "CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DOUBLE) AS value",
    )


def _ndvi_multivar_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 3, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px,
             count(*) FILTER (WHERE id % 2 = 0) AS ca,
             count(*) FILTER (WHERE id % 2 = 1) AS cb
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    ta AS (SELECT DISTINCT tx, ty FROM pix WHERE ca > 0),
    tb AS (SELECT DISTINCT tx, ty FROM pix WHERE cb > 0),
    -- the equi-join keeps keys present in BOTH vars (J4 inner align)
    tiles AS (SELECT tx, ty FROM ta INTERSECT SELECT tx, ty FROM tb),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j))
    SELECT d.tx AS tile_x, d.ty AS tile_y, CAST(d.py * 16 + d.px AS INT) AS idx,
           CASE WHEN COALESCE(p.ca, 0) + COALESCE(p.cb, 0) > 0 THEN
             (CAST(COALESCE(p.ca, 0) AS DOUBLE) - CAST(COALESCE(p.cb, 0) AS DOUBLE))
             / (CAST(COALESCE(p.ca, 0) AS DOUBLE) + CAST(COALESCE(p.cb, 0) AS DOUBLE))
           END AS value
    FROM dom d LEFT JOIN pix p
      ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px
    """


def _q_hillshade_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fhillshade vs an independently-derived golden: the engine runs the
    fused Horn+illumination kernel over a fixed synthetic DEM built in
    SQL; the oracle is a constant table generated by
    scripts/gen_hillshade_golden.py from the public ESRI formulation
    (scalar a..i cell letters, zenith form — no shared code). Values
    rounded to 4 dp on both sides."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr
    from geotrellis_server_spark.sources.hillshade_golden import N

    dem = (
        f"transform(sequence(0, {N * N - 1}), i -> "
        "10.0D * sin(CAST(i DIV 10 AS DOUBLE) * 0.7D)"
        " + 8.0D * cos(CAST(i % 10 AS DOUBLE) * 0.5D)"
        " + CAST(i DIV 10 AS DOUBLE) * CAST(i % 10 AS DOUBLE) * 0.1D)"
    )
    tile = spark.createDataFrame(
        [(0, 0, 0, N, N)],
        "zoom INT, tile_x BIGINT, tile_y BIGINT, width INT, height INT",
    ).selectExpr("*", f"{dem} AS cells")
    out = eval_expr(M.focal("fhillshade", M.var("d"), radius=1), {"d": tile})
    return (
        out.selectExpr("posexplode(cells) AS (idx, value)")
        .where("value IS NOT NULL AND NOT isnan(value)")
        .selectExpr("idx", "ROUND(value, 4) AS value")
    )


def _hillshade_golden_oracle() -> str:
    from geotrellis_server_spark.sources.hillshade_golden import GOLDEN

    vals = ", ".join(f"({i}, {v!r})" for i, v in GOLDEN)
    return f"""
    SELECT CAST(idx AS INT) AS idx, CAST(v AS DOUBLE) AS value
    FROM (VALUES {vals}) t(idx, v)
    """


def _q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector analytics (geometry/wkt.polygon_stats): a 'house' pentagon
    per zone (rect + roof apex at ymax + h/2) built as WKT text in SQL,
    parsed by the REAL WKT parser and measured with the numpy shoelace —
    the oracle computes the same shoelace from raw vertex arithmetic
    (never seeing WKT). %.10f formatting round-trips exactly (all
    vertices are multiples of 0.5)."""
    from geotrellis_server_spark.geometry.wkt import polygon_stats

    zones = synth.zone_grid(spark)
    f = "format_string('%.10f %.10f', {x}, {y})"
    pts = [
        f.format(x="xmin", y="ymin"),
        f.format(x="xmax", y="ymin"),
        f.format(x="xmax", y="ymax"),
        f.format(x="(xmin + xmax) / 2", y="ymax + (ymax - ymin) / 2"),
        f.format(x="xmin", y="ymax"),
        f.format(x="xmin", y="ymin"),  # closing vertex
    ]
    wkt = "concat('POLYGON ((', " + ", ', ', ".join(pts) + ", '))')"
    return polygon_stats(
        zones.selectExpr("zone_id", f"{wkt} AS wkt")
    ).select("zone_id", "n_vertices", "area", "signed_area", "cx", "cy")


def _polygon_stats_oracle() -> str:
    # vertices from zone arithmetic (no WKT): shoelace over the 5-gon
    zl0, zw = sqlgen.ZONE_LON0, sqlgen.ZONE_LON_W
    zb0, zh = sqlgen.ZONE_LAT0, sqlgen.ZONE_LAT_H
    return f"""
    WITH z AS (
      SELECT CAST(i AS BIGINT) AS zone_id,
             {zl0} + (i % {sqlgen.N_ZONE_COLS}) * {zw} AS xmin,
             {zb0} + (i // {sqlgen.N_ZONE_COLS}) * {zh} AS ymin,
             {zl0} + (i % {sqlgen.N_ZONE_COLS} + 1) * {zw} AS xmax,
             {zb0} + (i // {sqlgen.N_ZONE_COLS} + 1) * {zh} AS ymax
      FROM range({sqlgen.N_ZONE_COLS * sqlgen.N_ZONE_ROWS}) t(i)),
    v AS (
      SELECT zone_id,
             [[xmin, ymin], [xmax, ymin], [xmax, ymax],
              [(xmin + xmax) / 2, ymax + (ymax - ymin) / 2],
              [xmin, ymax]] AS ring
      FROM z),
    e AS (
      SELECT zone_id,
             [ring[i + 1][1] * ring[(i + 1) % 5 + 1][2]
              - ring[(i + 1) % 5 + 1][1] * ring[i + 1][2]
              for i in range(0, 5)] AS cr,
             ring
      FROM v),
    s AS (
      SELECT zone_id,
             list_sum(cr) AS s2,
             list_sum([(ring[i + 1][1] + ring[(i + 1) % 5 + 1][1]) * cr[i + 1]
                       for i in range(0, 5)]) AS sx,
             list_sum([(ring[i + 1][2] + ring[(i + 1) % 5 + 1][2]) * cr[i + 1]
                       for i in range(0, 5)]) AS sy
      FROM e)
    SELECT zone_id, 5 AS n_vertices, abs(s2 / 2.0) AS area,
           s2 / 2.0 AS signed_area,
           sx / (3.0 * s2) AS cx, sy / (3.0 * s2) AS cy
    FROM s
    """


def _q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation blocklist filter (text.blocklist_filter): sources whose
    md5 starts below '4' are blocked (deterministic ~25% of sources);
    survivors counted per source via a broadcast anti-join."""
    from geotrellis_server_spark.operators import text as T_

    docs = _read_documents(spark, sf_dir)
    blocked = docs.select("source").distinct().where(
        "substring(md5(source), 1, 1) < '4'"
    )
    return (
        T_.blocklist_filter(docs, blocked)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


def _blocklist_filter_oracle() -> str:
    return """
    SELECT source, count(*) AS n_docs
    FROM documents
    WHERE substring(md5(source), 1, 1) >= '4'
    GROUP BY source
    """


def _q_pyramid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyramid rollup (tiling.pyramid_up, the Pyramid.up analog):
    rasterize z3 then roll up to z2 with 2×2 sums. For a count raster
    the rollup must EQUAL rasterizing z2 directly — the oracle is the
    independent dense z2 grid in SQL."""
    from geotrellis_server_spark.operators.tiling import pyramid_up

    d = _docs(spark, sf_dir)
    up = pyramid_up(tiling.rasterize_count(d, 3, tile_size=16), agg="sum")
    return up.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(value AS DOUBLE) AS value")


def _pyramid_rollup_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j))
    SELECT d.tx AS tile_x, d.ty AS tile_y, CAST(d.py * 16 + d.px AS INT) AS idx,
           CAST(COALESCE(p.cnt, 0) AS DOUBLE) AS value
    FROM dom d LEFT JOIN pix p
      ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px
    """


TIME_SLICE_AT = "2024-01-15 12:00:00"


def _q_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 timeSlice default-time rules (operators/mosaic.py time_slice /
    source_for_time): catalog = one item per (event_type layer, ts);
    'newest'/'oldest' keep the rank-1 item per layer, 'at' keeps the
    latest item <= the fixed time (OgcSource.sourceForTime,
    OgcSource.scala:177-196)."""
    from geotrellis_server_spark.operators import mosaic

    cat = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.col("event_type").alias("layer"), F.col("ts").alias("time"))
        .agg(F.min("event_id").alias("item_id"))
    )
    newest = mosaic.time_slice(cat, default="newest").select(
        F.lit("newest").alias("kind"), "layer", "time", "item_id"
    )
    oldest = mosaic.time_slice(cat, default="oldest").select(
        F.lit("oldest").alias("kind"), "layer", "time", "item_id"
    )
    at = mosaic.source_for_time(cat, TIME_SLICE_AT).select(
        F.lit("at").alias("kind"), "layer", "time", "item_id"
    )
    return newest.unionByName(oldest).unionByName(at)


def _time_slice_oracle() -> str:
    return f"""
    WITH cat AS (
      SELECT event_type AS layer, ts AS time, min(event_id) AS item_id
      FROM events GROUP BY 1, 2),
    newest AS (
      SELECT 'newest' AS kind, layer, time, item_id FROM (
        SELECT *, row_number() OVER (PARTITION BY layer ORDER BY time DESC) AS rk
        FROM cat) WHERE rk = 1),
    oldest AS (
      SELECT 'oldest' AS kind, layer, time, item_id FROM (
        SELECT *, row_number() OVER (PARTITION BY layer ORDER BY time ASC) AS rk
        FROM cat) WHERE rk = 1),
    at_t AS (
      SELECT 'at' AS kind, layer, time, item_id FROM (
        SELECT *, row_number() OVER (PARTITION BY layer ORDER BY time DESC) AS rk
        FROM cat WHERE time <= TIMESTAMP '{TIME_SLICE_AT}') WHERE rk = 1),
    at_fb AS (  -- sourceForTime fallback: no item <= t -> earliest item
      SELECT 'at' AS kind, layer, time, item_id FROM (
        SELECT *, row_number() OVER (PARTITION BY layer ORDER BY time ASC) AS rk
        FROM cat) WHERE rk = 1
        AND layer NOT IN (SELECT layer FROM at_t))
    SELECT * FROM newest UNION ALL SELECT * FROM oldest
    UNION ALL SELECT * FROM at_t UNION ALL SELECT * FROM at_fb
    """


# crop window in EPSG:3857 meters — edges are ~100 km from every pixel
# center at z3/16px (313 km spacing), so threshold compares are fp-safe
CROP_WINDOW = (-15000000.0, -10000000.0, 5000000.0, 12000000.0)


def _q_crop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 crop: rasterize the doc-count pyramid at z3 and crop to a
    mercator window (maml/eval.py crop_to_extent — pixel centers outside
    the window become NoData, LayerExtentTest semantics). The oracle
    recomputes centers with direct tile arithmetic."""
    from geotrellis_server_spark.grids.layout import ZoomedLayoutScheme
    from geotrellis_server_spark.maml.eval import crop_to_extent

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 3, tile_size=16)
    layout = ZoomedLayoutScheme(16).layout(3)
    out = crop_to_extent(
        tiles, CROP_WINDOW, lambda z, tx, ty: layout.extent_for(tx, ty)
    )
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr(
        "tile_x", "tile_y", "idx",
        "CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DOUBLE) AS value",
    )


def _crop_window_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 3, 16)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    bound = 20037508.342789244  # WebMercator world half-width, meters
    cw = f"({2 * bound!r} / 128.0)"  # z3 * 16 px = 128 global pixels/axis
    cx = f"(({-bound!r}) + (CAST(d.tx * 16 + d.px AS DOUBLE) + 0.5) * {cw})"
    cy = f"(({bound!r}) - (CAST(d.ty * 16 + d.py AS DOUBLE) + 0.5) * {cw})"
    xmin, ymin, xmax, ymax = CROP_WINDOW
    inside = (
        f"{cx} >= {xmin!r} AND {cx} <= {xmax!r} AND "
        f"{cy} >= {ymin!r} AND {cy} <= {ymax!r}"
    )
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j))
    SELECT d.tx AS tile_x, d.ty AS tile_y, CAST(d.py * 16 + d.px AS INT) AS idx,
           CASE WHEN {inside}
                THEN CAST(COALESCE(p.cnt, 0) AS DOUBLE) END AS value
    FROM dom d LEFT JOIN pix p
      ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px
    """


PACK_CAPACITY, PACK_N = 256, 8


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/text.py pack_sequences): docs →
    per-packer FFD-ordered next-fit bins. The oracle replays the
    sequential pass with a recursive CTE over the same order."""
    from geotrellis_server_spark.operators import text as T_

    return T_.pack_sequences(
        _read_documents(spark, sf_dir), capacity=PACK_CAPACITY, n_packers=PACK_N
    )


def _pack_sequences_oracle() -> str:
    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, doc_id % {PACK_N} AS packer,
             CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
             row_number() OVER (PARTITION BY doc_id % {PACK_N}
                                ORDER BY len(string_split(text, ' ')) DESC,
                                         doc_id) AS rn
      FROM documents),
    r AS (
      SELECT packer, rn, doc_id, ws_tokens, ws_tokens AS cum, 0 AS bin
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.packer, t.rn, t.doc_id, t.ws_tokens,
             CASE WHEN r.cum + t.ws_tokens > {PACK_CAPACITY}
                  THEN t.ws_tokens ELSE r.cum + t.ws_tokens END,
             CASE WHEN r.cum + t.ws_tokens > {PACK_CAPACITY}
                  THEN r.bin + 1 ELSE r.bin END
      FROM r JOIN t ON t.packer = r.packer AND t.rn = r.rn + 1)
    SELECT doc_id, packer, ws_tokens, CAST(bin AS INT) AS bin_id,
           CAST(cum - ws_tokens AS INT) AS bin_offset
    FROM r
    """


def _q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ compression path end-to-end: train product-quantizer
    codebooks (content-hash sample, partition-invariant), encode the
    corpus to m uint8-range codes, ADC-score via a pure-JVM lookup-table
    expression, then exact-rerank the top candidate pool. The driver embeddings are isotropic noise — PQ's worst case — so the
    gate uses a generous pool (400 of 500); the deterministic result then
    equals the exact top-15 —
    the oracle is brute-force cosine in DuckDB."""
    from geotrellis_server_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    books = S.pq_train(emb, n_subspaces=8, n_codes=16, seed=11)
    enc = S.pq_encode(emb, books)
    return S.pq_topk(enc, books, qvec, 15, rerank=400)


def _pq_rerank_oracle() -> str:
    return """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        s AS (SELECT vec_id,
                     list_dot_product(embedding::DOUBLE[], qv)
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv, qv))) AS cosine
              FROM embeddings, q)
        SELECT vec_id, rank FROM (
          SELECT vec_id,
                 CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
          FROM s) WHERE rank <= 15
    """


def _q_fslope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal fslope (Horn, kernels.py:_fslope) over the z2 doc-count
    pyramid. Slope degrees are transcendental, so the contract value is
    the exact integer 64·(dzdx²+dzdy²) recovered from the slope via
    tan(radians(°))² — a wrong gradient, arctan, or unit convention all
    break the integer. NaN cells (any 3×3 neighbor outside the existing
    tile domain) are dropped; the oracle mirrors that with an all-9-
    neighbors-present condition."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=8)
    out = eval_expr(M.focal("fslope", M.var("d"), radius=1), {"d": tiles})
    return (
        out.selectExpr("tile_x", "tile_y", "posexplode(cells) AS (idx, value)")
        .where("value IS NOT NULL AND NOT isnan(value)")
        .selectExpr(
            "tile_x", "tile_y", "idx",
            "CAST(round(tan(radians(value)) * tan(radians(value)) * 64.0) AS BIGINT) AS grad2",
        )
    )


def _fslope_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 8)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    # Horn 8·dz/dx = Σ dgx·(2-|dgy|)·v ; 8·dz/dy = Σ dgy·(2-|dgx|)·v —
    # independent conditional-sum formulation (no shared kernel code)
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(8) i(i) CROSS JOIN range(8) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px,
             d.ty * 8 + d.py AS gy, d.tx * 8 + d.px AS gx,
             COALESCE(p.cnt, 0) AS v
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    horn AS (
      SELECT c.tx, c.ty, c.py, c.px, count(*) AS n_nbrs,
             sum((n.gx - c.gx) * (2 - abs(n.gy - c.gy)) * n.v) AS dx8,
             sum((n.gy - c.gy) * (2 - abs(n.gx - c.gx)) * n.v) AS dy8
      FROM gval c
      JOIN gval n ON n.gx BETWEEN c.gx - 1 AND c.gx + 1
                 AND n.gy BETWEEN c.gy - 1 AND c.gy + 1
      GROUP BY 1, 2, 3, 4)
    SELECT tx AS tile_x, ty AS tile_y, CAST(py * 8 + px AS INT) AS idx,
           CAST(dx8 * dx8 + dy8 * dy8 AS BIGINT) AS grad2
    FROM horn WHERE n_nbrs = 9
    """


def _q_faspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal faspect (kernels.py:_faspect — GeoTrellis Aspect: compass
    azimuth of steepest descent) over the z2 doc-count pyramid, gated as
    the 45°-sector OCTANT (0=N..7=NW): azimuth itself is transcendental,
    but which sector it falls in is a pure sign/magnitude comparison of
    the integer Horn gradient sums, so the oracle is exact. Cells ON a
    sector boundary (gradient components equal/zero — the only way az
    hits a multiple of 45°) are excluded on both sides: engine-side via
    an epsilon test that is unambiguous because any off-boundary integer
    gradient is ≥ ~0.005° from a boundary while float error is ~1e-12°;
    NaN (flat or incomplete window) also drops."""
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=8)
    out = eval_expr(M.focal("faspect", M.var("d"), radius=1), {"d": tiles})
    return (
        out.selectExpr("tile_x", "tile_y", "posexplode(cells) AS (idx, value)")
        .where("value IS NOT NULL AND NOT isnan(value)")
        .where("abs(value / 45.0D - round(value / 45.0D)) > 1e-9")
        .selectExpr(
            "tile_x", "tile_y", "idx",
            "CAST(floor(value / 45.0D) AS INT) % 8 AS octant",
        )
    )


def _faspect_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 2, 8)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    # descent vector (east, north) = (-dx8, dy8); octant k ⟺ az strictly
    # inside (45k, 45(k+1)) — pure integer comparisons
    return f"""
    WITH pix AS (
      SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, count(*) AS cnt
      FROM ({pts}) GROUP BY 1, 2, 3, 4),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    dom AS (
      SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py, CAST(j.j AS BIGINT) AS px
      FROM tiles t CROSS JOIN range(8) i(i) CROSS JOIN range(8) j(j)),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px,
             d.ty * 8 + d.py AS gy, d.tx * 8 + d.px AS gx,
             COALESCE(p.cnt, 0) AS v
      FROM dom d LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    horn AS (
      SELECT c.tx, c.ty, c.py, c.px, count(*) AS n_nbrs,
             sum((n.gx - c.gx) * (2 - abs(n.gy - c.gy)) * n.v) AS dx8,
             sum((n.gy - c.gy) * (2 - abs(n.gx - c.gx)) * n.v) AS dy8
      FROM gval c
      JOIN gval n ON n.gx BETWEEN c.gx - 1 AND c.gx + 1
                 AND n.gy BETWEEN c.gy - 1 AND c.gy + 1
      GROUP BY 1, 2, 3, 4),
    vec AS (
      SELECT tx, ty, py, px, -dx8 AS e, dy8 AS n
      FROM horn
      WHERE n_nbrs = 9 AND dx8 <> 0 AND dy8 <> 0 AND abs(dx8) <> abs(dy8))
    SELECT tx AS tile_x, ty AS tile_y, CAST(py * 8 + px AS INT) AS idx,
           CASE WHEN e > 0 AND n > 0 AND e < n THEN 0
                WHEN e > 0 AND n > 0 THEN 1
                WHEN e > 0 AND n < 0 AND e > -n THEN 2
                WHEN e > 0 AND n < 0 THEN 3
                WHEN e < 0 AND n < 0 AND -e < -n THEN 4
                WHEN e < 0 AND n < 0 THEN 5
                WHEN e < 0 AND n > 0 AND -e > n THEN 6
                ELSE 7 END AS octant
    FROM vec
    """


def _q_extent_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 extent folds as a contract query: per-group doc envelopes →
    the union and intersection monoid folds (operators/histogram.py
    extent_union/extent_intersection), tagged and unioned to two rows."""
    from geotrellis_server_spark.operators import histogram as H

    d = _docs(spark, sf_dir)
    env = d.groupBy((F.expr("CAST(substring(doc_id, 5) AS BIGINT) % 7")).alias("g")).agg(
        F.min("lon").alias("xmin"), F.min("lat").alias("ymin"),
        F.max("lon").alias("xmax"), F.max("lat").alias("ymax"),
    )
    u = H.extent_union(env).select(F.lit("union").alias("kind"), "*")
    i = H.extent_intersection(env).select(F.lit("intersection").alias("kind"), "*")
    return u.unionByName(i)


def _extent_folds_oracle() -> str:
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH env AS (
      SELECT id % 7 AS g, min(lon) AS xmin, min(lat) AS ymin,
             max(lon) AS xmax, max(lat) AS ymax
      FROM ({pts}) GROUP BY 1)
    SELECT 'union' AS kind, min(xmin) AS xmin, min(ymin) AS ymin,
           max(xmax) AS xmax, max(ymax) AS ymax FROM env
    UNION ALL
    SELECT 'intersection' AS kind,
           CASE WHEN max(xmin) <= min(xmax) AND max(ymin) <= min(ymax)
                THEN max(xmin) END AS xmin,
           CASE WHEN max(xmin) <= min(xmax) AND max(ymin) <= min(ymax)
                THEN max(ymin) END AS ymin,
           CASE WHEN max(xmin) <= min(xmax) AND max(ymin) <= min(ymax)
                THEN min(xmax) END AS xmax,
           CASE WHEN max(xmin) <= min(xmax) AND max(ymin) <= min(ymax)
                THEN min(ymax) END AS ymax
    FROM env
    """


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup (dedup.incremental_new_docs):
    base = even doc_ids, new = odd doc_ids; survivors of the new snapshot
    whose content hash never appeared in the base."""
    from geotrellis_server_spark.operators import dedup

    docs = _read_documents(spark, sf_dir)
    base = docs.where("doc_id % 2 = 0")
    new = docs.where("doc_id % 2 = 1")
    return dedup.incremental_new_docs(base, new)


def _incremental_dedup_oracle() -> str:
    return """
    WITH nh AS (SELECT md5(text) AS content_hash, doc_id
                FROM documents WHERE doc_id % 2 = 1),
         bh AS (SELECT DISTINCT md5(text) AS content_hash
                FROM documents WHERE doc_id % 2 = 0)
    SELECT content_hash, MIN(doc_id) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_new
    FROM nh WHERE content_hash NOT IN (SELECT content_hash FROM bh)
    GROUP BY content_hash
    """


# C1 ramp-classification poles: break b_i ← color c_i (first break >= v),
# above the last break / NaN → transparent (ColorMap LessThanOrEqualTo)
CLASSIFY_BREAKS = [200.0, 400.0, 800.0, 1600.0]
CLASSIFY_COLORS = [(0, 0, 255, 255), (0, 255, 0, 255),
                   (255, 255, 0, 255), (255, 0, 0, 192)]


def _q_classify_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 color-ramp classification as a distributed op: the REAL
    styles.colormap.classify_breaks kernel applied per Arrow batch via
    mapInPandas over documents.n_chars."""
    import numpy as np
    import pandas as pd

    from geotrellis_server_spark.styles import colormap as cmap

    breaks = np.array(CLASSIFY_BREAKS)
    colors = np.array(CLASSIFY_COLORS, dtype=np.uint8)

    def mapper(batches):
        for pdf in batches:
            rgba = cmap.classify_breaks(
                pdf["n_chars"].to_numpy(dtype=np.float64), breaks, colors
            )
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "r": rgba[:, 0].astype("int32"), "g": rgba[:, 1].astype("int32"),
                "b": rgba[:, 2].astype("int32"), "a": rgba[:, 3].astype("int32"),
            })

    return (
        _read_documents(spark, sf_dir)
        .select("doc_id", "n_chars")
        .mapInPandas(mapper, "doc_id BIGINT, r INT, g INT, b INT, a INT")
    )


def _classify_breaks_oracle() -> str:
    chans = []
    for ch, name in enumerate("rgba"):
        branches = "".join(
            f" WHEN n_chars <= {int(b)} THEN {CLASSIFY_COLORS[i][ch]}"
            for i, b in enumerate(CLASSIFY_BREAKS)
        )
        chans.append(f"CAST(CASE{branches} ELSE 0 END AS INT) AS {name}")
    return f"SELECT doc_id, {', '.join(chans)} FROM documents"


def _pix_cte(zoom: int, ts: int) -> str:
    """Shared oracle fragment: rasterized per-pixel counts at (zoom, ts)
    over the synthetic doc lattice (the DuckDB mirror of
    tiling.rasterize_count's keying)."""
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", zoom, ts)
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return (f"SELECT {tx} AS tx, {ty} AS ty, ({py}) AS py, ({px}) AS px, "
            f"count(*) AS cnt FROM ({pts}) GROUP BY 1, 2, 3, 4")


def _q_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/E4 GetFeatureInfo point sampling through the ENGINE surface
    (Engine.get_values: points → tile-key broadcast join → in-tile pixel
    index; reference ogc/.../wms/GetFeatureInfoExtended.scala:57-105).
    200 deterministic query points on the exact 1/1024° lattice; points
    over tiles the layer does not materialize drop out of the inner tile
    join, mirrored by the oracle's tile semi-join."""
    from geotrellis_server_spark.engine import Engine, Layer

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 3, tile_size=16)
    eng = Engine(spark, {"density": Layer("density", tiles)})
    pts = [((i * 7349 % 368640) / 1024.0 - 180.0,
            (i * 4391 % 174080) / 1024.0 - 85.0) for i in range(200)]
    out = eng.get_values("density", pts, zoom=3)
    return out.select("point_id", "lon", "lat",
                      F.col("value").cast("double").alias("value"))


def _point_sample_oracle() -> str:
    tx, ty, px, py = tiling.pixel_index_sql("lon", "lat", 3, 16)
    return f"""
    WITH pix AS ({_pix_cte(3, 16)}),
    tl AS (SELECT DISTINCT tx, ty FROM pix),
    q AS (SELECT CAST(i AS INT) AS point_id,
                 CAST((i * 7349) % 368640 AS DOUBLE) / 1024.0 - 180.0 AS lon,
                 CAST((i * 4391) % 174080 AS DOUBLE) / 1024.0 - 85.0 AS lat
          FROM range(200) r(i)),
    k AS (SELECT point_id, lon, lat, {tx} AS tx, {ty} AS ty,
                 ({py}) AS py, ({px}) AS px FROM q)
    SELECT k.point_id, k.lon, k.lat,
           CAST(COALESCE(p.cnt, 0) AS DOUBLE) AS value
    FROM k JOIN tl ON tl.tx = k.tx AND tl.ty = k.ty
    LEFT JOIN pix p ON p.tx = k.tx AND p.ty = k.ty
                   AND p.py = k.py AND p.px = k.px
    """


def _q_stitch_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 stitch: assemble the z3 tiles of a bounded request window
    (tile_x 4-5, tile_y 2-3) into one mosaic (reference
    core/.../gtlayer/GTLayerNode.scala:150-157), then re-emit the
    request-sized numpy array as (pixel_y, pixel_x, value) rows. The
    mosaic spans the PRESENT tiles' bounding box (stitch semantics), NaN
    → NULL where no tile covers a bounding-box slot."""
    import numpy as np

    from geotrellis_server_spark.operators.stitch import stitch

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 3, tile_size=16).where(
        "tile_x BETWEEN 4 AND 5 AND tile_y BETWEEN 2 AND 3")
    arr, _ext = stitch(tiles, zoom=3)
    rows = [
        (int(y), int(x),
         None if np.isnan(arr[y, x]) else float(arr[y, x]))
        for y in range(arr.shape[0]) for x in range(arr.shape[1])
    ]
    return spark.createDataFrame(rows, "pixel_y INT, pixel_x INT, value DOUBLE")


def _stitch_window_oracle() -> str:
    return f"""
    WITH pix AS ({_pix_cte(3, 16)}),
    tl AS (SELECT tx, ty FROM (SELECT DISTINCT tx, ty FROM pix)
           WHERE tx BETWEEN 4 AND 5 AND ty BETWEEN 2 AND 3),
    b AS (SELECT min(tx) AS tx0, max(tx) AS tx1,
                 min(ty) AS ty0, max(ty) AS ty1 FROM tl),
    rect AS (SELECT b.tx0 + ux.u AS tx, b.ty0 + uy.v AS ty, b.tx0, b.ty0
             FROM b CROSS JOIN range(8) ux(u) CROSS JOIN range(8) uy(v)
             WHERE b.tx0 + ux.u <= b.tx1 AND b.ty0 + uy.v <= b.ty1)
    SELECT CAST((r.ty - r.ty0) * 16 + i.i AS INT) AS pixel_y,
           CAST((r.tx - r.tx0) * 16 + j.j AS INT) AS pixel_x,
           CASE WHEN t.tx IS NOT NULL
                THEN CAST(COALESCE(p.cnt, 0) AS DOUBLE) END AS value
    FROM rect r CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)
    LEFT JOIN tl t ON t.tx = r.tx AND t.ty = r.ty
    LEFT JOIN pix p ON p.tx = r.tx AND p.ty = r.ty
                   AND p.py = i.i AND p.px = j.j
    """


def _q_corner_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 corner sampling (SampleUtils.sampleRasterExtent:29-48): the 4
    corner sample extents of the docs' uber extent under a 40,000-cell
    budget at cell size 0.25° — side = sqrt(10000)·0.25 = 25.0 exactly,
    so every extent bound is an exact IEEE sum of lattice values and the
    per-corner doc counts match the oracle bit-for-bit. The uber-extent
    collect is a 4-scalar catalog fold (documented driver-side
    boundary, same class as engine.describe)."""
    from geotrellis_server_spark.grids.layout import Extent
    from geotrellis_server_spark.operators.histogram import corner_sample_extents

    d = _docs(spark, sf_dir)
    mm = d.agg(F.min("lon"), F.min("lat"), F.max("lon"), F.max("lat")).collect()[0]
    uber = Extent(float(mm[0]), float(mm[1]), float(mm[2]), float(mm[3]))
    exts = corner_sample_extents(uber, 0.25, 40000)
    parts = []
    for name, e in zip(("NW", "NE", "SW", "SE"), exts):
        parts.append(
            d.where((F.col("lon") >= e.xmin) & (F.col("lon") <= e.xmax)
                    & (F.col("lat") >= e.ymin) & (F.col("lat") <= e.ymax))
            .agg(F.count("*").alias("n_docs"))
            .selectExpr(f"'{name}' AS corner", "n_docs"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _corner_sampling_oracle() -> str:
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
    WITH p AS ({pts}),
    u AS (SELECT min(lon) AS xmin, min(lat) AS ymin,
                 max(lon) AS xmax, max(lat) AS ymax FROM p),
    h AS (SELECT xmin, ymin, xmax, ymax,
                 least(sqrt(40000.0 / 4.0) * 0.25, (xmax - xmin) / 2.0) AS hw,
                 least(sqrt(40000.0 / 4.0) * 0.25, (ymax - ymin) / 2.0) AS hh
          FROM u),
    c AS (      SELECT 'NW' AS corner, xmin AS x0, xmin + hw AS x1,
                       ymax - hh AS y0, ymax AS y1 FROM h
      UNION ALL SELECT 'NE', xmax - hw, xmax, ymax - hh, ymax FROM h
      UNION ALL SELECT 'SW', xmin, xmin + hw, ymin, ymin + hh FROM h
      UNION ALL SELECT 'SE', xmax - hw, xmax, ymin, ymin + hh FROM h)
    SELECT c.corner,
           (SELECT count(*) FROM p
            WHERE lon >= c.x0 AND lon <= c.x1
              AND lat >= c.y0 AND lat <= c.y1) AS n_docs
    FROM c
    """


def _q_resample_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 cubic-convolution: 2× upsample of the z2 count raster (16→32
    px). At a 2× upsample every source offset is an exact quarter (frac
    ∈ {0.25, 0.75}), so the 4 Keys taps (a = −0.5) are the exact binary
    constants ∓9/128, 111/128, 29/128, ∓3/128 (which sum to exactly
    1.0 — the edge renormalization divides by 1.0), every product and
    partial sum is exact in double, and the oracle's separable two-pass
    convolution with per-phase constant weights matches hash-exactly."""
    from geotrellis_server_spark.operators.resample import resample_tiles

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=16)
    out = resample_tiles(tiles, 32, 32, "cubic-convolution")
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(value AS DOUBLE) AS value")


def _resample_cubic_oracle() -> str:
    # per-phase Keys(a=-0.5) tap weights at quarter offsets: the kernel
    # polynomial evaluates to these exact binary constants
    return f"""
    WITH pix AS ({_pix_cte(2, 16)}),
    tiles AS (SELECT DISTINCT tx, ty FROM pix),
    gval AS (
      SELECT d.tx, d.ty, d.py, d.px, CAST(COALESCE(p.cnt, 0) AS DOUBLE) AS v
      FROM (SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py,
                   CAST(j.j AS BIGINT) AS px
            FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)) d
      LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    w AS (
      SELECT CAST(i.i AS BIGINT) AS o,
             CAST(floor((CAST(i.i AS DOUBLE) + 0.5) / 2.0 - 0.5) AS BIGINT) AS b,
             CASE WHEN i.i % 2 = 1 THEN -0.0703125 ELSE -0.0234375 END AS wm1,
             CASE WHEN i.i % 2 = 1 THEN 0.8671875 ELSE 0.2265625 END AS w0,
             CASE WHEN i.i % 2 = 1 THEN 0.2265625 ELSE 0.8671875 END AS w1,
             CASE WHEN i.i % 2 = 1 THEN -0.0234375 ELSE -0.0703125 END AS w2
      FROM range(32) i(i)),
    pass1 AS (
      SELECT t.tx, t.ty, w.o AS oy, CAST(x.x AS BIGINT) AS px,
             ((w.wm1 * a.v + w.w0 * b2.v) + w.w1 * c.v) + w.w2 * d.v AS v
      FROM tiles t CROSS JOIN w CROSS JOIN range(16) x(x)
      JOIN gval a  ON a.tx = t.tx AND a.ty = t.ty AND a.px = x.x
                  AND a.py = greatest(least(w.b - 1, 15), 0)
      JOIN gval b2 ON b2.tx = t.tx AND b2.ty = t.ty AND b2.px = x.x
                  AND b2.py = greatest(least(w.b, 15), 0)
      JOIN gval c  ON c.tx = t.tx AND c.ty = t.ty AND c.px = x.x
                  AND c.py = greatest(least(w.b + 1, 15), 0)
      JOIN gval d  ON d.tx = t.tx AND d.ty = t.ty AND d.px = x.x
                  AND d.py = greatest(least(w.b + 2, 15), 0)),
    pass2 AS (
      SELECT t.tx, t.ty, oys.oy,  w.o AS ox,
             ((w.wm1 * a.v + w.w0 * b2.v) + w.w1 * c.v) + w.w2 * d.v AS v
      FROM tiles t CROSS JOIN (SELECT DISTINCT oy FROM pass1) oys CROSS JOIN w
      JOIN pass1 a  ON a.tx = t.tx AND a.ty = t.ty AND a.oy = oys.oy
                   AND a.px = greatest(least(w.b - 1, 15), 0)
      JOIN pass1 b2 ON b2.tx = t.tx AND b2.ty = t.ty AND b2.oy = oys.oy
                   AND b2.px = greatest(least(w.b, 15), 0)
      JOIN pass1 c  ON c.tx = t.tx AND c.ty = t.ty AND c.oy = oys.oy
                   AND c.px = greatest(least(w.b + 1, 15), 0)
      JOIN pass1 d  ON d.tx = t.tx AND d.ty = t.ty AND d.oy = oys.oy
                   AND d.px = greatest(least(w.b + 2, 15), 0))
    SELECT tx AS tile_x, ty AS tile_y,
           CAST(oy * 32 + ox AS INT) AS idx, v AS value
    FROM pass2
    """


def _q_resample_lanczos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 lanczos (a=3): 2× upsample of the z2 count raster (16→32 px)
    through the engine's separable-convolution kernel. At 2× the only
    source phases are frac ∈ {0.25, 0.75}, so each pass has exactly two
    6-tap weight rows; the oracle embeds the kernel's OWN float64 tap
    values (np.sinc products, repr round-trip = bit-identical) and
    mirrors its accumulation order (sequential adds in tap order, then
    one divide by the phase's renormalization sum), making the
    comparison hash-exact like the cubic gate."""
    from geotrellis_server_spark.operators.resample import resample_tiles

    d = _docs(spark, sf_dir)
    tiles = tiling.rasterize_count(d, 2, tile_size=16)
    out = resample_tiles(tiles, 32, 32, "lanczos")
    return out.selectExpr(
        "tile_x", "tile_y", "posexplode(cells) AS (idx, value)"
    ).selectExpr("tile_x", "tile_y", "idx", "CAST(value AS DOUBLE) AS value")


def _resample_lanczos_oracle() -> str:
    import numpy as np

    # the kernel's exact tap weights per output phase (t = -2..3):
    # x = frac - t, w = np.sinc(x) * np.sinc(x/3); renorm sum in the
    # kernel's accumulation order (wsum += w, t ascending)
    def _w(frac: float):
        xs = np.array([frac - t for t in range(-2, 4)], dtype=np.float64)
        w = np.sinc(xs) * np.sinc(xs / 3)
        tot = np.float64(0.0)
        for v in w:
            tot = tot + v
        return [float(v) for v in w], float(tot)

    w75, n75 = _w(0.75)  # even outputs: s = o/2 - 0.25, frac 0.75
    w25, n25 = _w(0.25)  # odd outputs:  s = (o-1)/2 + 0.25, frac 0.25
    wcols = []
    for i in range(6):
        wcols.append(
            f"CASE WHEN i.i % 2 = 1 THEN {w25[i]!r} ELSE {w75[i]!r} END"
            f" AS w{i}"
        )
    wnorm = f"CASE WHEN i.i % 2 = 1 THEN {n25!r} ELSE {n75!r} END AS wn"

    def _pass(src: str, axis: str, other: str, other_src: str) -> str:
        # one separable pass: 6 edge-clamped taps at b-2..b+3, summed
        # left-associatively in tap order, divided by the phase norm
        joins, terms = [], []
        for i in range(6):
            t = i - 2
            joins.append(
                f"JOIN {src} s{i} ON s{i}.tx = t.tx AND s{i}.ty = t.ty "
                f"AND s{i}.{other} = {other_src} "
                f"AND s{i}.{axis} = greatest(least(w.b + {t}, 15), 0)"
            )
            terms.append(f"w.w{i} * s{i}.v")
        num = terms[0]
        for term in terms[1:]:
            num = f"({num} + {term})"
        return num, "\n      ".join(joins)

    num1, joins1 = _pass("gval", "py", "px", "CAST(x.x AS BIGINT)")
    num2, joins2 = _pass("pass1", "px", "oy", "oys.oy")
    return f"""
    WITH pix AS MATERIALIZED ({_pix_cte(2, 16)}),
    tiles AS MATERIALIZED (SELECT DISTINCT tx, ty FROM pix),
    gval AS MATERIALIZED (
      SELECT d.tx, d.ty, d.py, d.px, CAST(COALESCE(p.cnt, 0) AS DOUBLE) AS v
      FROM (SELECT t.tx, t.ty, CAST(i.i AS BIGINT) AS py,
                   CAST(j.j AS BIGINT) AS px
            FROM tiles t CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(j)) d
      LEFT JOIN pix p
        ON p.tx = d.tx AND p.ty = d.ty AND p.py = d.py AND p.px = d.px),
    w AS MATERIALIZED (
      SELECT CAST(i.i AS BIGINT) AS o,
             CAST(floor((CAST(i.i AS DOUBLE) + 0.5) / 2.0 - 0.5) AS BIGINT) AS b,
             {", ".join(wcols)},
             {wnorm}
      FROM range(32) i(i)),
    pass1 AS MATERIALIZED (
      SELECT t.tx, t.ty, w.o AS oy, CAST(x.x AS BIGINT) AS px,
             {num1} / w.wn AS v
      FROM tiles t CROSS JOIN w CROSS JOIN range(16) x(x)
      {joins1}),
    pass2 AS (
      SELECT t.tx, t.ty, oys.oy, w.o AS ox,
             {num2} / w.wn AS v
      FROM tiles t CROSS JOIN (SELECT DISTINCT oy FROM pass1) oys CROSS JOIN w
      {joins2})
    SELECT tx AS tile_x, ty AS tile_y,
           CAST(oy * 32 + ox AS INT) AS idx, v AS value
    FROM pass2
    """


def _q_mosaic_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 cell-size folds + celltype union (mosaic_metadata: union
    extent, FINEST cell size wins, float64 beats int when any source is
    float — reference MosaicRasterSource metadata combine) over a
    deterministic 40-source catalog."""
    from geotrellis_server_spark.operators.mosaic import mosaic_metadata

    cat = spark.range(40).selectExpr(
        "CAST((id * 37) % 100 AS DOUBLE) - 50.0 AS xmin",
        "CAST((id * 53) % 80 AS DOUBLE) - 40.0 AS ymin",
        "CAST((id * 37) % 100 AS DOUBLE) - 50.0 + 10.0 AS xmax",
        "CAST((id * 53) % 80 AS DOUBLE) - 40.0 + 8.0 AS ymax",
        "CAST(1 + (id * 7) % 13 AS DOUBLE) / 16.0 AS cell_size",
        "CASE WHEN id % 3 = 0 THEN 'float32' ELSE 'int16' END AS celltype",
    )
    return mosaic_metadata(cat)


def _mosaic_metadata_oracle() -> str:
    return """
    WITH c AS (
      SELECT CAST((i * 37) % 100 AS DOUBLE) - 50.0 AS xmin,
             CAST((i * 53) % 80 AS DOUBLE) - 40.0 AS ymin,
             CAST((i * 37) % 100 AS DOUBLE) - 50.0 + 10.0 AS xmax,
             CAST((i * 53) % 80 AS DOUBLE) - 40.0 + 8.0 AS ymax,
             CAST(1 + (i * 7) % 13 AS DOUBLE) / 16.0 AS cell_size,
             CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END AS isf
      FROM range(40) r(i))
    SELECT min(xmin) AS xmin, min(ymin) AS ymin,
           max(xmax) AS xmax, max(ymax) AS ymax,
           min(cell_size) AS cell_size,
           CASE WHEN max(isf) = 1 THEN 'float64' ELSE 'int32' END AS celltype
    FROM c
    """


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters over the documents token stream (two-pass
    candidate-prune, operators/sketch.py:heavy_hitters): every token
    appearing at least once per 512 tokens, with its exact count. The
    threshold compare is integer (n·512 ≥ N) so the oracle's plain
    GROUP BY ... HAVING matches bit-for-bit."""
    from geotrellis_server_spark.operators import sketch as sk

    words = _read_documents(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("w"))
    return sk.heavy_hitters(words, "w", one_in=512)


def _heavy_hitters_oracle() -> str:
    return """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS value FROM documents),
    t AS (SELECT count(*) AS total FROM w)
    SELECT value, CAST(count(*) AS BIGINT) AS n
    FROM w, t
    GROUP BY value, t.total
    HAVING count(*) * 512 >= t.total
    """


def _q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (p=12) over the documents token stream
    (operators/sketch.py:hll_sketch). The register table — not the float
    estimate — is the gated output: it is integer-only and a pure
    function of the input set, so the oracle matches bit-for-bit while
    the estimator (hll_estimate, pytest-covered) stays float-free here."""
    from geotrellis_server_spark.operators import sketch as sk

    words = _read_documents(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("w"))
    return sk.hll_sketch(words, "w", p=12)


def _hll_registers_oracle() -> str:
    from geotrellis_server_spark.operators.sketch import hll_bucket_rho_sql

    bucket, rho = hll_bucket_rho_sql("w", p=12)
    return f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    SELECT {bucket} AS bucket, CAST(max({rho}) AS INT) AS rho_max
    FROM w WHERE w IS NOT NULL GROUP BY 1
    """


def _q_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per source with deterministic tie-break
    (operators/text.py:top_k_per_group — two-phase: batch-local prune in
    mapInPandas bounds the exchange at k rows per group per batch, then
    an exact row_number over the pruned survivors)."""
    from geotrellis_server_spark.operators.text import top_k_per_group

    d = _read_documents(spark, sf_dir).select(
        "source", "doc_id", F.length("text").alias("len_chars"))
    return top_k_per_group(d, ["source"], "len_chars", 3, tie_col="doc_id")


def _topk_per_source_oracle() -> str:
    return """
    WITH d AS (SELECT source, doc_id, length(text) AS len_chars FROM documents),
    r AS (SELECT source, doc_id, len_chars,
                 CAST(row_number() OVER (
                     PARTITION BY source
                     ORDER BY len_chars DESC, doc_id ASC) AS INT) AS rank
          FROM d)
    SELECT source, doc_id, len_chars, rank FROM r WHERE rank <= 3
    """


_BM25_TERMS = ["scan", "join", "merge"]


def _q_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer BM25/tf-idf retrieval statistics for a fixed term set
    (operators/text.py:bm25_stats): (doc_id, term, tf, dl, df_t). The
    float Okapi score is bm25_score (pytest-covered against a scalar
    reference); gating the integer sufficient statistics keeps the
    oracle exact."""
    from geotrellis_server_spark.operators.text import bm25_stats

    return bm25_stats(_read_documents(spark, sf_dir), _BM25_TERMS)


def _bm25_stats_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    long AS (
        SELECT doc_id, t.term,
               CAST(len(list_filter(toks, x -> x = t.term)) AS INT) AS tf,
               CAST(len(toks) AS INT) AS dl
        FROM d, (SELECT unnest([{terms}]) AS term) t
        WHERE len(list_filter(toks, x -> x = t.term)) > 0
    )
    SELECT doc_id, term, tf, dl,
           CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df_t
    FROM long
    """


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb global line dedup (operators/text.py:
    line_dedup_keep_first): 10-token lines, each distinct line survives
    only at its first (doc_id, line_no) occurrence corpus-wide, docs
    reassembled from surviving lines."""
    from geotrellis_server_spark.operators.text import line_dedup_keep_first

    return line_dedup_keep_first(
        _read_documents(spark, sf_dir), tokens_per_line=10)


def _line_dedup_oracle() -> str:
    return """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1) AS nw
          FROM t),
    w AS (SELECT doc_id, toks, unnest(range(0, nw)) AS i FROM n),
    lines AS (SELECT doc_id, CAST(i AS INT) AS line_no,
                     array_to_string(toks[(i*10+1):((i+1)*10)], ' ') AS line
              FROM w),
    ranked AS (SELECT doc_id, line_no, line,
                      row_number() OVER (PARTITION BY line
                                         ORDER BY doc_id, line_no) AS rn
               FROM lines),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_total
               FROM lines GROUP BY doc_id)
    SELECT k.doc_id,
           string_agg(k.line, ' ' ORDER BY k.line_no) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_lines_kept,
           t.n_lines_total
    FROM ranked k JOIN totals t ON k.doc_id = t.doc_id
    WHERE k.rn = 1
    GROUP BY k.doc_id, t.n_lines_total
    """


# the C4 gate corpus: 10-token lines decorated with deterministic
# terminal punctuation / boilerplate markers so every rule fires —
# plain scalar SQL, evaluated identically by both engines
_C4_DECORATE = """CASE
  WHEN doc_id % 53 = 0 AND line_no = 0 THEN line || ' lorem ipsum.'
  WHEN doc_id % 59 = 0 AND line_no = 0 THEN line || ' {.'
  WHEN (doc_id * 7 + line_no) % 37 = 0 THEN 'javascript ' || line || '.'
  ELSE line || CASE (doc_id * 31 + line_no * 17) % 6
       WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?'
       WHEN 3 THEN '"' WHEN 4 THEN '' ELSE '.' END
END"""


def _q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (operators/text.py:c4_line_rules — Raffel et
    al. 2020 §2.2) over the decorated 10-token-line corpus: per-doc
    audit row with integer-exact verdicts and an md5 fingerprint of the
    retained cleaned content."""
    from geotrellis_server_spark.operators.text import (c4_line_rules,
                                                        chunk_documents)

    docs = _read_documents(spark, sf_dir)
    lines = (
        chunk_documents(docs, size=10, overlap=0)
        .select("doc_id", F.col("chunk_id").alias("line_no"),
                F.col("chunk").alias("line"))
        .select("doc_id", "line_no", F.expr(_C4_DECORATE).alias("line"))
    )
    return c4_line_rules(lines)


def _c4_filter_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1) AS nw
          FROM t),
    w AS (SELECT doc_id, toks, unnest(range(0, nw)) AS i FROM n),
    raw AS (SELECT doc_id, CAST(i AS INT) AS line_no,
                   array_to_string(toks[(i*10+1):((i+1)*10)], ' ') AS line
            FROM w),
    lines AS (SELECT doc_id, line_no, {_C4_DECORATE} AS line FROM raw),
    verd AS (
      SELECT doc_id, line_no, line,
             len(list_filter(string_split(line, ' '), x -> x <> '')) >= 5
             AND right(rtrim(line), 1) IN ('.', '!', '?', '"')
             AND NOT (lower(line) LIKE '%javascript%'
                      OR lower(line) LIKE '%terms of use%'
                      OR lower(line) LIKE '%privacy policy%'
                      OR lower(line) LIKE '%cookie%') AS keep_line,
             lower(line) LIKE '%lorem ipsum%' AS lorem,
             line LIKE '%{{%' AS brace
      FROM lines)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(coalesce(sum(CASE WHEN keep_line THEN 1 END), 0)
                AS BIGINT) AS n_kept,
           bool_or(lorem) AS has_lorem,
           bool_or(brace) AS has_brace,
           md5(coalesce(string_agg(line, '|' ORDER BY line_no)
                        FILTER (WHERE keep_line), '')) AS clean_md5,
           coalesce(sum(CASE WHEN keep_line THEN 1 END), 0) >= 3
             AND NOT bool_or(lorem) AND NOT bool_or(brace) AS keep
    FROM verd GROUP BY doc_id
    """


def _q_fineweb_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb custom quality rules (operators/text.py:fineweb_rules)
    over the same decorated 10-token-line corpus as the C4 gate —
    integer-cross-multiplied verdicts, exact."""
    from geotrellis_server_spark.operators.text import (chunk_documents,
                                                        fineweb_rules)

    docs = _read_documents(spark, sf_dir)
    lines = (
        chunk_documents(docs, size=10, overlap=0)
        .select("doc_id", F.col("chunk_id").alias("line_no"),
                F.col("chunk").alias("line"))
        .select("doc_id", "line_no", F.expr(_C4_DECORATE).alias("line"))
    )
    return fineweb_rules(lines)


def _fineweb_filter_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1) AS nw
          FROM t),
    w AS (SELECT doc_id, toks, unnest(range(0, nw)) AS i FROM n),
    raw AS (SELECT doc_id, CAST(i AS INT) AS line_no,
                   array_to_string(toks[(i*10+1):((i+1)*10)], ' ') AS line
            FROM w),
    lines AS (SELECT doc_id, line_no, {_C4_DECORATE} AS line FROM raw),
    pl AS (
      SELECT doc_id, line AS l, count(*) AS n,
             CAST(length(line) AS BIGINT) AS len,
             right(rtrim(line), 1) IN ('.', '!', '?', '"') AS punct,
             length(line) < 30 AS short
      FROM lines GROUP BY doc_id, line),
    d AS (
      SELECT doc_id,
             CAST(sum(n) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN punct THEN n ELSE 0 END) AS BIGINT)
               AS n_punct_lines,
             CAST(sum(CASE WHEN short THEN n ELSE 0 END) AS BIGINT)
               AS n_short_lines,
             CAST(sum(CASE WHEN n > 1 THEN n * len ELSE 0 END) AS BIGINT)
               AS dup_chars,
             CAST(sum(n * len) AS BIGINT) AS total_chars
      FROM pl GROUP BY doc_id)
    SELECT *,
           25 * n_punct_lines >= 3 * n_lines AS ok_punct,
           10 * dup_chars <= total_chars AS ok_dup,
           3 * n_short_lines <= 2 * n_lines AS ok_short,
           (25 * n_punct_lines >= 3 * n_lines)
             AND (10 * dup_chars <= total_chars)
             AND (3 * n_short_lines <= 2 * n_lines) AS keep
    FROM d
    """


def _q_repeated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span removal (operators/text.py:
    repeated_span_dedup): every 5-token window occurring >=2 times
    corpus-wide has ALL its occurrences' token positions excised; docs
    reassembled from surviving tokens (fully-scrubbed docs kept with
    empty text)."""
    from geotrellis_server_spark.operators.text import repeated_span_dedup

    return repeated_span_dedup(_read_documents(spark, sf_dir), k=5)


def _repeated_span_oracle() -> str:
    return """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS MATERIALIZED (
        SELECT doc_id, CAST(i AS INT) AS pos,
               md5(array_to_string(toks[(i + 1):(i + 5)], ' ')) AS g
        FROM t, unnest(range(0, greatest(len(toks) - 5 + 1, 0))) AS u(i)),
    rep AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
    m AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS cp
          FROM (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM rep)),
               unnest(range(0, 5)) AS v(j)),
    cov AS (SELECT doc_id, list(cp) AS cov FROM m GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(array_to_string(
               list_filter(toks, (x, i) -> cov.cov IS NULL OR
                           NOT list_contains(cov.cov, i - 1)), ' '
           ), '') AS clean_text,
           CAST(len(toks) - coalesce(len(cov.cov), 0) AS BIGINT
           ) AS n_tokens_kept,
           CAST(len(toks) AS BIGINT) AS n_tokens_total
    FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
    """


def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/text.py:dsir_importance): hashed
    unigram+bigram importance log-weights of every raw doc against the
    deterministic target subset doc_id % 10 = 0, floor-quantized to
    2^-20 so the per-doc sum is exact integer arithmetic."""
    from geotrellis_server_spark.operators.text import dsir_importance

    docs = _read_documents(spark, sf_dir)
    return dsir_importance(docs, docs.where("doc_id % 10 = 0"),
                           n_buckets=512)


def _dsir_importance_oracle() -> str:
    hexmap = "'0123456789abcdef'"
    frac = (f"list_sum([ (instr({hexmap}, md5(g)[i + 1:i + 1]) - 1) "
            f"* 16.0 ** (5 - i) for i in range(0, 6)])")
    B = 512
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents
               WHERE len(string_split(text, ' ')) >= 1),
    g AS MATERIALIZED (
        SELECT doc_id, CAST({frac} AS BIGINT) % {B} AS b
        FROM (SELECT doc_id,
                     unnest(toks || [toks[i + 1] || ' ' || toks[i + 2]
                                     for i in range(0, greatest(len(toks) - 1,
                                                                0))]) AS g
              FROM t)),
    tgt AS (SELECT b, count(*) AS ct FROM g WHERE doc_id % 10 = 0 GROUP BY b),
    raw AS (SELECT b, count(*) AS cr FROM g GROUP BY b),
    tot AS (SELECT (SELECT sum(cr) FROM raw) AS nr,
                   (SELECT sum(ct) FROM tgt) AS nt),
    ratio AS (
        SELECT raw.b,
               CAST(floor((ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)) -
                           ln(CAST(nt + {B} AS DOUBLE)) -
                           ln(CAST(cr + 1 AS DOUBLE)) +
                           ln(CAST(nr + {B} AS DOUBLE))) * 1048576.0
                    ) AS BIGINT) AS q
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot),
    agg AS (SELECT g.doc_id, CAST(sum(q) AS BIGINT) AS logw_q,
                   CAST(count(*) AS BIGINT) AS n_feats
            FROM g JOIN ratio ON g.b = ratio.b GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(agg.logw_q, 0) AS BIGINT) AS logw_q,
           CAST(coalesce(agg.n_feats, 0) AS BIGINT) AS n_feats
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


def _q_bloom_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter register table (operators/sketch.py:bloom_build) over
    the BUILDING customers' keys: 4096 bits, 4 md5 hashes, 32 bits per
    BIGINT word — a pure function of the key set, bit-for-bit gated."""
    from geotrellis_server_spark.operators.sketch import bloom_build

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return bloom_build(cust.where("c_mktsegment = 'BUILDING'"),
                       "c_custkey", m_bits=4096, k=4)


def _q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side Bloom join pruning (operators/sketch.py:bloom_probe):
    orders whose o_custkey MIGHT be a BUILDING customer under the 4096-bit
    filter — scan→filter plan, zero shuffle, zero join; the deterministic
    false-positive set is part of the gated contract."""
    from geotrellis_server_spark.operators.sketch import (bloom_build,
                                                          bloom_probe)

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    bloom = bloom_build(cust.where("c_mktsegment = 'BUILDING'"),
                        "c_custkey", m_bits=4096, k=4)
    words = {int(r["word"]): int(r["bits"]) for r in bloom.collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (bloom_probe(orders, "o_custkey", words, m_bits=4096, k=4)
            .select("o_orderkey"))


def _bloom_pos_duck(col: str, j: int, m_bits: int) -> str:
    hexmap = "'0123456789abcdef'"
    h = f"md5(CAST({col} AS VARCHAR) || '#{j}')"
    frac = (f"list_sum([ (instr({hexmap}, {h}[i + 1:i + 1]) - 1) "
            f"* 16.0 ** (12 - i) for i in range(0, 13)])")
    return f"(CAST({frac} AS BIGINT) % {m_bits})"


def _bloom_registers_duck(m_bits: int = 4096, k: int = 4) -> str:
    legs = " UNION ALL ".join(
        f"SELECT {_bloom_pos_duck('c_custkey', j, m_bits)} AS pos "
        f"FROM customer WHERE c_mktsegment = 'BUILDING' "
        f"AND c_custkey IS NOT NULL"
        for j in range(1, k + 1))
    return (f"SELECT CAST(pos // 32 AS INT) AS word, "
            f"CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) "
            f"AS BIGINT) AS bits FROM ({legs}) GROUP BY 1")


def _bloom_registers_oracle() -> str:
    return _bloom_registers_duck()


def _bloom_prefilter_oracle(m_bits: int = 4096, k: int = 4) -> str:
    # DuckDB cannot correlate an outer column through a list
    # comprehension inside EXISTS — precompute the k positions as plain
    # columns of a probe CTE first
    pos_cols = ", ".join(
        f"{_bloom_pos_duck('o_custkey', j, m_bits)} AS p{j}"
        for j in range(1, k + 1))
    checks = " AND ".join(
        f"EXISTS (SELECT 1 FROM bloom b WHERE b.word = "
        f"CAST(p{j} // 32 AS INT) AND (b.bits & "
        f"(CAST(1 AS BIGINT) << CAST(p{j} % 32 AS INT))) = "
        f"(CAST(1 AS BIGINT) << CAST(p{j} % 32 AS INT)))"
        for j in range(1, k + 1))
    return (f"WITH bloom AS MATERIALIZED ({_bloom_registers_duck(m_bits, k)}),"
            f" probe AS MATERIALIZED (SELECT o_orderkey, {pos_cols} "
            f"FROM orders WHERE o_custkey IS NOT NULL) "
            f"SELECT o_orderkey FROM probe WHERE {checks}")


def _q_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (operators/text.py:
    ngram_lm_logprob): model trained on the deterministic 80% subset
    doc_id % 5 != 0, every doc scored by total bigram log-probability,
    per-bigram log-probs floor-quantized to 2^-20 then exactly summed."""
    from geotrellis_server_spark.operators.text import ngram_lm_logprob

    docs = _read_documents(spark, sf_dir)
    return ngram_lm_logprob(docs, docs.where("doc_id % 5 != 0"))


def _lm_logprob_oracle() -> str:
    return """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    bg AS MATERIALIZED (
        SELECT doc_id, toks[i + 1] AS w1,
               toks[i + 1] || ' ' || toks[i + 2] AS bg
        FROM t, unnest(range(0, greatest(len(toks) - 1, 0))) AS u(i)),
    c1 AS (SELECT w1, count(*) AS c1
           FROM (SELECT doc_id, unnest(toks) AS w1 FROM t)
           WHERE doc_id % 5 != 0 GROUP BY w1),
    c2 AS (SELECT bg, count(*) AS c2 FROM bg
           WHERE doc_id % 5 != 0 GROUP BY bg),
    v AS (SELECT count(*) AS v FROM c1),
    s AS (SELECT bg.doc_id,
                 CAST(floor((ln(CAST(coalesce(c2, 0) + 1 AS DOUBLE)) -
                             ln(CAST(coalesce(c1, 0) + v AS DOUBLE))) *
                            1048576.0) AS BIGINT) AS q
          FROM bg LEFT JOIN c2 ON bg.bg = c2.bg
                  LEFT JOIN c1 ON bg.w1 = c1.w1, v),
    agg AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS logprob_q,
                   CAST(count(*) AS BIGINT) AS n_bigrams
            FROM s GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(agg.logprob_q, 0) AS BIGINT) AS logprob_q,
           CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


def _q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style KMV set algebra (operators/sketch.py:
    kmv_set_ops): distinct-token union/intersection/Jaccard estimates
    between the even-doc and odd-doc token vocabularies, k=256 — every
    output is exact IEEE arithmetic over md5 hash fractions."""
    from geotrellis_server_spark.operators.sketch import kmv_set_ops

    docs = _read_documents(spark, sf_dir)
    toks = docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("tok"))
    return kmv_set_ops(toks.where("doc_id % 2 = 0"), "tok",
                       toks.where("doc_id % 2 = 1"), "tok", k=256)


def _kmv_set_ops_oracle(k: int = 256) -> str:
    hexmap = "'0123456789abcdef'"
    frac = (f"(list_sum([ (instr({hexmap}, h[i + 1:i + 1]) - 1) "
            f"* 16.0 ** (12 - i) for i in range(0, 13)]) "
            f"/ {float(16 ** 13)!r})")
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    sa AS (SELECT DISTINCT md5(CAST(tok AS VARCHAR)) AS h FROM toks
           WHERE doc_id % 2 = 0 AND tok IS NOT NULL
           ORDER BY h LIMIT {k}),
    sb AS (SELECT DISTINCT md5(CAST(tok AS VARCHAR)) AS h FROM toks
           WHERE doc_id % 2 = 1 AND tok IS NOT NULL
           ORDER BY h LIMIT {k}),
    both_h AS MATERIALIZED (
        SELECT coalesce(sa.h, sb.h) AS h,
               CASE WHEN sa.h IS NULL THEN 0 ELSE 1 END AS in_a,
               CASE WHEN sb.h IS NULL THEN 0 ELSE 1 END AS in_b
        FROM sa FULL OUTER JOIN sb ON sa.h = sb.h),
    bf AS MATERIALIZED (SELECT *, {frac} AS f FROM both_h),
    th AS (SELECT least(
        CASE WHEN (SELECT sum(in_a) FROM bf) >= {k}
             THEN (SELECT max(CASE WHEN in_a = 1 THEN f ELSE 0 END) FROM bf)
             ELSE 1.0 END,
        CASE WHEN (SELECT sum(in_b) FROM bf) >= {k}
             THEN (SELECT max(CASE WHEN in_b = 1 THEN f ELSE 0 END) FROM bf)
             ELSE 1.0 END) AS theta)
    SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
           CAST(sum(in_b) AS BIGINT) AS n_b,
           CAST(count(*) FILTER (f < theta) AS DOUBLE) / any_value(theta)
               AS union_est,
           CAST(count(*) FILTER (f < theta AND in_a = 1 AND in_b = 1)
                AS DOUBLE) / any_value(theta) AS intersect_est,
           CAST(count(*) FILTER (f < theta AND in_a = 1 AND in_b = 1)
                AS DOUBLE) /
           CAST(count(*) FILTER (f < theta) AS DOUBLE) AS jaccard_est
    FROM bf, th
    """


def _q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group deterministic reservoir (operators/sketch.py:
    hash_sample_per_group): the 10 docs with smallest md5(doc_id) from
    EVERY source — balanced subsetting immune to source skew."""
    from geotrellis_server_spark.operators.sketch import \
        hash_sample_per_group

    docs = _read_documents(spark, sf_dir)
    return hash_sample_per_group(docs, ["source"], ["doc_id"], k=10) \
        .select("doc_id", "source")


def _sample_per_group_oracle() -> str:
    return """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR)))
               ) AS rn
        FROM documents) WHERE rn <= 10
    """


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank (operators/graph.py:pagerank), 5
    rounds at damping 0.85 over the distinct customer→supplier purchase
    graph (orders ⋈ lineitem; supplier ids offset by 10^6 to keep the
    node namespace disjoint). Every rank is a BIGINT count of 2^-20
    quanta — integer mass passing, so the iteration is exactly
    reproducible in any engine."""
    from geotrellis_server_spark.operators.graph import pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + 1000000).alias("dst"))
        .distinct()
    )
    return pagerank(edges, n_iter=5)


def _pagerank_oracle(n_iter: int = 5) -> str:
    scale, tel = 1 << 20, (1 << 20) * 15 // 100
    parts = ["""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nodes AS MATERIALIZED (
        SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS MATERIALIZED (
        SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
    pr0 AS MATERIALIZED (SELECT node, CAST(%d AS BIGINT) AS pr_q
                         FROM nodes)""" % scale]
    for i in range(1, n_iter + 1):
        parts.append("""
    pr%d AS MATERIALIZED (
        SELECT n.node,
               CAST(%d + 85 * coalesce(s.s, 0) // 100 AS BIGINT) AS pr_q
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr_q // d.deg) AS s
            FROM pr%d p JOIN deg d ON p.node = d.node
                        JOIN e ON e.src = p.node
            GROUP BY e.dst) s ON n.node = s.node)""" % (i, tel, i - 1))
    return (",".join(parts)
            + f"\n    SELECT node, pr_q AS rank_q FROM pr{n_iter}")


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.py:winnow_fingerprints,
    Schleimer et al. 2003 / MOSS): k=4-token grams, w=4 windows,
    rightmost-minimum selection — row-local, 52-bit md5-prefix hashes
    identical in both engines."""
    from geotrellis_server_spark.operators.text import winnow_fingerprints

    docs = _read_documents(spark, sf_dir)
    return winnow_fingerprints(docs, k=4, w=4)


def _winnow_oracle(k: int = 4, w: int = 4) -> str:
    hexmap = "'0123456789abcdef'"
    h13 = (f"CAST(list_sum([CAST(instr({hexmap}, h[p:p]) - 1 AS DOUBLE)"
           f" * 16.0 ** (13 - p) for p in range(1, 14)]) AS BIGINT)")
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 [{h13.replace("h[", "md5(array_to_string(toks[i:i + "
                               + str(k - 1) + "], ' '))[")}
                  for i in range(1, len(toks) - {k} + 2)] AS hs
          FROM t WHERE len(toks) >= {k}),
    sel AS (SELECT doc_id,
                   unnest([struct_pack(
                       pos := j + least({w}, len(hs))
                              - list_position(
                                    list_reverse(hs[j : j + least({w},
                                        len(hs)) - 1]),
                                    list_min(hs[j : j + least({w},
                                        len(hs)) - 1])),
                       fp := list_min(hs[j : j + least({w},
                                        len(hs)) - 1]))
                           for j in range(1, greatest(len(hs) - {w} + 1,
                                                      1) + 1)]) AS s
            FROM g)
    SELECT DISTINCT doc_id, CAST(s.pos AS INT) AS pos, s.fp AS fp
    FROM sel"""


# deterministic messy-URL synthesis for the url-dedup gate (the test
# corpus text carries no URLs): four surface variants of the same
# logical URL — www. prefix, host case, default ports, trailing slash,
# unsorted query params — collapse to one canonical form; ~210 groups
# over 500 docs. Spark and DuckDB build the IDENTICAL string.
_URL_SCHEMES = ["'http://www.SITE'", "'http://site'",
                "'https://SITE'", "'https://www.site'"]
_URL_PORTS = ["':80'", "''", "':443'", "''"]


def _synth_url_text(cast_str: str) -> str:
    def arr(items, idx):
        return f"(ARRAY[{', '.join(items)}])[{idx}]" if cast_str == \
            "VARCHAR" else \
            f"element_at(array({', '.join(items)}), CAST({idx} AS INT))"

    i4 = "(doc_id % 4) + 1" if cast_str == "VARCHAR" else \
        "pmod(doc_id, 4) + 1"
    c = lambda e: f"CAST({e} AS {cast_str})"
    mod = (lambda n: f"doc_id % {n}") if cast_str == "VARCHAR" else \
        (lambda n: f"pmod(doc_id, {n})")
    return ("concat('see ', " + arr(_URL_SCHEMES, i4) + ", "
            + c(mod(7)) + ", '.example.com', "
            + arr(_URL_PORTS, i4) + ", '/p/', " + c(mod(5))
            + ", CASE WHEN " + mod(2) + " = 0 THEN '/' ELSE '' END, "
            + "'?b=', " + c(mod(3)) + ", '&a=', " + c(mod(3))
            + ", ', done')")


def _q_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe sufficient statistics (operators/ml.py:gram_stats):
    exact quantized Gram matrix / moments / column sums / scalars for
    ridge-fitting label ~ embedding, one pass, engine-exact BIGINTs."""
    from geotrellis_server_spark.operators.ml import gram_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return gram_stats(emb)


def _probe_stats_oracle(dim: int = 64, scale: int = 1 << 10) -> str:
    qx = (f"list_transform(embedding, x -> CAST(floor(CAST(x AS "
          f"DOUBLE) * {float(scale)!r}) AS BIGINT))")
    return f"""
    WITH e AS MATERIALIZED (
        SELECT {qx} AS q, CAST(label AS BIGINT) AS y FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL)
    SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
           CAST(sum(q[a.i + 1] * q[b.i + 1]) AS BIGINT) AS v
    FROM e, range(0, {dim}) a(i), range(0, {dim}) b(i)
    WHERE a.i <= b.i GROUP BY 1, 2
    UNION ALL
    SELECT CAST(t.i AS INT), -1, CAST(sum(q[t.i + 1] * y) AS BIGINT)
    FROM e, range(0, {dim}) t(i) GROUP BY 1
    UNION ALL
    SELECT CAST(t.i AS INT), -3, CAST(sum(q[t.i + 1]) AS BIGINT)
    FROM e, range(0, {dim}) t(i) GROUP BY 1
    UNION ALL
    SELECT -1, -1, count(*) FROM e
    UNION ALL
    SELECT -1, -2, CAST(sum(y) AS BIGINT) FROM e"""


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup groups (operators/text.py:url_dedup_groups):
    extract from text (tail punctuation stripped) -> canonicalize
    (lowercase host, strip fragment / default port / www. / trailing
    slash, sort query params) -> group; the crawl pipeline's
    one-fetch-per-canonical-URL pass, over deterministically
    synthesized messy URLs (4 surface variants per logical URL)."""
    from geotrellis_server_spark.operators.text import url_dedup_groups

    docs = _read_documents(spark, sf_dir).select(
        "doc_id", F.expr(_synth_url_text("STRING")).alias("text"))
    return url_dedup_groups(docs)


def _url_dedup_oracle() -> str:
    from geotrellis_server_spark.operators.text import canonical_url_expr

    canon = canonical_url_expr("url", dialect="duckdb")
    return f"""
    WITH synth AS (
        SELECT doc_id, {_synth_url_text("VARCHAR")} AS text
        FROM documents),
    raw AS (
        SELECT doc_id,
               regexp_replace(u, '[.,;:!?)\\]''"]+$', '') AS url
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(text,
                            'https?://[^\\s]+', 0)) AS u
              FROM synth)),
    c AS (SELECT doc_id, {canon} AS canon_url FROM raw)
    SELECT canon_url, count(*) AS n_refs, min(doc_id) AS survivor_id
    FROM c GROUP BY canon_url"""


def _q_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over winnowing fingerprints (operators/
    text.py:winnow_containment_pairs): the smaller doc shares >= 1/4 of
    its selected fingerprints — the MOSS report step, asymmetric so a
    short doc quoted inside a long one is caught."""
    from geotrellis_server_spark.operators.text import (
        winnow_containment_pairs)

    docs = _read_documents(spark, sf_dir)
    return winnow_containment_pairs(docs, theta_num=1, theta_den=4)


def _winnow_containment_oracle(theta_num: int = 1,
                               theta_den: int = 4) -> str:
    return f"""
    WITH fp0 AS MATERIALIZED ({_winnow_oracle()}),
    fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM fp0),
    counts AS MATERIALIZED (
        SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT s.id_a, s.id_b, s.shared,
           CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b
    FROM shared s
    JOIN counts ca ON ca.doc_id = s.id_a
    JOIN counts cb ON cb.doc_id = s.id_b
    WHERE s.shared * {theta_den} >= {theta_num} * least(ca.n, cb.n)"""


def _q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin→destination trip matrix on the res-4 cell grid
    (operators/trajectory.py:od_flows): per-user time-ordered event
    positions (deterministic sqlgen placement by event_id), consecutive
    pairs counted as trips — integer cells, total (ts, event_id)
    ordering."""
    from geotrellis_server_spark.operators.trajectory import od_flows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.expr(sqlgen.lon_sql("event_id")).alias("lon"),
        F.expr(sqlgen.lat_sql("event_id")).alias("lat"))
    return od_flows(ev, res=4)


def _od_flows_oracle(res: int = 4) -> str:
    cell = sqlgen.cell_key_sql(sqlgen.lon_sql("event_id"),
                               sqlgen.lat_sql("event_id"), res)
    return f"""
    WITH p AS (SELECT user_id, ts, event_id, {cell} AS dst_cell
               FROM events),
    l AS (SELECT dst_cell,
                 lag(dst_cell) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS src_cell
          FROM p)
    SELECT src_cell, dst_cell, count(*) AS n_trips
    FROM l WHERE src_cell IS NOT NULL GROUP BY 1, 2"""


def _q_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster hotspot detection (Getis-Ord-style): the z2 focal-fsum
    surface's pixels whose neighborhood sum deviates > 3 sigma from the
    global pixel population — composed from the gated focal machinery
    (halo join + fused kernel) and the gated exact-integer z-test, so
    the flags are engine-exact end to end."""
    from geotrellis_server_spark.operators.sketch import value_outliers

    f = _q_focal_fsum(spark, sf_dir)  # (tile_x, tile_y, idx, value)
    return value_outliers(f, "value", [], sigmas=3, scale=1).select(
        "tile_x", "tile_y", "idx", "x_q")


def _hotspots_oracle(sigmas: int = 3) -> str:
    s2 = sigmas * sigmas
    return f"""
    WITH f AS MATERIALIZED ({_focal_fsum_oracle()}),
    q AS (SELECT tile_x, tile_y, idx,
                 CAST(floor(CAST(value AS DOUBLE)) AS BIGINT) AS x
          FROM f WHERE value IS NOT NULL),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s,
                  CAST(sum(x * x) AS BIGINT) AS ss FROM q)
    SELECT q.tile_x, q.tile_y, q.idx, q.x AS x_q
    FROM q CROSS JOIN st
    WHERE (st.n * q.x - st.s) * (st.n * q.x - st.s) >
          {s2} * (st.n * st.ss - st.s * st.s)"""


def _q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang vs the marker-lexicon
    prediction (operators/text.py:lang_id) — the eval artifact for the
    classifier family; one equi-join + map-side-combined count."""
    from geotrellis_server_spark.operators.text import lang_id

    docs = _read_documents(spark, sf_dir)
    pred = lang_id(docs).select("doc_id", "lang_pred")
    return (docs.select("doc_id", "lang").join(pred, "doc_id")
            .groupBy("lang", "lang_pred")
            .agg(F.count("*").alias("n_docs")))


def _langid_confusion_oracle() -> str:
    # mirror of the gated text_lang_id oracle's scoring, aggregated
    markers = {"en": ("the", "and", "of"), "es": ("el", "la", "de"),
               "de": ("der", "die", "und"), "fr": ("le", "la", "et"),
               "zh": ("de5",)}
    score = ", ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({})))"
        " AS s_{}".format(", ".join(f"'{m}'" for m in ms), lang)
        for lang, ms in markers.items())
    langs = list(markers)
    best = "greatest({})".format(", ".join(f"s_{l}" for l in langs))
    pred = "CASE WHEN {} = 0 THEN 'und' {} END".format(
        best, " ".join(f"WHEN s_{l} = {best} THEN '{l}'" for l in langs))
    return f"""
    WITH sc AS (SELECT doc_id, lang, {score} FROM documents),
    p AS (SELECT doc_id, lang, {pred} AS lang_pred FROM sc)
    SELECT lang, lang_pred, count(*) AS n_docs
    FROM p GROUP BY lang, lang_pred"""


def _q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics in one pass family (the corpus-release
    profiling artifact): per-language and per-source doc/token counts,
    exact-duplicate count, and corpus totals as (metric, key, value)
    rows — the numbers every dataset card publishes."""
    docs = _read_documents(spark, sf_dir)
    toks = docs.select("doc_id", "lang", "source",
                       F.expr("size(split(text, ' '))").alias("nt"))
    # ONE corpus pass for all slice metrics: GROUPING SETS computes the
    # per-lang, per-source and corpus-total aggregates in a single
    # map-side-combined aggregation (7 separate branch scans would read
    # the lake 7 times at 100 TB); the dup count is the one extra scan
    # (it needs the text md5 projection)
    g = (toks.groupingSets([["lang"], ["source"], []], "lang", "source")
         .agg(F.count("*").alias("n"), F.sum("nt").alias("t"),
              F.grouping_id().alias("gid")))
    # grouping_id disambiguates set membership even if a data key were
    # NULL: bit set = column aggregated away
    per_lang = g.where("gid = 1")   # lang kept, source rolled up
    per_src = g.where("gid = 2")    # source kept, lang rolled up
    total = g.where("gid = 3")
    dups = docs.groupBy(F.md5("text")).agg(
        (F.count("*") - 1).alias("extra"))
    rows = [
        per_lang.select(F.lit("docs_per_lang").alias("metric"),
                        F.col("lang").alias("key"),
                        F.col("n").cast("long").alias("value")),
        per_lang.select(F.lit("tokens_per_lang"), "lang",
                        F.col("t").cast("long")),
        per_src.select(F.lit("docs_per_source"), "source",
                       F.col("n").cast("long")),
        per_src.select(F.lit("tokens_per_source"), "source",
                       F.col("t").cast("long")),
        dups.agg(F.sum("extra").cast("long").alias("v")).select(
            F.lit("exact_dup_docs"), F.lit("corpus"), F.col("v")),
        total.select(F.lit("n_docs"), F.lit("corpus"),
                     F.col("n").cast("long")),
        total.select(F.lit("n_tokens"), F.lit("corpus"),
                     F.col("t").cast("long")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r.toDF("metric", "key", "value"))
    return out


def _dataset_card_oracle() -> str:
    return """
    WITH toks AS (SELECT doc_id, lang, source,
                         len(string_split(text, ' ')) AS nt
                  FROM documents)
    SELECT 'docs_per_lang' AS metric, lang AS key,
           CAST(count(*) AS BIGINT) AS value FROM toks GROUP BY lang
    UNION ALL
    SELECT 'tokens_per_lang', lang, CAST(sum(nt) AS BIGINT)
    FROM toks GROUP BY lang
    UNION ALL
    SELECT 'docs_per_source', source, CAST(count(*) AS BIGINT)
    FROM toks GROUP BY source
    UNION ALL
    SELECT 'tokens_per_source', source, CAST(sum(nt) AS BIGINT)
    FROM toks GROUP BY source
    UNION ALL
    SELECT 'exact_dup_docs', 'corpus',
           CAST(sum(c - 1) AS BIGINT)
    FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text))
    UNION ALL
    SELECT 'n_docs', 'corpus', CAST(count(*) AS BIGINT) FROM toks
    UNION ALL
    SELECT 'n_tokens', 'corpus', CAST(sum(nt) AS BIGINT) FROM toks"""


def _q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-sigma anomaly flags per event_type (operators/sketch.py:
    value_outliers): the z-score test cross-multiplied into pure BIGINT
    arithmetic over cent-quantized values — no float mean/stddev
    anywhere."""
    from geotrellis_server_spark.operators.sketch import value_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value")
    return value_outliers(ev, "value", ["event_type"]).select(
        "event_id", "event_type", "x_q")


def _value_outliers_oracle(sigmas: int = 3, scale: int = 100) -> str:
    s2 = sigmas * sigmas
    return f"""
    WITH q AS (SELECT event_id, event_type,
                      CAST(floor(CAST(value AS DOUBLE) * {float(scale)!r})
                           AS BIGINT) AS x
               FROM events WHERE value IS NOT NULL),
    st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s,
                  CAST(sum(x * x) AS BIGINT) AS ss
           FROM q GROUP BY event_type)
    SELECT q.event_id, q.event_type, q.x AS x_q
    FROM q JOIN st ON q.event_type = st.event_type
    WHERE (st.n * q.x - st.s) * (st.n * q.x - st.s) >
          {s2} * (st.n * st.ss - st.s * st.s)"""


def _q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type Markov transition matrix (operators/behavior.py:
    transition_matrix): per-user time-ordered consecutive event-type
    pairs, counted — the user-journey model."""
    from geotrellis_server_spark.operators.behavior import (
        transition_matrix)

    return transition_matrix(
        spark.read.parquet(f"{sf_dir}/events.parquet"))


def _transitions_oracle() -> str:
    return """
    WITH l AS (SELECT event_type AS to_type,
                      lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS from_type
               FROM events)
    SELECT from_type, to_type, count(*) AS n_transitions
    FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2"""


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (operators/graph.py:kcore, k=3, 6
    synchronous rounds) over the undirected purchase graph — survivors
    with residual degree, round count part of the definition so the
    unrolled oracle replays it exactly."""
    from geotrellis_server_spark.operators.graph import kcore

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + 1000000).alias("dst"))
        .distinct())
    return kcore(edges, k=3, n_rounds=6)


def _kcore_oracle(k: int = 3, n_rounds: int = 6) -> str:
    parts = ["""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    l0 AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM e0
            UNION ALL SELECT dst, src FROM e0))"""]
    for i in range(1, n_rounds + 1):
        parts.append(f"""
    k{i} AS MATERIALIZED (
        SELECT a FROM l{i - 1} GROUP BY a HAVING count(*) >= {k}),
    l{i} AS MATERIALIZED (
        SELECT l.a, l.b FROM l{i - 1} l
        JOIN k{i} ka ON l.a = ka.a
        JOIN k{i} kb ON l.b = kb.a)""")
    return (",".join(parts)
            + f"\n    SELECT a AS node, CAST(count(*) AS BIGINT) AS "
              f"degree FROM l{n_rounds} GROUP BY a")


def _q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group nearest-rank quantiles (operators/sketch.py:
    quantiles_by_group): p50/p90/p99 of event value per event_type —
    always actual data values, engine-exact."""
    from geotrellis_server_spark.operators.sketch import (
        quantiles_by_group)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return quantiles_by_group(ev, "value", ["event_type"],
                              [0.5, 0.9, 0.99])


def _group_quantiles_oracle() -> str:
    return """
    WITH v AS (SELECT event_type, value FROM events
               WHERE value IS NOT NULL),
    ranked AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY value) AS rn
               FROM v),
    n AS (SELECT event_type, count(*) AS n FROM v GROUP BY event_type),
    t AS (SELECT n.event_type, p.p,
                 CAST(ceil(p.p * n.n) AS INT) AS rn
          FROM n CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p) p)
    SELECT t.event_type, CAST(t.p AS DOUBLE) AS p, r.value
    FROM t JOIN ranked r
      ON r.event_type = t.event_type AND r.rn = t.rn"""


def _q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (operators/text.py:pmi_pairs, Church & Hanks
    1990): window-5 unordered co-occurrence pairs with count >= 5,
    quantized-ln PMI — exact BIGINT scores."""
    from geotrellis_server_spark.operators.text import pmi_pairs

    return pmi_pairs(_read_documents(spark, sf_dir), window=5,
                     min_count=5)


def _pmi_pairs_oracle(window: int = 5, min_count: int = 5) -> str:
    w = window - 1
    return f"""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    p1 AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t),
    ps AS MATERIALIZED (
        SELECT CASE WHEN toks[i] <= toks[j]
                    THEN toks[i] || ' ' || toks[j]
                    ELSE toks[j] || ' ' || toks[i] END AS pair
        FROM (SELECT toks, i,
                     unnest(range(i + 1,
                                  least(i + {w}, len(toks)) + 1)) AS j
              FROM p1)),
    c_xy AS (SELECT pair, count(*) AS c_xy FROM ps GROUP BY pair),
    c_w AS (SELECT w, count(*) AS c_w FROM (
            SELECT unnest(string_split(pair, ' ')) AS w FROM ps)
            GROUP BY w),
    n AS (SELECT count(*) AS n FROM ps)
    SELECT k.pair, k.c_xy,
           CAST(floor(ln(CAST(n.n AS DOUBLE) * k.c_xy /
                (CAST(a.c_w AS DOUBLE) * b.c_w)) * 1048576.0)
                AS BIGINT) AS pmi_q
    FROM (SELECT * FROM c_xy WHERE c_xy >= {min_count}) k
    JOIN c_w a ON a.w = string_split(k.pair, ' ')[1]
    JOIN c_w b ON b.w = string_split(k.pair, ' ')[2]
    CROSS JOIN n"""


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase (operators/
    behavior.py:funnel): per-stage conditional-min aggregates keyed by
    user, inclusive-tie ordering, monotone user counts."""
    from geotrellis_server_spark.operators.behavior import funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(ev, ["view", "click", "purchase"])


def _funnel_oracle() -> str:
    return """
    WITH e AS (SELECT user_id AS u, ts AS t, event_type AS et
               FROM events),
    s1 AS (SELECT u, min(t) AS tk FROM e WHERE et = 'view' GROUP BY u),
    s2 AS (SELECT e.u, min(e.t) AS tk FROM e JOIN s1 ON e.u = s1.u
           WHERE e.et = 'click' AND e.t >= s1.tk GROUP BY e.u),
    s3 AS (SELECT e.u, min(e.t) AS tk FROM e JOIN s2 ON e.u = s2.u
           WHERE e.et = 'purchase' AND e.t >= s2.tk GROUP BY e.u)
    SELECT 1 AS stage_idx, 'view' AS stage,
           (SELECT count(*) FROM s1) AS n_users
    UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)"""


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (operators/behavior.py:
    retention_cohorts): users bucketed by first-activity week, counted
    per later active week — exact integer periods."""
    from geotrellis_server_spark.operators.behavior import (
        retention_cohorts)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000")
        .alias("s"))
    return retention_cohorts(ev)


def _retention_oracle(period: int = 7 * 24 * 3600) -> str:
    return f"""
    WITH ev AS (SELECT user_id AS u,
                       CAST(floor(floor(epoch(ts)) / {period})
                            AS BIGINT) AS per
                FROM events),
    first AS (SELECT u, min(per) AS cohort FROM ev GROUP BY u),
    active AS (SELECT DISTINCT u, per FROM ev)
    SELECT f.cohort, a.per - f.cohort AS period_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active a JOIN first f ON a.u = f.u
    GROUP BY f.cohort, a.per - f.cohort"""


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/dedup.py:snapshot_diff): old =
    docs minus every 10th id, new = docs minus ids = 3 mod 7 with every
    5th text amended — all four statuses exercised, content compared by
    md5 only."""
    from geotrellis_server_spark.operators.dedup import snapshot_diff

    docs = _read_documents(spark, sf_dir)
    old = docs.where("doc_id % 10 != 0")
    new = docs.where("doc_id % 7 != 3").select(
        "doc_id", F.expr("CASE WHEN doc_id % 5 = 0 THEN "
                         "concat(text, ' v2') ELSE text END")
        .alias("text"))
    return snapshot_diff(old, new)


def _snapshot_diff_oracle() -> str:
    return """
    WITH o AS (SELECT doc_id, md5(coalesce(text, '')) AS ho
               FROM documents WHERE doc_id % 10 != 0),
    n AS (SELECT doc_id,
                 md5(coalesce(CASE WHEN doc_id % 5 = 0
                     THEN text || ' v2' ELSE text END, '')) AS hn
          FROM documents WHERE doc_id % 7 != 3)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN ho IS NULL THEN 'added'
                WHEN hn IS NULL THEN 'removed'
                WHEN ho = hn THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""


def _q_zone_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence visit analytics — the geo x temporal composite: events
    placed on the map (deterministic sqlgen positions), broadcast-PIP
    joined to the zone grid, gap-sessionized (1h) per (user, zone),
    aggregated to (user_id, zone_id, n_visits, n_events). Every stage
    is an already-gated operator (pip_join_rect + sessionize)."""
    from geotrellis_server_spark.operators.asof import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000")
        .alias("s"),
        F.expr(sqlgen.lon_sql("event_id")).alias("lon"),
        F.expr(sqlgen.lat_sql("event_id")).alias("lat"))
    inz = (spatial_join.pip_join_rect(ev, synth.zone_grid(spark))
           .select("event_id", "user_id", "s", "zone_id"))
    sess = sessionize(inz, ["user_id", "zone_id"], "s", 3600.0)
    return (sess.groupBy("user_id", "zone_id")
            .agg(F.countDistinct("session_id").cast("long")
                 .alias("n_visits"),
                 F.count("*").cast("long").alias("n_events")))


def _zone_visits_oracle() -> str:
    zone = sqlgen.zone_id_for_point_sql(sqlgen.lon_sql("event_id"),
                                        sqlgen.lat_sql("event_id"))
    return f"""
    WITH inz AS MATERIALIZED (
        SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               {zone} AS zone_id
        FROM events),
    flagged AS (
        SELECT user_id, zone_id, s,
               CASE WHEN s - lag(s) OVER w IS NULL
                         OR s - lag(s) OVER w <= 3600 THEN 0
                    ELSE 1 END AS boundary
        FROM inz
        WINDOW w AS (PARTITION BY user_id, zone_id ORDER BY s)),
    sess AS (
        SELECT user_id, zone_id,
               sum(boundary) OVER (PARTITION BY user_id, zone_id
                                   ORDER BY s ROWS UNBOUNDED PRECEDING)
               AS session_id
        FROM flagged)
    SELECT user_id, zone_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_visits,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, zone_id"""


def _q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward-fill (operators/asof.py:
    resample_ffill): hourly slots per user between the first and last
    event, each carrying the latest observation at-or-before it (the
    engine's as-of join underneath); oracle = DuckDB native ASOF."""
    from geotrellis_server_spark.operators.asof import resample_ffill

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000")
        .alias("s"),
        "value")
    return resample_ffill(ev, ["user_id"], "s", "value", step_s=3600)


def _resample_ffill_oracle(step: int = 3600) -> str:
    return f"""
    WITH ev AS MATERIALIZED (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, value
        FROM events),
    d AS MATERIALIZED (
        SELECT user_id, s, max(value) AS value FROM ev
        GROUP BY user_id, s),
    b AS (SELECT user_id, (min(s) + {step - 1}) // {step} AS a,
                 max(s) // {step} AS z
          FROM d GROUP BY user_id),
    slots AS (SELECT user_id, (a + u.i) * {step} AS t
              FROM b, unnest(range(0, z - a + 1)) u(i)
              WHERE a <= z)
    SELECT sl.user_id, sl.t, e.value
    FROM slots sl ASOF LEFT JOIN d e
      ON sl.user_id = e.user_id AND sl.t >= e.s"""


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-sides-big interval overlap join (operators/asof.py:
    interval_overlap_join): even-id event intervals vs odd-id event
    intervals (ts .. ts + value minutes), chunked equi-join with the
    report-once rule — each overlapping pair exactly once, no
    broadcast, no distinct."""
    from geotrellis_server_spark.operators.asof import (
        interval_overlap_join)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000").alias("start_s"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 + "
               "CAST(floor(value * 60) AS BIGINT)").alias("end_s"))
    joined = interval_overlap_join(
        ev.where("event_id % 2 = 0"), ev.where("event_id % 2 = 1"),
        chunk_s=3600)
    return joined.select(F.col("event_id_a"), F.col("event_id_b"))


def _interval_join_oracle() -> str:
    return """
    WITH ev AS MATERIALIZED (
        SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT)
                   + CAST(floor(value * 60) AS BIGINT) AS e
        FROM events)
    SELECT a.event_id AS event_id_a, b.event_id AS event_id_b
    FROM ev a JOIN ev b
      ON a.event_id % 2 = 0 AND b.event_id % 2 = 1
     AND a.s <= b.e AND b.s <= a.e"""


def _q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory stats (operators/trajectory.py:
    trajectory_stats): hop haversine metres floor-quantized to 2^-10 m
    before the per-user sum/max — exact integer aggregates."""
    from geotrellis_server_spark.operators.trajectory import (
        trajectory_stats)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.expr(sqlgen.lon_sql("event_id")).alias("lon"),
        F.expr(sqlgen.lat_sql("event_id")).alias("lat"))
    return trajectory_stats(ev)


def _trajectory_stats_oracle() -> str:
    from geotrellis_server_spark.operators.trajectory import (
        _haversine_q_expr)

    lon = sqlgen.lon_sql("event_id")
    lat = sqlgen.lat_sql("event_id")
    hop = _haversine_q_expr("_plon", "_plat", "_lon", "_lat")
    return f"""
    WITH p AS (SELECT user_id, ts, event_id, {lon} AS _lon,
                      {lat} AS _lat FROM events),
    l AS (SELECT user_id, _lon, _lat,
                 lag(_lon) OVER w AS _plon, lag(_lat) OVER w AS _plat
          FROM p WINDOW w AS (PARTITION BY user_id
                              ORDER BY ts, event_id)),
    h AS (SELECT user_id, {hop} AS hop_q FROM l
          WHERE _plon IS NOT NULL)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_trips,
           CAST(sum(hop_q) AS BIGINT) AS total_dist_q,
           max(hop_q) AS max_hop_q
    FROM h GROUP BY user_id"""


def _q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (operators/graph.py:
    label_propagation, Raghavan et al. 2007) over the undirected
    customer–supplier purchase graph, 4 synchronous rounds; integer
    labels + (count desc, label asc) tie-break make every round exactly
    engine-reproducible."""
    from geotrellis_server_spark.operators.graph import label_propagation

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + 1000000).alias("dst"))
        .distinct()
    )
    return label_propagation(edges, n_iter=4)


def _label_prop_oracle(n_iter: int = 4) -> str:
    parts = ["""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    und AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM e0
            UNION ALL SELECT dst, src FROM e0)),
    l0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS label FROM und)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""
    l{i} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT u.a AS node, l.label, count(*) AS c,
                   row_number() OVER (PARTITION BY u.a
                       ORDER BY count(*) DESC, l.label) AS rn
            FROM und u JOIN l{i - 1} l ON u.b = l.node
            GROUP BY u.a, l.label) WHERE rn = 1)""")
    return (",".join(parts)
            + f"\n    SELECT node, CAST(label AS BIGINT) AS label "
              f"FROM l{n_iter}")


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-min connected components (operators/graph.py) over the
    SPARSIFIED purchase graph (orders with o_orderkey % 11 = 0 —
    sparsifying fragments the otherwise-giant component into many
    islands), 6 synchronous rounds."""
    from geotrellis_server_spark.operators.graph import connected_components

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        "o_orderkey % 11 = 0")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"),
                (F.col("l_suppkey") + 1000000).alias("dst"))
        .distinct()
    )
    return connected_components(edges, n_iter=6)


def _connected_components_oracle(n_iter: int = 6) -> str:
    parts = ["""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 11 = 0),
    und AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM e0
            UNION ALL SELECT dst, src FROM e0)),
    c0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS label FROM und)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""
    c{i} AS MATERIALIZED (
        SELECT l.node,
               least(l.label, coalesce(min(nl.label), l.label)) AS label
        FROM c{i - 1} l
        LEFT JOIN und u ON u.a = l.node
        LEFT JOIN c{i - 1} nl ON nl.node = u.b
        GROUP BY l.node, l.label)""")
    return (",".join(parts)
            + f"\n    SELECT node, CAST(label AS BIGINT) AS component "
              f"FROM c{n_iter}")


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus partitioning (Wenzek et al. 2020
    §4.3: per-language terciles of LM score — 'head' is the cleanest
    third used for pretraining). Composes ngram_lm_logprob with a
    per-lang ntile(3) over the mean bigram log-prob (DESC, doc_id
    tie-break; zero-bigram docs sort last). The per-doc mean is ONE
    correctly-rounded IEEE division, so the ordering — hence the
    buckets — is cross-engine exact."""
    from pyspark.sql import Window

    from geotrellis_server_spark.operators.text import ngram_lm_logprob

    docs = _read_documents(spark, sf_dir)
    lp = ngram_lm_logprob(docs, docs.where("doc_id % 5 != 0"))
    j = lp.join(docs.select("doc_id", "lang"), "doc_id")
    mean = F.expr("CASE WHEN n_bigrams = 0 THEN NULL "
                  "ELSE CAST(logprob_q AS DOUBLE) / n_bigrams END")
    w = Window.partitionBy("lang").orderBy(mean.desc_nulls_last(),
                                           F.col("doc_id"))
    return (j.select("doc_id", "lang", F.ntile(3).over(w).alias("t"))
            .select("doc_id", "lang",
                    F.expr("element_at(array('head', 'middle', 'tail'), "
                           "t)").alias("bucket")))


def _ccnet_buckets_oracle() -> str:
    return f"""
    WITH lp AS MATERIALIZED ({_lm_logprob_oracle()}),
    j AS (SELECT lp.doc_id, d.lang, lp.logprob_q, lp.n_bigrams
          FROM lp JOIN documents d ON lp.doc_id = d.doc_id),
    r AS (SELECT doc_id, lang,
                 ntile(3) OVER (PARTITION BY lang ORDER BY
                     (CASE WHEN n_bigrams = 0 THEN NULL
                           ELSE CAST(logprob_q AS DOUBLE) / n_bigrams
                      END) DESC NULLS LAST, doc_id) AS t
          FROM j)
    SELECT doc_id, lang, (['head', 'middle', 'tail'])[t] AS bucket
    FROM r"""


def _q_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-downstream corpus mixing: keep ALL of the per-language
    'head' tercile, a deterministic md5-threshold 50% of 'middle',
    drop 'tail'; report per (lang, bucket) kept doc and token counts —
    the standard quality-weighted pretraining mix, every decision a
    pure function of (doc_id, salt)."""
    docs = _read_documents(spark, sf_dir)
    buckets = _q_ccnet_buckets(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.expr("size(split(text, ' '))").alias("n_toks"))
    keep = F.expr(
        "bucket = 'head' OR (bucket = 'middle' AND "
        "substring(md5(concat(CAST(doc_id AS STRING), '#mix-v1')), "
        "1, 4) < '8000')")
    return (buckets.join(toks, "doc_id")
            .where(keep)
            .groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_toks").alias("total_tokens")))


def _quality_mix_oracle() -> str:
    return f"""
    WITH buckets AS MATERIALIZED ({_ccnet_buckets_oracle()}),
    toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_toks
             FROM documents)
    SELECT b.lang, b.bucket, count(*) AS n_docs,
           CAST(sum(t.n_toks) AS BIGINT) AS total_tokens
    FROM buckets b JOIN toks t ON b.doc_id = t.doc_id
    WHERE b.bucket = 'head' OR (b.bucket = 'middle' AND
          substring(md5(CAST(b.doc_id AS VARCHAR) || '#mix-v1'),
                    1, 4) < '8000')
    GROUP BY b.lang, b.bucket"""


def _q_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern pretraining-curation recipe, end to end: exact
    dedup survivors -> SemDeDup semantic drops (k-means + quantized
    cosine over the embeddings table, vec_id == doc_id) -> benchmark
    decontamination (word 5-grams vs the doc_id%10 eval split) -> CCNet
    per-language LM terciles -> quality mix (head + hashed 50% of
    middle). Output: per (lang, bucket) kept docs + tokens. Every stage
    is an independently-gated operator; this composite gates their
    COMPOSITION."""
    from geotrellis_server_spark.operators import dedup
    from geotrellis_server_spark.operators.ml import (
        kmeans, semantic_dedup_pairs)

    docs = _read_documents(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    surv = dedup.exact_dedup(docs).select(
        F.col("survivor_id").alias("doc_id"))
    clusters = kmeans(emb, k=8, n_iter=3)
    sem_drops = (semantic_dedup_pairs(emb, clusters, theta_num=2,
                                      theta_den=5)
                 .select(F.col("drop_id").alias("doc_id")).distinct())
    contam = dedup.decontaminate(
        docs.where("doc_id % 10 != 0"), docs.where("doc_id % 10 = 0"),
        n=DECON_N, min_hits=DECON_MIN_HITS).select("doc_id")
    buckets = _q_ccnet_buckets(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.expr("size(split(text, ' '))").alias("n_toks"))
    keep_mix = F.expr(
        "bucket = 'head' OR (bucket = 'middle' AND "
        "substring(md5(concat(CAST(doc_id AS STRING), '#mix-v1')), "
        "1, 4) < '8000')")
    kept = (buckets.join(surv, "doc_id")
            .where("doc_id % 10 != 0")
            .join(sem_drops, "doc_id", "left_anti")
            .join(contam, "doc_id", "left_anti")
            .where(keep_mix)
            .join(toks, "doc_id"))
    return (kept.groupBy("lang", "bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_toks").alias("total_tokens")))


def _curation_v3_oracle() -> str:
    from geotrellis_server_spark.operators.ml import (
        kmeans_oracle_sql, semantic_dedup_oracle_sql)

    sem = semantic_dedup_oracle_sql(
        kmeans_oracle_sql(k=8, n_iter=3), theta_num=2, theta_den=5)
    return f"""
    WITH surv AS MATERIALIZED (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    sem_drops AS MATERIALIZED (
        SELECT DISTINCT drop_id AS doc_id FROM ({sem})),
    contam AS MATERIALIZED (
        SELECT doc_id FROM ({_decontaminate_oracle()})),
    buckets AS MATERIALIZED ({_ccnet_buckets_oracle()}),
    toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_toks
             FROM documents)
    SELECT b.lang, b.bucket, count(*) AS n_docs,
           CAST(sum(t.n_toks) AS BIGINT) AS total_tokens
    FROM buckets b
    JOIN surv s ON s.doc_id = b.doc_id
    JOIN toks t ON t.doc_id = b.doc_id
    WHERE b.doc_id % 10 != 0
      AND b.doc_id NOT IN (SELECT doc_id FROM sem_drops)
      AND b.doc_id NOT IN (SELECT doc_id FROM contam)
      AND (b.bucket = 'head' OR (b.bucket = 'middle' AND
           substring(md5(CAST(b.doc_id AS VARCHAR) || '#mix-v1'),
                     1, 4) < '8000'))
    GROUP BY b.lang, b.bucket"""


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized Lloyd's k-means (operators/ml.py:kmeans), k=8,
    3 rounds over the embeddings table: every coordinate floor-
    quantized to 2^-20, distances / argmins / centroid updates exact
    BIGINT arithmetic — any-engine reproducible (SemDeDup / IVF-train
    backbone)."""
    from geotrellis_server_spark.operators.ml import kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans(emb, k=8, n_iter=3)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning pairs (operators/ml.py:semantic_dedup_pairs,
    Abbas et al. 2023): k-means cluster (k=8, 3 rounds), then within-
    cluster quantized-cosine >= 2/5 pairs, keep_id < drop_id."""
    from geotrellis_server_spark.operators.ml import (
        kmeans, semantic_dedup_pairs)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clusters = kmeans(emb, k=8, n_iter=3)
    return semantic_dedup_pairs(emb, clusters, theta_num=2, theta_den=5)


def _q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier (operators/ml.py:
    nb_classify — the aggregation-native fastText-quality-filter
    analog): train on even doc_ids with lang labels, classify every
    document; per-token class log-probs floor-quantized to 2^-20 so
    scores and argmax ties are exact."""
    from geotrellis_server_spark.operators.ml import nb_classify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return nb_classify(docs.where("doc_id % 2 = 0"), docs)


def _q_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf keywords (operators/text.py:
    tfidf_top_terms): idf floor-quantized to 2^-20 before the tf
    multiply, (score desc, term asc) total tie-break."""
    from geotrellis_server_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=3)


def _kmeans_oracle() -> str:
    from geotrellis_server_spark.operators.ml import kmeans_oracle_sql

    return kmeans_oracle_sql(k=8, n_iter=3)


def _semantic_dedup_oracle() -> str:
    from geotrellis_server_spark.operators.ml import (
        kmeans_oracle_sql, semantic_dedup_oracle_sql)

    return semantic_dedup_oracle_sql(
        kmeans_oracle_sql(k=8, n_iter=3), theta_num=2, theta_den=5)


def _nb_classify_oracle() -> str:
    from geotrellis_server_spark.operators.ml import nb_classify_oracle_sql

    return nb_classify_oracle_sql("doc_id % 2 = 0")


def _tfidf_top3_oracle() -> str:
    return """
    WITH tf AS MATERIALIZED (
        SELECT doc_id, tok AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY doc_id, tok),
    idf AS MATERIALIZED (
        SELECT term,
               CAST(floor(ln(CAST((SELECT count(*) FROM documents)
                    AS DOUBLE) / count(*)) * 1048576.0) AS BIGINT)
               AS idf_q
        FROM tf GROUP BY term),
    s AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf_q AS score_q,
                 row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY tf.tf * idf.idf_q DESC, tf.term) AS rank
          FROM tf JOIN idf USING (term))
    SELECT doc_id, term, CAST(rank AS INT) AS rank, score_q
    FROM s WHERE rank <= 3"""


# --- kernel density + IDW (operators/density.py; GeoTrellis
# KernelDensity / InverseDistanceWeighted parity) ---------------------------

_IDW_WIN = (571, 743, 64, 64, 6)  # x0, y0, w, h, radius — z5/ts64 pixel
# window over the (-74, 40) hot cluster (centre pixel ≈ (603, 775))


_MARKER_ZOOMS = (3, 4, 5)


def _q_cluster_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom cluster markers (the supercluster-style map-UI
    aggregation, cell-bucketed): per zoom and tile, member count plus
    exact integer sums of member global-pixel coordinates — the marker
    renders at (sum_gx/n, sum_gy/n); sums gate exactly, the division
    is presentation. One map-side-combined aggregate per zoom, unioned;
    at scale the z_max aggregate feeds the coarser zooms as a rollup
    (pyramid_up), here each zoom aggregates the source directly so the
    oracle stays one expression per zoom."""
    from geotrellis_server_spark.operators import density as DN

    d = _docs(spark, sf_dir)
    out = None
    for z in _MARKER_ZOOMS:
        gpx, gpy = DN.global_pixel_sql("lon", "lat", z, 64)
        t = (
            d.select(F.expr(gpx).alias("_gx"), F.expr(gpy).alias("_gy"))
            .select(F.expr("_gx DIV 64").alias("tile_x"),
                    F.expr("_gy DIV 64").alias("tile_y"), "_gx", "_gy")
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_gx").alias("sum_gx"),
                 F.sum("_gy").alias("sum_gy"))
            .select(F.lit(z).alias("zoom"), "tile_x", "tile_y",
                    "n_docs", "sum_gx", "sum_gy")
        )
        out = t if out is None else out.unionByName(t)
    return out


def _cluster_markers_oracle() -> str:
    from geotrellis_server_spark.operators import density as DN

    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    parts = []
    for z in _MARKER_ZOOMS:
        gpx, gpy = DN.global_pixel_sql("lon", "lat", z, 64)
        parts.append(f"""
        SELECT {z} AS zoom,
               CAST(floor(gx / 64.0) AS BIGINT) AS tile_x,
               CAST(floor(gy / 64.0) AS BIGINT) AS tile_y,
               count(*) AS n_docs,
               CAST(sum(gx) AS BIGINT) AS sum_gx,
               CAST(sum(gy) AS BIGINT) AS sum_gy
        FROM (SELECT {gpx} AS gx, {gpy} AS gy FROM ({pts}) p) q
        GROUP BY 1, 2, 3""")
    return " UNION ALL ".join(parts)


def _q_kernel_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binomial-3×3 integer kernel density at z5 (operators/density.py —
    GeoTrellis raster.density.KernelDensity semantics: stamp, sum,
    drop off-grid): exact BIGINT per-pixel densities."""
    from geotrellis_server_spark.operators import density as DN

    return DN.kernel_density(_docs(spark, sf_dir), 5, 64)


def _kernel_density_oracle() -> str:
    from geotrellis_server_spark.operators import density as DN

    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return DN.kernel_density_oracle_sql(pts, 5, 64)


def _idw_samples_sql() -> str:
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h, r = _IDW_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return (
        f"SELECT {gpx} AS sx, {gpy} AS sy, id % 97 AS v FROM ({pts}) p "
        f"WHERE ({gpx}) BETWEEN {x0 - r} AND {x0 + w - 1 + r} "
        f"AND ({gpy}) BETWEEN {y0 - r} AND {y0 + h - 1 + r}"
    )


def _q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW interpolation (operators/density.py — GeoTrellis
    raster.interpolation.InverseDistanceWeighted semantics, radius-
    bounded) of id%97 sample values onto a 64×64 cell window over the
    (-74, 40) cluster; exact BIGINT weight sums (w = floor(2^20/(1+d²)))
    — the interpolated value is wvsum/wsum at the consumer."""
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h, r = _IDW_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    d = _docs(spark, sf_dir)
    samples = d.select(
        F.expr(gpx).alias("sx"),
        F.expr(gpy).alias("sy"),
        F.expr("CAST(substring(doc_id, 5) AS BIGINT) % 97").alias("v"),
    ).where(
        f"sx BETWEEN {x0 - r} AND {x0 + w - 1 + r} "
        f"AND sy BETWEEN {y0 - r} AND {y0 + h - 1 + r}"
    )
    return DN.idw_grid(samples, x0, y0, w, h, r)


def _idw_oracle() -> str:
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h, r = _IDW_WIN
    return DN.idw_oracle_sql(_idw_samples_sql(), x0, y0, w, h, r)


def _q_rasterize_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory linestring rasterization (operators/trajectory.py:
    rasterize_hops — GeoTrellis Rasterizer.foreachCellByLineString
    density via rounded DDA in exact integers) on the 256-px global
    grid: per-pixel traversal counts over every user's event path."""
    from geotrellis_server_spark.operators.trajectory import rasterize_hops

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.expr(sqlgen.lon_sql("event_id")).alias("lon"),
        F.expr(sqlgen.lat_sql("event_id")).alias("lat"))
    return rasterize_hops(ev, zoom=2, tile_size=64)


def _rasterize_hops_oracle() -> str:
    from geotrellis_server_spark.operators.density import global_pixel_sql
    from geotrellis_server_spark.operators.trajectory import _dda_coord_sql

    gpx, gpy = global_pixel_sql(sqlgen.lon_sql("event_id"),
                                sqlgen.lat_sql("event_id"), 2, 64)
    px = _dda_coord_sql("x0", "x1", "n", "t")
    py = _dda_coord_sql("y0", "y1", "n", "t")
    return f"""
    WITH p AS (
      SELECT user_id, ts, event_id, {gpx} AS x1, {gpy} AS y1 FROM events),
    h AS (
      SELECT x1, y1,
             lag(x1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
             lag(y1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0
      FROM p),
    hn AS (
      SELECT x0, y0, x1, y1,
             greatest(abs(x1 - x0), abs(y1 - y0)) AS n
      FROM h WHERE x0 IS NOT NULL),
    s AS (SELECT x0, y0, x1, y1, n, unnest(range(0, n + 1)) AS t FROM hn)
    SELECT {px} AS px, {py} AS py, count(*) AS n_traversals
    FROM s GROUP BY 1, 2
    """


# --- cost distance (operators/costdistance.py; GeoTrellis CostDistance
# parity, synchronized min-plus rounds) --------------------------------------

_CD_WIN = (587, 759, 32, 32)  # x0, y0, w, h — z5/ts64 window, source centre
_CD_SRC = (603, 775)
_CD_ROUNDS = 8


def _q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost distance from the hot-cluster centre over a doc-density
    friction surface (fric = 1 + per-pixel doc count, ×2-integer edge
    costs): exact ≤8-hop accumulated costs, INF (2^40) = unreached."""
    from geotrellis_server_spark.operators import costdistance as CD
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.expr(gpx).alias("cx"), F.expr(gpy).alias("cy"))
        .where(f"cx BETWEEN {x0} AND {x0 + w - 1} AND cy BETWEEN {y0} AND {y0 + h - 1}")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    dom = (
        spark.range(w * h)
        .select(F.expr(f"{x0} + id % {w}").alias("cx"),
                F.expr(f"{y0} + id DIV {w}").alias("cy"))
        .join(counts, ["cx", "cy"], "left")
        .select("cx", "cy", F.expr("1 + coalesce(cnt, 0)").alias("fric"))
    )
    return CD.cost_distance(dom, [_CD_SRC], _CD_ROUNDS)


def _cost_distance_oracle() -> str:
    from geotrellis_server_spark.operators import costdistance as CD
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    dom = f"""
      SELECT g.cx, g.cy, 1 + coalesce(pc.cnt, 0) AS fric
      FROM (SELECT {x0} + j.j AS cx, {y0} + i.i AS cy
            FROM range({h}) i(i) CROSS JOIN range({w}) j(j)) g
      LEFT JOIN (
        SELECT cx, cy, count(*) AS cnt FROM (
          SELECT {gpx} AS cx, {gpy} AS cy FROM ({pts}) p) q
        WHERE cx BETWEEN {x0} AND {x0 + w - 1}
          AND cy BETWEEN {y0} AND {y0 + h - 1}
        GROUP BY 1, 2) pc
      ON pc.cx = g.cx AND pc.cy = g.cy"""
    return CD.cost_distance_oracle_sql(dom, [_CD_SRC], _CD_ROUNDS)


def _q_region_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed region labeling (operators/vectorize.py — the core
    of GeoTrellis vectorize): maximal 4-connected equal-value regions
    of the doc-count window, label = min packed (cx·2³²+cy). Engine =
    block union-find + hash-min boundary merge; oracle = pointer-
    DOUBLING hash-min over the cell graph (11 unrolled rounds cover
    any diameter ≤ 2¹¹)."""
    from geotrellis_server_spark.operators import density as DN
    from geotrellis_server_spark.operators.vectorize import region_label

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.expr(gpx).alias("cx"), F.expr(gpy).alias("cy"))
        .where(f"cx BETWEEN {x0} AND {x0 + w - 1} AND cy BETWEEN {y0} AND {y0 + h - 1}")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    dom = (
        spark.range(w * h)
        .select(F.expr(f"{x0} + id % {w}").alias("cx"),
                F.expr(f"{y0} + id DIV {w}").alias("cy"))
        .join(counts, ["cx", "cy"], "left")
        .select("cx", "cy", F.expr("coalesce(cnt, 0)").alias("v"))
    )
    return region_label(dom, tile=8, n_iter=16)


def _region_label_oracle(rounds: int = 11) -> str:
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    pack = 1 << 32
    parts = [f"""
    WITH dom AS MATERIALIZED (
      SELECT g.cx, g.cy, coalesce(pc.cnt, 0) AS v
      FROM (SELECT {x0} + j.j AS cx, {y0} + i.i AS cy
            FROM range({h}) i(i) CROSS JOIN range({w}) j(j)) g
      LEFT JOIN (
        SELECT cx, cy, count(*) AS cnt FROM (
          SELECT {gpx} AS cx, {gpy} AS cy FROM ({pts}) p) q
        WHERE cx BETWEEN {x0} AND {x0 + w - 1}
          AND cy BETWEEN {y0} AND {y0 + h - 1}
        GROUP BY 1, 2) pc
      ON pc.cx = g.cx AND pc.cy = g.cy),
    und AS MATERIALIZED (
      SELECT a.cx * {pack} + a.cy AS a, b.cx * {pack} + b.cy AS b
      FROM dom a JOIN dom b
        ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1 AND a.v = b.v),
    r0 AS MATERIALIZED (
      SELECT cx * {pack} + cy AS node, cx * {pack} + cy AS label
      FROM dom)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
    r{k} AS MATERIALIZED (
      SELECT c.node,
             least(c.label, coalesce(l2.label, c.label),
                   coalesce((SELECT min(l.label) FROM und u
                             JOIN r{k - 1} l ON l.node = u.b
                             WHERE u.a = c.node), c.label)) AS label
      FROM r{k - 1} c LEFT JOIN r{k - 1} l2 ON l2.node = c.label)""")
    parts.append(f"""
    SELECT CAST(node // {pack} AS BIGINT) AS cx,
           CAST(node % {pack} AS BIGINT) AS cy,
           CAST(label AS BIGINT) AS region
    FROM r{rounds}""")
    return "".join(parts)


def _cd_window_dom_sql(val_alias: str = "v") -> str:
    """The shared 32×32 doc-count window domain (DuckDB SQL) used by
    the cost-distance / viewshed / contour / region oracles."""
    from geotrellis_server_spark.operators import density as DN

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    return f"""
      SELECT g.cx, g.cy, coalesce(pc.cnt, 0) AS {val_alias}
      FROM (SELECT {x0} + j.j AS cx, {y0} + i.i AS cy
            FROM range({h}) i(i) CROSS JOIN range({w}) j(j)) g
      LEFT JOIN (
        SELECT cx, cy, count(*) AS cnt FROM (
          SELECT {gpx} AS cx, {gpy} AS cy FROM ({pts}) p) q
        WHERE cx BETWEEN {x0} AND {x0 + w - 1}
          AND cy BETWEEN {y0} AND {y0 + h - 1}
        GROUP BY 1, 2) pc
      ON pc.cx = g.cx AND pc.cy = g.cy"""


def _q_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region polygon statistics (operators/vectorize.py:
    region_stats — the summary half of GeoTrellis vectorize): exact
    integer area, exposed-edge perimeter and bbox per 4-connected
    equal-count region of the doc-density window."""
    from geotrellis_server_spark.operators import density as DN
    from geotrellis_server_spark.operators.vectorize import region_stats

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.expr(gpx).alias("cx"), F.expr(gpy).alias("cy"))
        .where(f"cx BETWEEN {x0} AND {x0 + w - 1} AND cy BETWEEN {y0} AND {y0 + h - 1}")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    dom = (
        spark.range(w * h)
        .select(F.expr(f"{x0} + id % {w}").alias("cx"),
                F.expr(f"{y0} + id DIV {w}").alias("cy"))
        .join(counts, ["cx", "cy"], "left")
        .select("cx", "cy", F.expr("coalesce(cnt, 0)").alias("v"))
    )
    return region_stats(dom, tile=8, n_iter=16)


def _region_stats_oracle() -> str:
    lab = _region_label_oracle()
    dom = _cd_window_dom_sql()
    return f"""
    WITH lab AS MATERIALIZED (SELECT * FROM ({lab}) q),
    dom AS MATERIALIZED ({dom}),
    same AS (
      SELECT a.cx, a.cy, count(*) AS n_same
      FROM dom a JOIN dom b
        ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1 AND a.v = b.v
      GROUP BY a.cx, a.cy)
    SELECT l.region,
           CAST(min(d.v) AS BIGINT) AS v,
           count(*) AS n_cells,
           CAST(sum(4 - coalesce(s.n_same, 0)) AS BIGINT) AS perimeter,
           min(d.cx) AS xmin, min(d.cy) AS ymin,
           max(d.cx) AS xmax, max(d.cy) AS ymax
    FROM dom d
    JOIN lab l ON l.cx = d.cx AND l.cy = d.cy
    LEFT JOIN same s ON s.cx = d.cx AND s.cy = d.cy
    GROUP BY l.region
    """


def _q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares isoline segments (operators/contour.py —
    GDAL/GeoTrellis contour parity, midpoint rule) of the doc-density
    surface at level 3: endpoints in doubled grid coords, all exact
    integers including the saddle conventions."""
    from geotrellis_server_spark.operators import density as DN
    from geotrellis_server_spark.operators.contour import contour_segments

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.expr(gpx).alias("cx"), F.expr(gpy).alias("cy"))
        .where(f"cx BETWEEN {x0} AND {x0 + w - 1} AND cy BETWEEN {y0} AND {y0 + h - 1}")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    dom = (
        spark.range(w * h)
        .select(F.expr(f"{x0} + id % {w}").alias("cx"),
                F.expr(f"{y0} + id DIV {w}").alias("cy"))
        .join(counts, ["cx", "cy"], "left")
        .select("cx", "cy", F.expr("coalesce(cnt, 0)").alias("v"))
    )
    return contour_segments(dom, level=3)


def _contour_oracle() -> str:
    from geotrellis_server_spark.operators import density as DN
    from geotrellis_server_spark.operators.contour import contour_oracle_sql

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    dom = f"""
      SELECT g.cx, g.cy, coalesce(pc.cnt, 0) AS v
      FROM (SELECT {x0} + j.j AS cx, {y0} + i.i AS cy
            FROM range({h}) i(i) CROSS JOIN range({w}) j(j)) g
      LEFT JOIN (
        SELECT cx, cy, count(*) AS cnt FROM (
          SELECT {gpx} AS cx, {gpy} AS cy FROM ({pts}) p) q
        WHERE cx BETWEEN {x0} AND {x0 + w - 1}
          AND cy BETWEEN {y0} AND {y0 + h - 1}
        GROUP BY 1, 2) pc
      ON pc.cx = g.cx AND pc.cy = g.cy"""
    return contour_oracle_sql(dom, level=3)


def _q_direction_rose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movement direction rose (operators/trajectory.py:direction_rose):
    per-user hops classified into 45° compass sectors by pure integer
    comparisons (boundary-exact: the CASE is verified against float
    azimuth on the full integer ring in tests)."""
    from geotrellis_server_spark.operators.trajectory import direction_rose

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.expr(sqlgen.lon_sql("event_id")).alias("lon"),
        F.expr(sqlgen.lat_sql("event_id")).alias("lat"))
    return direction_rose(ev, zoom=2, tile_size=64)


def _direction_rose_oracle() -> str:
    from geotrellis_server_spark.operators.density import global_pixel_sql
    from geotrellis_server_spark.operators.trajectory import (
        direction_octant_sql)

    gpx, gpy = global_pixel_sql(sqlgen.lon_sql("event_id"),
                                sqlgen.lat_sql("event_id"), 2, 64)
    oct_sql = direction_octant_sql("x1 - x0", "y0 - y1")
    return f"""
    WITH p AS (
      SELECT user_id, ts, event_id, {gpx} AS x1, {gpy} AS y1 FROM events),
    h AS (
      SELECT x1, y1,
             lag(x1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
             lag(y1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0
      FROM p)
    SELECT ({oct_sql}) AS octant, count(*) AS n_hops
    FROM h WHERE x0 IS NOT NULL GROUP BY 1
    """


def _q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user LOCF time-weighted average of event values
    (operators/asof.py:time_weighted_avg — the TimescaleDB
    time_weight('LOCF')/Influx integral aggregate): exact BIGINT
    cent-second numerator and second denominator."""
    from geotrellis_server_spark.operators.asof import time_weighted_avg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "value",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000").alias("t"))
    return time_weighted_avg(ev, ["user_id"], "t", "value")


def _time_weighted_avg_oracle() -> str:
    return """
    WITH e AS (
      SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
             max(value) AS v
      FROM events GROUP BY 1, 2),
    seg AS (
      SELECT user_id, t,
             CAST(floor(CAST(v AS DOUBLE) * 100.0) AS BIGINT) AS vq,
             lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nxt
      FROM e)
    SELECT user_id,
           CAST(coalesce(sum(CASE WHEN nxt IS NULL THEN 0
                                  ELSE vq * (nxt - t) END), 0)
                AS BIGINT) AS twa_num,
           CAST(max(t) - min(t) AS BIGINT) AS twa_den,
           count(*) AS n_obs
    FROM seg GROUP BY 1
    """


def _q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewshed (operators/viewshed.py — GeoTrellis R2Viewshed
    semantics, grazing=visible) from the hot-cluster centre over the
    doc-count elevation window: exact-integer angle comparisons, no
    trigonometry."""
    from geotrellis_server_spark.operators import density as DN
    from geotrellis_server_spark.operators.viewshed import viewshed

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.expr(gpx).alias("cx"), F.expr(gpy).alias("cy"))
        .where(f"cx BETWEEN {x0} AND {x0 + w - 1} AND cy BETWEEN {y0} AND {y0 + h - 1}")
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("cnt"))
    )
    dom = (
        spark.range(w * h)
        .select(F.expr(f"{x0} + id % {w}").alias("cx"),
                F.expr(f"{y0} + id DIV {w}").alias("cy"))
        .join(counts, ["cx", "cy"], "left")
        .select("cx", "cy", F.expr("coalesce(cnt, 0)").alias("z"))
    )
    return viewshed(dom, _CD_SRC)


def _viewshed_oracle() -> str:
    from geotrellis_server_spark.operators import density as DN
    from geotrellis_server_spark.operators.viewshed import viewshed_oracle_sql

    x0, y0, w, h = _CD_WIN
    gpx, gpy = DN.global_pixel_sql("lon", "lat", 5, 64)
    pts = f"SELECT {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    dom = f"""
      SELECT g.cx, g.cy, coalesce(pc.cnt, 0) AS z
      FROM (SELECT {x0} + j.j AS cx, {y0} + i.i AS cy
            FROM range({h}) i(i) CROSS JOIN range({w}) j(j)) g
      LEFT JOIN (
        SELECT cx, cy, count(*) AS cnt FROM (
          SELECT {gpx} AS cx, {gpy} AS cy FROM ({pts}) p) q
        WHERE cx BETWEEN {x0} AND {x0 + w - 1}
          AND cy BETWEEN {y0} AND {y0 + h - 1}
        GROUP BY 1, 2) pc
      ON pc.cx = g.cx AND pc.cy = g.cy"""
    return viewshed_oracle_sql(dom, _CD_SRC)


_HULL_PTS = """
  SELECT DISTINCT (o_custkey % 8) AS g,
         (o_orderkey * 17) % 1000 AS x,
         (o_orderkey * 31) % 997 AS y
  FROM orders WHERE o_orderkey % 23 = 3
"""


def _q_hilbert_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyIndex.indexRanges parity (sources/hilbert.py
    hilbert_index_ranges): the minimal contiguous Hilbert key ranges
    covering the z8 tile bbox of a deterministic doc subset — the
    planning step that turns a bbox query into contiguous scans of an
    SFC-sorted layer (GeoTrellis store KeyIndex analog). The bbox is 4
    scalars (documented bounded metadata collect, like the histogram
    budget); the decomposition is driver-side dyadic descent. The
    oracle re-derives every range independently: all cells in the same
    bbox -> 8-round unrolled-SQL Hilbert keys -> gaps-and-islands
    grouping."""
    from geotrellis_server_spark.sources.hilbert import hilbert_index_ranges

    d = _docs(spark, sf_dir)
    tx = sqlgen.tile_x_sql("lon", 8)
    ty = sqlgen.tile_y_sql("lat", 8)
    sub = (d.select(F.expr(tx).alias("tx"), F.expr(ty).alias("ty"))
           .where("(tx * 31 + ty * 17) % 97 = 5"))
    row = sub.agg(F.min("tx"), F.max("tx"), F.min("ty"), F.max("ty")).first()
    ranges = hilbert_index_ranges(8, row[0], row[2], row[1], row[3])
    return spark.createDataFrame(
        [(int(lo), int(hi)) for lo, hi in ranges],
        "range_start long, range_end long")


def _hilbert_ranges_oracle() -> str:
    from geotrellis_server_spark.sources.hilbert import hilbert_unrolled_sql

    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    tx = sqlgen.tile_x_sql("lon", 8)
    ty = sqlgen.tile_y_sql("lat", 8)
    hk = hilbert_unrolled_sql(8, "SELECT x, y FROM cells")
    return f"""
    WITH sub AS MATERIALIZED (
      SELECT tx, ty
      FROM (SELECT {tx} AS tx, {ty} AS ty FROM ({pts}) p) q
      WHERE (tx * 31 + ty * 17) % 97 = 5),
    bbox AS (SELECT min(tx) AS x0, max(tx) AS x1,
                    min(ty) AS y0, max(ty) AS y1 FROM sub),
    cells AS MATERIALIZED (
      SELECT gx.i AS x, gy.j AS y
      FROM range(256) gx(i) CROSS JOIN range(256) gy(j) CROSS JOIN bbox
      WHERE gx.i BETWEEN bbox.x0 AND bbox.x1
        AND gy.j BETWEEN bbox.y0 AND bbox.y1),
    hkk AS MATERIALIZED ({hk})
    SELECT min(hkey) AS range_start, max(hkey) + 1 AS range_end
    FROM (SELECT hkey, hkey - row_number() OVER (ORDER BY hkey) AS grp
          FROM hkk) g
    GROUP BY grp
    """


def _q_quadtree_adapt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree binning (operators/quadtree.py): split any z8
    tile subtree whose doc count exceeds 50, yielding the leaf layout
    (z, x, y, n_docs) — hot cells get fine tiles, sparse areas stay
    coarse. ONE data-sized exchange (the z8 groupBy); rollups and
    top-down split flags are metadata-scale. Oracle: independent CTE
    derivation (rollup chain + split chain + leaf union)."""
    from geotrellis_server_spark.operators.quadtree import adaptive_quadtree

    d = _docs(spark, sf_dir)
    tx = sqlgen.tile_x_sql("lon", 8)
    ty = sqlgen.tile_y_sql("lat", 8)
    cells = (d.select(F.expr(tx).alias("x"), F.expr(ty).alias("y"))
             .groupBy("x", "y").agg(F.count("*").alias("n")))
    return adaptive_quadtree(cells, max_z=8, cap=50)


def _quadtree_adapt_oracle() -> str:
    from geotrellis_server_spark.operators.quadtree import quadtree_oracle_sql

    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    cells = (f"SELECT {sqlgen.tile_x_sql('lon', 8)} AS x,"
             f" {sqlgen.tile_y_sql('lat', 8)} AS y, count(*) AS n"
             f" FROM ({pts}) p GROUP BY 1, 2")
    return quadtree_oracle_sql(cells, max_z=8, cap=50)


def _q_hull_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull (geometry/hull.py, Andrew monotone chain in
    exact BIGINT arithmetic — GeoTrellis exposes the same via JTS
    Geometry.convexHull) summarized as (n_vertices, doubled shoelace
    area, vertex coordinate sums). The DuckDB oracle is a fully
    independent formulation: the O(n^3) supporting-edge characterization
    (directed pair (p,q) is a CCW hull edge iff every other point lies
    strictly left, or collinear WITHIN the segment bbox — the latter
    clause reproduces the chain's drop-collinear-vertices rule), with
    area2 recovered as the shoelace sum over those directed edges."""
    from geotrellis_server_spark.geometry.hull import hull_points

    pts = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where("o_orderkey % 23 = 3")
        .selectExpr("o_custkey % 8 AS g",
                    "(o_orderkey * 17) % 1000 AS x",
                    "(o_orderkey * 31) % 997 AS y")
        .distinct()
    )
    return (
        hull_points(pts, group_col="g")
        .groupBy(F.col("group").alias("grp"))
        .agg(F.first("n_vertices").alias("n_vertices"),
             F.first("area2").alias("area2"),
             F.sum("x").alias("sum_hx"),
             F.sum("y").alias("sum_hy"))
    )


def _hull_summary_oracle() -> str:
    return f"""
    WITH p AS MATERIALIZED ({_HULL_PTS}),
    e AS (
      SELECT a.g, a.x AS px, a.y AS py, b.x AS qx, b.y AS qy
      FROM p a JOIN p b ON a.g = b.g AND (a.x <> b.x OR a.y <> b.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM p r
        WHERE r.g = a.g
          AND NOT (r.x = a.x AND r.y = a.y)
          AND NOT (r.x = b.x AND r.y = b.y)
          AND (
            (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) < 0
            OR (
              (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) = 0
              AND NOT (r.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
                   AND r.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y))
            )
          )
      )
    )
    SELECT g AS grp, count(*) AS n_vertices,
           sum(px * qy - qx * py) AS area2,
           sum(px) AS sum_hx, sum(py) AS sum_hy
    FROM e GROUP BY g
    """


def _q_hull_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group farthest-pair squared distance (geometry/hull.py
    hull_diameter): reduces through the convex hull (diameter endpoints
    are always strict hull vertices) so the pair scan touches h≪n
    points. The oracle brute-forces ALL C(n,2) pairs in SQL — a
    completely different computation path that agrees exactly in BIGINT
    arithmetic, including the tie count."""
    from geotrellis_server_spark.geometry.hull import hull_diameter

    pts = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where("o_orderkey % 23 = 3")
        .selectExpr("o_custkey % 8 AS g",
                    "(o_orderkey * 17) % 1000 AS x",
                    "(o_orderkey * 31) % 997 AS y")
        .distinct()
    )
    return hull_diameter(pts, group_col="g")


def _hull_diameter_oracle() -> str:
    return f"""
    WITH p AS MATERIALIZED ({_HULL_PTS}),
    d AS (
      SELECT a.g,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM p a JOIN p b
        ON a.g = b.g AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
    ),
    m AS (SELECT g, max(d2) AS diam2 FROM d GROUP BY g)
    SELECT m.g AS grp, m.diam2 AS diam2, count(*) AS n_pairs
    FROM m JOIN d ON d.g = m.g AND d.d2 = m.diam2
    GROUP BY 1, 2
    """


_HULL_TEST_PTS = """
  SELECT DISTINCT (o_custkey % 8) AS g,
         (o_orderkey * 13) % 1000 AS x,
         (o_orderkey * 41) % 997 AS y
  FROM orders WHERE o_orderkey % 29 = 1
"""


def _q_hull_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed point-in-convex-hull classification (geometry/hull.py
    hull_contains): hull edges broadcast, min(cross) >= 0 per test
    point, exact BIGINTs. The oracle never builds the hull: it uses the
    dual characterization — p is inside conv(S) iff p violates no
    SUPPORTING half-plane (directed pair (a,b) of S with every r of S
    on the left) — an O(n^2)-pairs EXISTS formulation the engine never
    executes."""
    from geotrellis_server_spark.geometry.hull import hull_contains

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pts = (orders.where("o_orderkey % 23 = 3")
           .selectExpr("o_custkey % 8 AS g",
                       "(o_orderkey * 17) % 1000 AS x",
                       "(o_orderkey * 31) % 997 AS y").distinct())
    tps = (orders.where("o_orderkey % 29 = 1")
           .selectExpr("o_custkey % 8 AS g",
                       "(o_orderkey * 13) % 1000 AS x",
                       "(o_orderkey * 41) % 997 AS y").distinct())
    return hull_contains(pts, tps, group_col="g")


def _hull_contains_oracle() -> str:
    return f"""
    WITH p AS MATERIALIZED ({_HULL_PTS}),
    tp AS MATERIALIZED ({_HULL_TEST_PTS}),
    sup AS MATERIALIZED (
      SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
      FROM p a JOIN p b ON a.g = b.g AND (a.x <> b.x OR a.y <> b.y)
      WHERE NOT EXISTS (
        SELECT 1 FROM p r WHERE r.g = a.g
          AND (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) < 0
      )
    )
    SELECT t.g AS grp, t.x AS px, t.y AS py,
           CASE WHEN EXISTS (
             SELECT 1 FROM sup s WHERE s.g = t.g
               AND (s.bx - s.ax) * (t.y - s.ay)
                 - (s.by - s.ay) * (t.x - s.ax) < 0)
           THEN 0 ELSE 1 END AS inside
    FROM tp t
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "skew_salted_cell_agg": _q_salted_cell_agg,
        "maml_focal_fsum_z2": _q_focal_fsum,
        "maml_mask_polygon_z3": _q_mask_polygon,
        "maml_focal_fsum_over_sum": _q_focal_fsum_over_sum,
        "time_interval_to_positions": _q_interval_positions,
        "raster_interpret_as_int": _q_interpret_as,
        "raster_resample_avg": _q_resample_avg,
        "raster_zonal_stats_z4": _q_zonal_stats,
        "render_png_tiles": _q_render_png,
        "render_geotiff_window": _q_render_geotiff,
        "geo_pip_join_poly_convex": _q_pip_poly_convex,
        "raster_mosaic_merge": _q_mosaic_merge,
        "time_between_half_open": _q_between_half_open,
        "time_between_ogc_overlap": _q_between_ogc_overlap,
        "agg_price_histogram": _q_price_histogram,
        "geo_zoom_select": _q_zoom_select,
        "geo_cell_encode_r6": _q_cell_encode,
        "geo_kernel_density_z5": _q_kernel_density,
        "geo_cluster_markers": _q_cluster_markers,
        "raster_cost_distance_z5": _q_cost_distance,
        "maml_faspect_octant_z2": _q_faspect,
        "graph_connected_components": _q_connected_components,
        "pipeline_c4_filter": _q_c4_filter,
        "pipeline_fineweb_filter": _q_fineweb_filter,
        "geo_rasterize_hops_z2": _q_rasterize_hops,
        "raster_viewshed_z5": _q_viewshed,
        "events_time_weighted_avg": _q_time_weighted_avg,
        "events_direction_rose": _q_direction_rose,
        "raster_contour_z5": _q_contour,
        "raster_region_label_z5": _q_region_label,
        "raster_region_stats_z5": _q_region_stats,
        "geo_idw_interpolate": _q_idw,
        "geo_tile_assign_z8": _q_tile_assign(8),
        "geo_tile_assign_z12": _q_tile_assign(12),
        "geo_tile_assign_golden": _q_tile_assign_golden,
        "geo_tile_assign_utm33": _q_tile_assign_utm,
        "geo_pip_join_rect": _q_pip_join,
        "geo_pip_zone_agg": _q_pip_zone_agg,
        "geo_knn_ring_k10": _q_knn,
        "geo_knn_ring_k10_bulk": _q_knn_bulk,
        "doc_span_kind_counts": _q_span_kinds,
        "geo_rasterize_pixel_counts_z4": _q_pixel_counts,
        "doc_span_sequence_invariant": _q_span_invariant,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh_pairs": _q_minhash_pairs,
        "dedup_simhash_classes": _q_simhash,
        "dedup_simhash_hamming_pairs": _q_simhash_hamming,
        "dedup_cluster_assign": _q_cluster_assign,
        "dedup_ngram_jaccard_pairs": _q_ngram_jaccard,
        "dedup_embed_near_dup_pairs": _q_embed_near_dup,
        "text_stats": _q_text_stats,
        "text_token_count": _q_token_count,
        "text_fingerprint": _q_fingerprint,
        "text_lang_id": _q_lang_id,
        "text_chunk_windows": _q_chunk_documents,
        "text_split_assign": _q_split_assign,
        "text_stratified_sample": _q_stratified_sample,
        "text_redact_pii": _q_redact_pii,
        "text_repetition_stats": _q_repetition_stats,
        "pipeline_pretrain_curation": _q_pretrain_curation,
        "sim_cosine_topk20": _q_cosine_topk,
        "sim_ivf_full_probe": _q_ivf_full_probe,
        "sim_ivfpq_full_topk": _q_ivfpq_full_topk,
        "sim_lsh_ann_bucket": _q_lsh_ann_bucket,
        "maml_fslope_grad2_z2": _q_fslope,
        "agg_extent_folds": _q_extent_folds,
        "dedup_incremental_new": _q_incremental_dedup,
        "style_classify_breaks": _q_classify_breaks,
        "sim_pq_rerank_topk15": _q_pq_rerank,
        "text_pack_bins": _q_pack_sequences,
        "raster_crop_window_z3": _q_crop_window,
        "time_slice_default": _q_time_slice,
        "geo_pyramid_rollup_z3to2": _q_pyramid_rollup,
        "curation_blocklist_sources": _q_blocklist_filter,
        "geo_polygon_stats": _q_polygon_stats,
        "maml_hillshade_golden": _q_hillshade_golden,
        "maml_ndvi_multivar_z3": _q_ndvi_multivar,
        "style_interp_colormap": _q_interp_colormap,
        "raster_resample_bilinear2x": _q_resample_bilinear,
        "raster_temporal_mean_z2": _q_temporal_mean,
        "pipeline_decontaminate": _q_decontaminate,
        "sketch_kmv_distinct": _q_kmv_sketch,
        "sketch_quantile_sample": _q_quantile_sketch,
        "join_asof_purchase_view": _q_asof_join,
        "events_sessionize_1h": _q_sessionize,
        "sketch_cms_source_counts": _q_cms_counts,
        "pipeline_bpe_merges": _q_bpe_merges,
        "pipeline_bpe_encode": _q_bpe_encode,
        "geo_reproject_points_utm33": _q_reproject_points,
        "geo_reproject_proj4_lcc": _q_reproject_proj4_lcc,
        "pipeline_curation_v2": _q_curation_v2,
        "raster_zonal_histogram_z4": _q_zonal_histogram,
        "sketch_weighted_sample50": _q_weighted_sample,
        "join_range_value_bands": _q_range_join,
        "geo_point_sample_z3": _q_point_sample,
        "raster_stitch_window_z3": _q_stitch_window,
        "agg_corner_sampling": _q_corner_sampling,
        "raster_resample_cubic2x": _q_resample_cubic,
        "raster_resample_lanczos2x": _q_resample_lanczos,
        "agg_mosaic_metadata": _q_mosaic_metadata,
        "sketch_heavy_hitters": _q_heavy_hitters,
        "sketch_hll_registers": _q_hll_registers,
        "curation_topk_per_source": _q_topk_per_source,
        "text_bm25_stats": _q_bm25_stats,
        "pipeline_line_dedup_keep_first": _q_line_dedup,
        "pipeline_repeated_span_dedup": _q_repeated_span_dedup,
        "pipeline_dsir_importance": _q_dsir_importance,
        "sketch_bloom_registers": _q_bloom_registers,
        "join_bloom_prefilter": _q_bloom_prefilter,
        "text_lm_logprob": _q_lm_logprob,
        "sketch_kmv_set_ops": _q_kmv_set_ops,
        "sketch_sample_per_group": _q_sample_per_group,
        "graph_pagerank_purchases": _q_pagerank,
        "ml_kmeans_assign": _q_kmeans_assign,
        "dedup_semantic_pairs": _q_semantic_dedup,
        "ml_nb_classify": _q_nb_classify,
        "text_tfidf_top3": _q_tfidf_top3,
        "pipeline_ccnet_buckets": _q_ccnet_buckets,
        "graph_label_prop_communities": _q_label_prop,
        "geo_od_flows_r4": _q_od_flows,
        "text_winnow_fingerprints": _q_winnow,
        "dedup_winnow_containment": _q_winnow_containment,
        "curation_url_dedup": _q_url_dedup,
        "ml_linear_probe_stats": _q_probe_stats,
        "geo_trajectory_stats": _q_trajectory_stats,
        "join_interval_overlap": _q_interval_join,
        "events_resample_1h_ffill": _q_resample_ffill,
        "pipeline_quality_mix": _q_quality_mix,
        "events_zone_visits": _q_zone_visits,
        "pipeline_snapshot_diff": _q_snapshot_diff,
        "agg_minmax_fold_z4": _q_minmax_fold,
        "geo_zorder_keys_z8": _q_zorder_keys,
        "geo_geohash_encode": _q_geohash,
        "pipeline_gopher_filter": _q_gopher,
        "raster_local_moran_z2": _q_local_moran,
        "pipeline_curation_v3": _q_curation_v3,
        "events_funnel_3stage": _q_funnel,
        "events_retention_weekly": _q_retention,
        "text_pmi_collocations": _q_pmi_pairs,
        "agg_group_quantiles": _q_group_quantiles,
        "events_transition_matrix": _q_transitions,
        "graph_kcore_3": _q_kcore,
        "events_value_outliers": _q_value_outliers,
        "pipeline_dataset_card": _q_dataset_card,
        "text_langid_confusion": _q_langid_confusion,
        "raster_hotspots_z2": _q_hotspots,
        "geo_hull_summary": _q_hull_summary,
        "geo_hull_diameter": _q_hull_diameter,
        "geo_hilbert_keys_z8": _q_hilbert_keys,
        "geo_hilbert_ranges_bbox": _q_hilbert_ranges,
        "geo_quadtree_adapt_z8": _q_quadtree_adapt,
        "geo_hull_contains": _q_hull_contains,
    }


def oracle_sql() -> dict[str, str]:
    pts = f"SELECT id, {_LON} AS lon, {_LAT} AS lat FROM {_IDS_SQL} t"
    knn_vals = ", ".join(f"({q}, CAST({x} AS DOUBLE), CAST({y} AS DOUBLE))" for q, x, y in KNN_QUERIES)
    tx4, ty4 = sqlgen.tile_x_sql("lon", 4), sqlgen.tile_y_sql("lat", 4)
    npx4 = (1 << 4) * 64
    gpx = f"CAST(greatest(least(floor(({sqlgen.mercator_x_sql('lon')}) * {npx4}), {npx4 - 1}), 0) AS BIGINT)"
    gpy = f"CAST(greatest(least(floor(({sqlgen.mercator_y_sql('lat')}) * {npx4}), {npx4 - 1}), 0) AS BIGINT)"
    return {
        "geo_cell_encode_r6": f"""
            SELECT {sqlgen.cell_key_sql('lon', 'lat', 6)} AS cell, count(*) AS n_docs
            FROM ({pts}) GROUP BY 1
        """,
        "geo_kernel_density_z5": _kernel_density_oracle(),
        "geo_cluster_markers": _cluster_markers_oracle(),
        "raster_cost_distance_z5": _cost_distance_oracle(),
        "maml_faspect_octant_z2": _faspect_oracle(),
        "graph_connected_components": _connected_components_oracle(),
        "pipeline_c4_filter": _c4_filter_oracle(),
        "pipeline_fineweb_filter": _fineweb_filter_oracle(),
        "geo_rasterize_hops_z2": _rasterize_hops_oracle(),
        "raster_viewshed_z5": _viewshed_oracle(),
        "events_time_weighted_avg": _time_weighted_avg_oracle(),
        "events_direction_rose": _direction_rose_oracle(),
        "raster_contour_z5": _contour_oracle(),
        "raster_region_label_z5": _region_label_oracle(),
        "raster_region_stats_z5": _region_stats_oracle(),
        "geo_idw_interpolate": _idw_oracle(),
        "geo_tile_assign_z8": f"""
            SELECT {sqlgen.tile_x_sql('lon', 8)} AS tile_x, {sqlgen.tile_y_sql('lat', 8)} AS tile_y,
                   count(*) AS n_docs
            FROM ({pts}) GROUP BY 1, 2
        """,
        "geo_tile_assign_golden": _tile_assign_golden_oracle(),
        "geo_tile_assign_utm33": _tile_assign_utm_oracle(),
        "geo_tile_assign_z12": f"""
            SELECT {sqlgen.tile_x_sql('lon', 12)} AS tile_x, {sqlgen.tile_y_sql('lat', 12)} AS tile_y,
                   count(*) AS n_docs
            FROM ({pts}) GROUP BY 1, 2
        """,
        "geo_pip_join_rect": f"""
            SELECT printf('doc-%012d', id) AS doc_id,
                   {sqlgen.zone_id_for_point_sql('lon', 'lat')} AS zone_id
            FROM ({pts})
        """,
        "geo_pip_zone_agg": f"""
            SELECT {sqlgen.zone_id_for_point_sql('lon', 'lat')} AS zone_id, count(*) AS n_docs
            FROM ({pts}) GROUP BY 1
        """,
        "geo_knn_ring_k10": f"""
            WITH q(query_id, qlon, qlat) AS (VALUES {knn_vals}),
            d AS (SELECT q.query_id, printf('doc-%012d', p.id) AS doc_id,
                         (p.lon - q.qlon) * (p.lon - q.qlon)
                       + (p.lat - q.qlat) * (p.lat - q.qlat) AS dist_sq
                  FROM ({pts}) p CROSS JOIN q)
            SELECT query_id, doc_id, rank FROM (
              SELECT query_id, doc_id,
                     CAST(row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist_sq, doc_id) AS INT) AS rank
              FROM d) WHERE rank <= {KNN_K}
        """,
        "geo_knn_ring_k10_bulk": _knn_bulk_oracle(),
        "doc_span_kind_counts": f"""
            SELECT CASE WHEN i = id % ((id % 7) + 1) THEN 'geo'
                        WHEN (id + i) % 3 = 0 THEN 'media'
                        ELSE 'text' END AS kind, count(*) AS n
            FROM {_IDS_SQL} t
            JOIN range(8) s(i) ON s.i <= t.id % 7
            GROUP BY 1
        """,
        "geo_rasterize_pixel_counts_z4": f"""
            SELECT {tx4} AS tile_x, {ty4} AS tile_y,
                   (({gpy}) - ({ty4}) * 64) * 64 + (({gpx}) - ({tx4}) * 64) AS pixel,
                   count(*) AS cnt
            FROM ({pts}) GROUP BY 1, 2, 3
        """,
        "geo_zorder_keys_z8": f"""
            SELECT {__import__('geotrellis_server_spark.sources.zorder',
                               fromlist=['zorder_key_expr'])
                    .zorder_key_expr(f'({sqlgen.tile_x_sql("lon", 8)})',
                                     f'({sqlgen.tile_y_sql("lat", 8)})')}
                   AS zkey, count(*) AS n_docs
            FROM ({pts}) GROUP BY 1
        """,
        "pipeline_gopher_filter": _gopher_oracle(),
        "raster_local_moran_z2": _local_moran_oracle(),
        "geo_geohash_encode": f"""
            SELECT {__import__('geotrellis_server_spark.grids.geohash',
                               fromlist=['geohash_expr'])
                    .geohash_expr('lon', 'lat', 6)}
                   AS geohash, count(*) AS n_docs
            FROM ({pts}) GROUP BY 1
        """,
        "agg_minmax_fold_z4": f"""
            WITH pc AS (
                SELECT {tx4} AS tile_x, {ty4} AS tile_y,
                       (({gpy}) - ({ty4}) * 64) * 64
                           + (({gpx}) - ({tx4}) * 64) AS pixel,
                       count(*) AS cnt
                FROM ({pts}) GROUP BY 1, 2, 3),
            t AS (SELECT count(*) AS np, min(cnt) AS mn, max(cnt) AS mx
                  FROM pc),
            nt AS (SELECT count(*) AS n FROM (
                  SELECT DISTINCT tile_x, tile_y FROM pc))
            SELECT 1 AS band,
                   CASE WHEN t.np < nt.n * 4096 THEN CAST(0 AS DOUBLE)
                        ELSE CAST(t.mn AS DOUBLE) END AS min_value,
                   CAST(t.mx AS DOUBLE) AS max_value
            FROM t, nt
        """,
        "maml_focal_fsum_z2": _focal_fsum_oracle(),
        "maml_mask_polygon_z3": _mask_polygon_oracle(),
        "maml_focal_fsum_over_sum": _focal_fsum_over_sum_oracle(),
        "time_interval_to_positions": """
            WITH hull AS (SELECT user_id, min(ts) AS s, max(ts) AS e FROM events GROUP BY 1)
            SELECT user_id, unnest(generate_series(s, e, INTERVAL 7 DAY)) AS position
            FROM hull
        """,
        "raster_resample_avg": _resample_avg_oracle(),
        "raster_zonal_stats_z4": _zonal_stats_oracle(),
        "raster_interpret_as_int": """
            SELECT t.id % 5 AS tile_x, CAST((t.id - t.id % 5) / 5 AS BIGINT) AS tile_y,
                   CAST(s.i AS INT) AS idx,
                   CASE WHEN CAST(t.id + s.i AS DOUBLE) / 3.0 = 2.0 THEN NULL
                        ELSE CAST(floor(CAST(t.id + s.i AS DOUBLE) / 3.0) AS DOUBLE) END AS value
            FROM range(25) t(id) CROSS JOIN range(16) s(i)
        """,
        "skew_salted_cell_agg": f"""
            SELECT {sqlgen.cell_key_sql('lon', 'lat', 4)} AS cell,
                   CAST(count(*) AS INT) AS n_docs
            FROM ({pts}) GROUP BY 1
        """,
        "geo_pip_join_poly_convex": f"""
            WITH p AS ({pts})
            SELECT printf('doc-%012d', id) AS doc_id, 1000 AS zone_id FROM p
            WHERE lon BETWEEN -10.0 AND 30.0 AND lat BETWEEN -10.0 AND 30.0
            UNION ALL
            SELECT printf('doc-%012d', id) AS doc_id, 1001 AS zone_id FROM p
            WHERE 50.0 * (lat + 80.0) >= 0.0
              AND (-25.0) * (lat + 80.0) - 50.0 * (lon + 120.0) >= 0.0
              AND (-25.0) * (lat + 30.0) + 50.0 * (lon + 145.0) >= 0.0
        """,
        "raster_mosaic_merge": """
            SELECT t.id % 5 AS tile_x, CAST((t.id - t.id % 5) / 5 AS BIGINT) AS tile_y,
                   CAST(s.i AS INT) AS idx,
                   COALESCE(
                     CASE WHEN (t.id * 16 + s.i) % 5 = 0 THEN NULL
                          ELSE CAST(t.id + s.i AS DOUBLE) END,
                     CASE WHEN (t.id * 16 + s.i) % 7 = 0 THEN NULL
                          ELSE CAST(100 + t.id - s.i AS DOUBLE) END) AS value
            FROM range(25) t(id) CROSS JOIN range(16) s(i)
        """,
        "time_between_half_open": """
            SELECT event_id FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              AND ts < TIMESTAMP '2024-01-20 00:00:00'
        """,
        "time_between_ogc_overlap": """
            WITH iv AS (SELECT user_id, date_trunc('day', ts) AS day,
                               min(ts) AS s, max(ts) AS e
                        FROM events GROUP BY 1, 2)
            SELECT user_id, day FROM iv
            WHERE (TIMESTAMP '2024-01-10 12:00:00' <= s AND s <= TIMESTAMP '2024-01-11 12:00:00')
               OR (TIMESTAMP '2024-01-10 12:00:00' <= e AND e <= TIMESTAMP '2024-01-11 12:00:00')
        """,
        "agg_price_histogram": """
            WITH v AS (SELECT l_extendedprice AS v FROM lineitem
                       WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)),
            mm AS (SELECT min(v) AS lo, max(v) AS hi FROM v)
            SELECT greatest(least(CAST(floor((v - lo) / (CASE WHEN hi - lo = 0 THEN 1.0
                                  ELSE hi - lo END) * 16) AS INT), 15), 0) AS bucket,
                   count(*) AS count
            FROM v, mm GROUP BY 1
        """,
        "geo_zoom_select": f"""
            SELECT id AS req_id,
                   {2 * 20037508.342789244} / (100.0 + CAST(id AS DOUBLE) * 37.0) AS req_cell_size,
                   greatest(0, CAST(ceil(log2({2 * 20037508.342789244}
                     / (({2 * 20037508.342789244} / (100.0 + CAST(id AS DOUBLE) * 37.0)) * 256.0))) AS INT)) AS zoom
            FROM range(1, 60) t(id)
        """,
        "doc_span_sequence_invariant": _span_invariant_oracle(),
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_lsh_pairs": _minhash_oracle(),
        "dedup_simhash_classes": _simhash_oracle(),
        "dedup_cluster_assign": _cluster_assign_oracle(),
        "dedup_simhash_hamming_pairs": _simhash_hamming_oracle(),
        "dedup_ngram_jaccard_pairs": _minhash_oracle(toks_sql=_NGRAM_TOKS),
        "dedup_embed_near_dup_pairs": _near_dup_oracle(),
        "text_stats": """
            SELECT doc_id, length(text) AS n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stopword_ratio
            FROM documents
        """,
        "text_token_count": """
            SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens_est
            FROM documents
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "text_lang_id": _lang_id_oracle(),
        "text_chunk_windows": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            n AS (SELECT doc_id, toks,
                         greatest(CAST(ceil((len(toks) - 10) / 40.0) AS INT), 1) AS nw
                  FROM t),
            w AS (SELECT doc_id, toks, unnest(range(0, nw)) AS i FROM n)
            SELECT doc_id, CAST(i AS INT) AS chunk_id,
                   array_to_string(toks[(i*40+1):(i*40+50)], ' ') AS chunk,
                   CAST(len(toks[(i*40+1):(i*40+50)]) AS INT) AS n_chunk_tokens
            FROM w
        """,
        "text_split_assign": """
            SELECT doc_id,
                   CASE WHEN h < 'cccd' THEN 'train'
                        WHEN h < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         substr(md5(CAST(doc_id AS VARCHAR) || '#split-v1'), 1, 4) AS h
                  FROM documents)
        """,
        "text_stratified_sample": _stratified_sample_oracle(),
        "pipeline_pretrain_curation": _pretrain_curation_oracle(),
        "text_redact_pii": _redact_pii_oracle(),
        "text_repetition_stats": """
            SELECT doc_id,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS unique_token_ratio,
                   CASE WHEN len(string_split(text, ' ')) < 2 THEN 0.0 ELSE
                     CAST(len(list_filter(range(2, len(string_split(text, ' ')) + 1),
                          i -> string_split(text, ' ')[i] = string_split(text, ' ')[i - 1]))
                          AS DOUBLE)
                     / (len(string_split(text, ' ')) - 1) END AS adjacent_repeat_frac
            FROM documents
        """,
        "sim_ivf_full_probe": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
            s AS (SELECT vec_id,
                         list_dot_product(embedding::DOUBLE[], qv)
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv, qv))) AS cosine
                  FROM embeddings, q)
            SELECT vec_id, rank FROM (
              SELECT vec_id,
                     CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
              FROM s) WHERE rank <= 15
        """,
        "sim_ivfpq_full_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
            s AS (SELECT vec_id,
                         list_dot_product(embedding::DOUBLE[], qv)
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv, qv))) AS cosine
                  FROM embeddings, q)
            SELECT vec_id, rank FROM (
              SELECT vec_id,
                     CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
              FROM s) WHERE rank <= 12
        """,
        "sim_lsh_ann_bucket": _lsh_bucket_oracle(),
        "maml_fslope_grad2_z2": _fslope_oracle(),
        "agg_extent_folds": _extent_folds_oracle(),
        "dedup_incremental_new": _incremental_dedup_oracle(),
        "style_classify_breaks": _classify_breaks_oracle(),
        "sim_pq_rerank_topk15": _pq_rerank_oracle(),
        "text_pack_bins": _pack_sequences_oracle(),
        "raster_crop_window_z3": _crop_window_oracle(),
        "time_slice_default": _time_slice_oracle(),
        "geo_pyramid_rollup_z3to2": _pyramid_rollup_oracle(),
        "curation_blocklist_sources": _blocklist_filter_oracle(),
        "geo_polygon_stats": _polygon_stats_oracle(),
        "maml_hillshade_golden": _hillshade_golden_oracle(),
        "maml_ndvi_multivar_z3": _ndvi_multivar_oracle(),
        "style_interp_colormap": _interp_colormap_oracle(),
        "raster_resample_bilinear2x": _resample_bilinear_oracle(),
        "raster_temporal_mean_z2": _temporal_mean_oracle(),
        "pipeline_decontaminate": _decontaminate_oracle(),
        "pipeline_bpe_merges": _bpe_oracle(),
        "pipeline_bpe_encode": _bpe_encode_oracle(),
        "sketch_kmv_distinct": _kmv_sketch_oracle(),
        "sketch_quantile_sample": _quantile_sketch_oracle(),
        "join_asof_purchase_view": _asof_join_oracle(),
        "events_sessionize_1h": _sessionize_oracle(),
        "sketch_cms_source_counts": _cms_counts_oracle(),
        "geo_reproject_points_utm33": _reproject_points_oracle(),
        "geo_reproject_proj4_lcc": _reproject_proj4_lcc_oracle(),
        "pipeline_curation_v2": _curation_v2_oracle(),
        "raster_zonal_histogram_z4": _zonal_histogram_oracle(),
        "sketch_weighted_sample50": _weighted_sample_oracle(),
        "join_range_value_bands": _range_join_oracle(),
        "sim_cosine_topk20": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            s AS (SELECT vec_id,
                         list_dot_product(embedding::DOUBLE[], qv)
                         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                            * sqrt(list_dot_product(qv, qv))) AS cosine
                  FROM embeddings, q)
            SELECT vec_id, rank FROM (
              SELECT vec_id,
                     CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS rank
              FROM s) WHERE rank <= 20
        """,
        "geo_point_sample_z3": _point_sample_oracle(),
        "raster_stitch_window_z3": _stitch_window_oracle(),
        "agg_corner_sampling": _corner_sampling_oracle(),
        "raster_resample_cubic2x": _resample_cubic_oracle(),
        "raster_resample_lanczos2x": _resample_lanczos_oracle(),
        "agg_mosaic_metadata": _mosaic_metadata_oracle(),
        "sketch_heavy_hitters": _heavy_hitters_oracle(),
        "sketch_hll_registers": _hll_registers_oracle(),
        "curation_topk_per_source": _topk_per_source_oracle(),
        "text_bm25_stats": _bm25_stats_oracle(),
        "pipeline_line_dedup_keep_first": _line_dedup_oracle(),
        "pipeline_repeated_span_dedup": _repeated_span_oracle(),
        "pipeline_dsir_importance": _dsir_importance_oracle(),
        "sketch_bloom_registers": _bloom_registers_oracle(),
        "join_bloom_prefilter": _bloom_prefilter_oracle(),
        "text_lm_logprob": _lm_logprob_oracle(),
        "sketch_kmv_set_ops": _kmv_set_ops_oracle(),
        "sketch_sample_per_group": _sample_per_group_oracle(),
        "graph_pagerank_purchases": _pagerank_oracle(),
        "ml_kmeans_assign": _kmeans_oracle(),
        "dedup_semantic_pairs": _semantic_dedup_oracle(),
        "ml_nb_classify": _nb_classify_oracle(),
        "text_tfidf_top3": _tfidf_top3_oracle(),
        "pipeline_ccnet_buckets": _ccnet_buckets_oracle(),
        "graph_label_prop_communities": _label_prop_oracle(),
        "geo_od_flows_r4": _od_flows_oracle(),
        "text_winnow_fingerprints": _winnow_oracle(),
        "dedup_winnow_containment": _winnow_containment_oracle(),
        "curation_url_dedup": _url_dedup_oracle(),
        "ml_linear_probe_stats": _probe_stats_oracle(),
        "geo_trajectory_stats": _trajectory_stats_oracle(),
        "join_interval_overlap": _interval_join_oracle(),
        "events_resample_1h_ffill": _resample_ffill_oracle(),
        "pipeline_quality_mix": _quality_mix_oracle(),
        "events_zone_visits": _zone_visits_oracle(),
        "pipeline_snapshot_diff": _snapshot_diff_oracle(),
        "pipeline_curation_v3": _curation_v3_oracle(),
        "events_funnel_3stage": _funnel_oracle(),
        "events_retention_weekly": _retention_oracle(),
        "text_pmi_collocations": _pmi_pairs_oracle(),
        "agg_group_quantiles": _group_quantiles_oracle(),
        "events_transition_matrix": _transitions_oracle(),
        "graph_kcore_3": _kcore_oracle(),
        "events_value_outliers": _value_outliers_oracle(),
        "pipeline_dataset_card": _dataset_card_oracle(),
        "text_langid_confusion": _langid_confusion_oracle(),
        "raster_hotspots_z2": _hotspots_oracle(),
        "geo_hull_summary": _hull_summary_oracle(),
        "geo_hull_diameter": _hull_diameter_oracle(),
        "geo_hilbert_keys_z8": _hilbert_keys_oracle(),
        "geo_hilbert_ranges_bbox": _hilbert_ranges_oracle(),
        "geo_quadtree_adapt_z8": _quadtree_adapt_oracle(),
        "geo_hull_contains": _hull_contains_oracle(),
    }


_LOREM_LIST = "['alpha','beta','gamma','delta','epsilon','zeta','eta','theta']"


def _span_invariant_oracle() -> str:
    lon = sqlgen.lon_sql("t.id")
    lat = sqlgen.lat_sql("t.id")
    return f"""
    WITH sp AS (
      SELECT t.id, s.i,
        CASE
          WHEN s.i = t.id % ((t.id % 7) + 1) THEN
            'geo:POINT(' || printf('%.10f', {lon}) || ' ' || printf('%.10f', {lat})
            || ')::' || CAST(s.i AS VARCHAR)
          WHEN (t.id + s.i) % 3 = 0 THEN
            -- overflow-free decomposition of (id*2654435761 + i*97) mod 2^32
            -- (mirrors sources/synth.spans_sql; see comment there)
            'media::ref://' || lpad(lower(to_hex(((t.id % 65536) * 2654435761
              + (CAST(floor(CAST(t.id AS DOUBLE) / 65536.0) AS BIGINT) % 65536) * 2041643008
              + s.i * 97) % 4294967296)), 8, '0')
            || ':' || CAST(s.i AS VARCHAR)
          ELSE
            'text:' || ({_LOREM_LIST})[CAST((t.id * 7 + s.i) % 8 AS INT) + 1]
            || '::' || CAST(s.i AS VARCHAR)
        END AS part
      FROM {_IDS_SQL} t JOIN range(8) s(i) ON s.i <= t.id % 7)
    SELECT printf('doc-%012d', id) AS doc_id,
           string_agg(part, '|' ORDER BY i) AS span_sig
    FROM sp GROUP BY id
    """


_WORD_TOKS = "SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents"
_NGRAM_TOKS = (
    "SELECT DISTINCT doc_id, unnest(list_distinct([substring(text, CAST(i AS INT), 3) "
    "for i in range(1, greatest(length(text) - 2, 1) + 1)])) AS tok FROM documents"
)


def _minhash_oracle(k: int = 8, bands: int = 4, rows: int = 2, thr: float = 0.5,
                    toks_sql: str = _WORD_TOKS) -> str:
    sig_cols = ", ".join(f"min(md5(tok || '#{i}')) AS mh{i}" for i in range(k))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sigs".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    WITH toks AS ({toks_sql}),
    sigs AS (SELECT doc_id, {sig_cols} FROM toks GROUP BY doc_id),
    bandt AS ({band_selects}),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bandt x JOIN bandt y ON x.band = y.band AND x.bucket = y.bucket
             WHERE x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (SELECT c.a, c.b, count(*) AS n
              FROM cand c
              JOIN toks ta ON ta.doc_id = c.a
              JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
              GROUP BY c.a, c.b)
    SELECT i.a, i.b
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
    WHERE CAST(i.n AS DOUBLE) / (sa.sz + sb.sz - i.n) >= {thr}
    """


def _simhash_oracle(n_bits: int = 16) -> str:
    hexes = "('8','9','a','b','c','d','e','f')"
    votes = ", ".join(
        f"sum(CASE WHEN substr(md5(tok), {j + 1}, 1) IN {hexes} THEN 1 ELSE -1 END) AS v{j}"
        for j in range(n_bits)
    )
    bits = " || ".join(f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(n_bits))
    return f"""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
    sig AS (SELECT doc_id, {bits} AS simhash FROM votes)
    SELECT simhash, min(doc_id) AS survivor_id, count(*) AS n_docs FROM sig GROUP BY 1
    """
