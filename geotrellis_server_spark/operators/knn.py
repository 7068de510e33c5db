"""kNN via cell-ring expansion (SURVEY.md J6 — the kNN extension of the
reference's multipoint GetFeatureInfoExtended bulk sampling,
ogc/.../wms/GetFeatureInfoExtended.scala:57-105).

Exact k nearest documents for a broadcastable set of query points, in
one ring loop (:func:`knn_join_bulk`; :func:`knn_join` is its front end
for a Python list of queries):

1. The queries are read once into the driver; each ring's still-pending
   queries enter the plan as a local relation (``LocalTableScan``).
2. Each pending query covers the (2·ring+1)² block of cells around its
   own cell at res R, exploded JVM-side and broadcast; docs ⨝ cells on
   the cell key (the docs never shuffle) → distance → per-query top-k
   via window row_number (ties broken by doc_id — deterministic).
3. Exactness guarantee, evaluated as a column expression: the kth
   distance must not exceed the distance from the query to the
   unexplored boundary of its disk. Queries that fail expand their ring
   (doubling) — the reference's early-exit ring expansion; the ring that
   covers the whole world ends every query.

Distance metric: squared euclidean in degrees (documented engine
convention; the oracle uses the same expression).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import sqlgen
from ..grids import cells as C

# Every ring is a full corpus pass, and with auto_res sizing the ring-1
# disk at ~2k candidates, real (non-uniform) corpora leave a tail of
# sparse-region queries whose guarantee fails at ring 1. A 5×5 first
# disk makes one-pass termination the norm; measured at 4M docs /
# 1,000 queries: ring 1 = 3.83 s (two corpus passes), ring 2 = 2.12 s
# (one). Results do not depend on the ring schedule.
_FIRST_RING = 2


def knn_join_bulk(
    docs: DataFrame,
    queries: DataFrame,
    k: int,
    res: int | None = None,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact kNN by cell-ring expansion, the engine's one kNN loop.

    ``queries``: DataFrame(query_id, qlon, qlat). Returns (query_id,
    doc_id, dist_sq, rank) with exactly min(k, |docs|) rows per query.

    ``queries`` is read once (``toPandas``); the pending set then lives
    on the driver and enters each ring's plan as a local relation, so
    every ring's plan is one level deep whatever the number of rings.
    Per ring (ring doubles, shared by all still-pending queries):
      1. disk cells exploded JVM-side (sequence × sequence — no Python),
      2. docs ⨝ broadcast(query-cells) on the cell key (docs never
         shuffle),
      3. per-query top-k via window row_number (shuffle keyed by query_id
         — one partition per query, AQE splits a skewed disk),
      4. the exactness guarantee (kth distance ≤ distance to the
         unexplored disk boundary, clipped sides exhausted → ∞) as a
         column expression; the one job of the ring collects the
         query_ids that pass (at most |pending| rows). Their top-k rows
         join the result union; the rest re-ring. The ring that covers
         the whole world ends every query without that job.
    The top-k rows never pass through the driver: each ring's top-k is
    persisted, so the done-id job and the final union share one
    computation, and the union goes through ``localCheckpoint``.

    ``res=None`` (the default) picks the cell resolution from corpus
    density via :func:`auto_res` — one metadata-cheap count() against
    the docs input. Exactness is resolution-INDEPENDENT (the ring
    guarantee terminates each query); res only moves the candidate-set
    size, so callers pin it solely for benchmarking.

    Ring iterations re-read only the NARROW (id, lon, lat, cell)
    projection of the corpus (explicit select below — column pruning
    through the join); persisting that projection across rings was
    measured a wash against the pruned columnar rescan, so no caching."""
    spark = docs.sparkSession
    if res is None:
        res = auto_res(docs.count())
    n = 1 << res
    docs_c = docs.select(F.col(id_col), F.col(lon), F.col(lat)).withColumn(
        "_cell", C.cell_key_col(lon, lat, res))

    q = queries.select(
        "query_id", F.col("qlon").cast("double"), F.col("qlat").cast("double"))
    q_schema = q.schema
    q_pdf = q.toPandas()

    w_lon = 360.0 / n
    inv_merc = "degrees(2.0 * atan(exp(pi() * (1.0 - 2.0 * ({my})))) - pi() / 2.0)"

    def guarantee_sq(ring: int) -> F.Column:
        lon0 = f"(CAST(greatest(_qcx - {ring}, 0) AS DOUBLE) * {w_lon!r} - 180.0)"
        lon1 = f"(CAST(least(_qcx + {ring}, {n - 1}) + 1 AS DOUBLE) * {w_lon!r} - 180.0)"
        lat_n = inv_merc.format(my=f"CAST(greatest(_qcy - {ring}, 0) AS DOUBLE) / {n}.0")
        lat_s = inv_merc.format(my=f"CAST(least(_qcy + {ring}, {n - 1}) + 1 AS DOUBLE) / {n}.0")
        # sides clipped at the world edge are exhausted → excluded (NULL);
        # least() skips NULLs; all clipped → NULL → infinity
        g = (
            f"least("
            f"CASE WHEN _qcx - {ring} > 0 THEN qlon - {lon0} END, "
            f"CASE WHEN _qcx + {ring} < {n - 1} THEN {lon1} - qlon END, "
            f"CASE WHEN _qcy + {ring} < {n - 1} THEN qlat - {lat_s} END, "
            f"CASE WHEN _qcy - {ring} > 0 THEN {lat_n} - qlat END)"
        )
        # explicit multiply (not power()) — matches the engine's exact-
        # arithmetic convention; evaluated twice but codegen CSEs it
        return F.expr(
            f"coalesce(greatest({g}, 0.0) * greatest({g}, 0.0), CAST('Infinity' AS DOUBLE))"
        )

    results = []
    cached = []
    ring = _FIRST_RING
    while True:
        pending = spark.createDataFrame(q_pdf, q_schema).select(
            "*",
            F.expr(sqlgen.tile_x_sql("qlon", res)).alias("_qcx"),
            F.expr(sqlgen.tile_y_sql("qlat", res)).alias("_qcy"),
        )
        cand = (
            pending.select(
                "*",
                F.explode(
                    F.expr(f"sequence(greatest(_qcx - {ring}, 0), least(_qcx + {ring}, {n - 1}))")
                ).alias("_cx"),
            )
            .select(
                "*",
                F.explode(
                    F.expr(f"sequence(greatest(_qcy - {ring}, 0), least(_qcy + {ring}, {n - 1}))")
                ).alias("_cy"),
            )
            .withColumn("_cell", F.col("_cx") * n + F.col("_cy"))
            .drop("_cx", "_cy")
        )
        joined = docs_c.join(F.broadcast(cand), "_cell", "inner")
        # explicit multiply (not **2 → pow()) so dist is bit-identical to
        # the oracle's (a-b)*(a-b) arithmetic
        dx = F.col(lon) - F.col("qlon")
        dy = F.col(lat) - F.col("qlat")
        w = Window.partitionBy("query_id").orderBy(F.asc("dist_sq"), F.asc(id_col))
        # only (query_id, id, dist_sq) ride the window exchange+sort;
        # the query coords re-attach to the tiny per-query aggregate
        # from the broadcast pending table instead
        topk = (
            joined.withColumn("dist_sq", dx * dx + dy * dy)
            .select("query_id", id_col, "dist_sq")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .persist()
        )
        cached.append(topk)
        if ring >= n:  # the disk is the whole world: every top-k is final
            results.append(topk)
            break
        # queries with ZERO candidates this ring never appear in the
        # aggregate, so they are never done and stay pending
        done = [
            r.query_id
            for r in topk.groupBy("query_id")
            .agg(F.count("*").alias("_n"), F.max("dist_sq").alias("_kth"))
            .join(F.broadcast(pending), "query_id")
            .filter((F.col("_n") >= k) & (F.col("_kth") <= guarantee_sq(ring)))
            .select("query_id")
            .collect()
        ]
        # an IN list, not a broadcast semi join: on 3 rings (4 cores) the
        # semi joins took the final localCheckpoint from 0.1 s to 0.8 s
        results.append(topk.filter(F.col("query_id").isin(done)))
        q_pdf = q_pdf[~q_pdf["query_id"].isin(done)]
        if q_pdf.empty:
            break
        ring = min(ring * 2, n)

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    out = out.localCheckpoint(eager=True)  # materialize before unpersist
    for c in cached:
        c.unpersist()
    return out


def knn_join(
    docs: DataFrame,
    queries: list[tuple[int, float, float]],
    k: int,
    res: int | None = None,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "doc_id",
) -> DataFrame:
    """queries: [(query_id, lon, lat)]. Returns (query_id, doc_id, dist_sq,
    rank) with exactly min(k, |docs in world|) rows per query: the list
    enters as a local relation and runs :func:`knn_join_bulk`'s loop."""
    pdf = pd.DataFrame(queries, columns=["query_id", "qlon", "qlat"]).astype(
        {"query_id": "int64", "qlon": "float64", "qlat": "float64"})
    qdf = docs.sparkSession.createDataFrame(pdf, "query_id BIGINT, qlon DOUBLE, qlat DOUBLE")
    return knn_join_bulk(docs, qdf, k, res, lon, lat, id_col)


def auto_res(n_docs: int, target_disk: int = 2000) -> int:
    """Pick the cell resolution for ``knn_join_bulk`` from corpus size:
    aim the ring-1 disk (9 cells) at ~``target_disk`` candidate docs per
    query — enough that the exactness guarantee usually holds on the
    first ring (too-coarse floods the per-query top-k window with
    candidates; too-fine re-rings extra rounds). Measured at 4M docs:
    res 6 / 7 / 8 -> 10.3 / 5.5 / 9.1 s for 1,000 queries, and
    auto_res(4e6) = 7."""
    import math

    cells = max(9.0 * float(n_docs) / float(target_disk), 4.0)
    res = int(round(math.log2(math.sqrt(cells))))
    return min(max(res, 2), 12)
