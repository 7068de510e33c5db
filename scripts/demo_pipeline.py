"""End-to-end training-data pipeline demo over the interleaved docs table:

ingest → text quality filter → exact dedup → geo enrichment (cell keys)
→ train-ready table → density raster → UTM GetMap render → GeoTIFF sink,
with per-stage metrics.

Run: python scripts/demo_pipeline.py
"""

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))  # the repo root

import pyspark.sql.functions as F

from geotrellis_server_spark.grids import cells as C
from geotrellis_server_spark.operators import dedup, text
from geotrellis_server_spark.session import get_spark
from geotrellis_server_spark.sources import synth


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    metrics = []

    def stage(name, df):
        t0 = time.time()
        n = df.count()
        metrics.append((name, n, round(time.time() - t0, 2)))
        return df

    docs = stage("ingest", synth.extract_geometry(synth.docs(spark, 20_000)).cache())

    # 1. text side: flatten text spans, quality-score, filter
    texts = docs.select(
        "doc_id",
        F.expr(
            "array_join(transform(filter(spans, s -> s.kind = 'text'), s -> s.text), ' ')"
        ).alias("text"),
    ).filter(F.length("text") > 0)
    scored = text.text_stats(texts)
    kept = stage("quality_filter", texts.join(scored.filter("n_tokens >= 2"), "doc_id", "left_semi"))

    # 2. dedup: exact classes → survivors only
    survivors = dedup.exact_dedup(kept, id_col="doc_id").select(
        F.col("survivor_id").alias("doc_id")
    )
    deduped = stage("exact_dedup", kept.join(survivors, "doc_id", "left_semi"))

    # 3. geo enrichment + final assembly
    enriched = (
        docs.join(deduped.select("doc_id"), "doc_id", "left_semi")
        .withColumn("cell_r6", C.cell_key_col("lon", "lat", 6))
        .select("doc_id", "spans", "lon", "lat", "cell_r6")
    )
    train = stage(
        "train_table",
        enriched.join(texts.select("doc_id", "text"), "doc_id", "left"),
    )
    out = "/tmp/train_ready.parquet"
    train.write.mode("overwrite").parquet(out)

    print("\nstage            rows    sec")
    for name, n, s in metrics:
        print(f"{name:16s} {n:7d}  {s:5.2f}")
    sample = train.first()
    print("\nsample row:", sample.doc_id, "cell:", sample.cell_r6,
          "text:", (sample.text or "")[:40])
    print("wrote", out)

    # 4. serving tail: rasterize the kept docs, serve a UTM GetMap
    #    window, and sink it as a (pure-stdlib) GeoTIFF
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.operators import tiling
    from geotrellis_server_spark.sources.gtiff import encode_geotiff

    tiles = tiling.rasterize_count(
        docs.join(deduped.select("doc_id"), "doc_id", "left_semi"), 5, tile_size=64
    ).withColumn("band", F.lit(0))
    eng = Engine(spark, {"density": Layer("density", tiles)})
    t0 = time.time()
    arr, ext = eng.get_extent_reprojected(
        "density", (300000.0, 4200000.0, 800000.0, 4700000.0), 32618, 128, 128
    )
    tif = encode_geotiff(arr, ext, epsg=32618, nodata=float("nan"))
    with open("/tmp/density_utm18n.tif", "wb") as f:
        f.write(tif)
    print(f"UTM GetMap + GeoTIFF sink: {arr.shape} px, "
          f"{len(tif):,} bytes, {time.time() - t0:.2f}s -> /tmp/density_utm18n.tif")
    spark.stop()


if __name__ == "__main__":
    main()
