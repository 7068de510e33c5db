"""End-to-end demo: the reference's WMS GetMap lifecycle as a batch job.

docs (interleaved spans) → geometry extraction → rasterize pyramid →
Engine.get_extent (overview-pruned, cropped) → styled PNG bytes → file.

Run: python scripts/demo_getmap.py [out.png]
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))  # the repo root

from geotrellis_server_spark.engine import Engine, Layer
from geotrellis_server_spark.grids.layout import WEBMERCATOR_BOUND as B
from geotrellis_server_spark.maml import ast as M
from geotrellis_server_spark.operators import tiling
from geotrellis_server_spark.session import get_spark
from geotrellis_server_spark.sources import synth

import pyspark.sql.functions as F


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/demo_getmap.png"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = synth.extract_geometry(synth.docs(spark, 50_000))
    pyramid = None
    for z in (2, 3, 4):
        t = tiling.rasterize_count(docs, z, tile_size=64).withColumn("band", F.lit(0))
        pyramid = t if pyramid is None else pyramid.unionByName(t)
    pyramid = pyramid.cache()

    # log-scaled density layer (MAML expression over the tile pyramid)
    expr = M.Expr("loge", (M.var("density") + 1.0,))
    eng = Engine(spark, {"density": Layer("density", pyramid, expression=expr)})

    print("describe:", eng.describe())

    # GetMap: west-hemisphere window at zoom-3 resolution, styled PNG per tile
    ext = (-B, -B / 2, 0.0, B / 2)
    cs = (2 * B) / ((1 << 3) * 64)
    tiles = eng.get_extent("density", ext, cs)
    styled = eng.render_png(
        tiles,
        style={
            "poles": {0.0: (0, 0, 64, 255), 3.0: (0, 180, 90, 255), 8.0: (255, 255, 0, 255)},
        },
    )
    rows = styled.collect()
    print(f"rendered {len(rows)} tiles at zoom", rows[0].zoom if rows else "?")
    # GetFeatureInfo on the hottest cluster center
    vals = eng.get_values("density", [(-74.0, 40.0), (10.0, 10.0)], zoom=3).collect()
    print("feature info:", [(r.lon, r.lat, r.value) for r in vals])
    # histogram with the reference's 512-cell budget
    hist = eng.get_histogram("density", max_cells=512, n_bins=10)
    print("histogram rows:", hist.count())
    with open(out_path, "wb") as f:
        f.write(bytes(rows[0].png))
    print("wrote", out_path, len(bytes(rows[0].png)), "bytes")
    # GetTile as image/jpeg (pure-numpy baseline codec — no Pillow needed)
    jpg = eng.get_tile_jpg("density", 3, 2, 3)
    if jpg:
        jpg_path = out_path.rsplit(".", 1)[0] + ".jpg"
        with open(jpg_path, "wb") as f:
            f.write(jpg)
        print("wrote", jpg_path, len(jpg), "bytes (baseline JFIF)")
    # windowed COG read-back through the header-cached RangeReader stack
    import numpy as np

    from geotrellis_server_spark.sources.cog import CogReader
    from geotrellis_server_spark.sources.gtiff import (
        build_overviews,
        encode_geotiff_pyramid,
    )

    dem = (np.arange(256 * 256, dtype=np.float64) % 331.0).reshape(256, 256)
    cog_path = out_path.rsplit(".", 1)[0] + ".tif"
    with open(cog_path, "wb") as f:
        f.write(encode_geotiff_pyramid(build_overviews(dem, min_size=32),
                                       (0.0, 0.0, 256.0, 256.0), epsg=3857,
                                       rows_per_strip=32))
    cog = CogReader(cog_path)
    win, snapped, _ = cog.read_extent((64.0, 64.0, 128.0, 128.0))
    stats = cog.stats()
    print(f"COG window {win.shape} from {snapped}; fetched "
          f"{stats['bytes_fetched']:,} of {stats['total_size']:,} bytes "
          f"({100.0 * stats['bytes_fetched'] / stats['total_size']:.0f}%)")
    spark.stop()


if __name__ == "__main__":
    main()
