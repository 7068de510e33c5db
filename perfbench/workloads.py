"""One workload in one fresh process (started by ``run.py``).

Usage: python3 perfbench/workloads.py WORKLOAD SEED SECONDS TRACE SCALE REPS OUT WORK

Each workload: start the Spark session; set up REPS times, or the
workload's own ``setup_reps`` times when REPS is 0 (the median is
reported); run an untimed warm-up; run timed
iterations until SECONDS have passed (at least the workload's
``min_iterations``); check every output
with ``oracle``; write a JSON result to OUT. With TRACE=1 the session
also writes an event log, every timed job carries a job group, and the
per-layer numbers are added after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

T0 = time.perf_counter()
# tile_serving serves past the deadline until this many requests have
# started: op1 and op2 over fewer requests spread too much between seeds
MIN_REQUESTS = 24

# Workload sizes at scale 1. The tile size is 32 px, not the reference
# 256 or bench.py's 64, so that one pyramid build plus the algebra fits
# the run length on a 4-core host (see README.md). min_iterations: timed
# iterations run even past --seconds, so that the reported medians are
# medians of at least that many samples. setup_reps: set-ups per run;
# tile_serving's set-up is a ~9-s pyramid build, so it sets up twice.
# docs_join: one warm-up iteration plus warmup_pip more PIP jobs, and
# pip_per_iteration PIP jobs per timed iteration (one kNN job), because
# the PIP job is ~3x cheaper than the kNN job and needs more runs to warm.
SIZES = {
    "docs_join": {"n_docs": 200_000, "n_queries": 250, "k": 10, "zoom": 12,
                  "knn_checked": 20, "min_iterations": 3, "setup_reps": 3,
                  "warmup_pip": 6, "pip_per_iteration": 2},
    "raster_pyramid": {"n_docs": 200_000, "max_zoom": 6, "tile_px": 32,
                       "checked_tiles": 8, "min_iterations": 2, "setup_reps": 3},
    "tile_serving": {"n_docs": 100_000, "max_zoom": 6, "tile_px": 32,
                     "clients": 2, "swap_every": 12, "setup_reps": 2},
}

STYLE_A = {"poles": {0.0: (0, 0, 96, 255), 4.0: (0, 160, 255, 255),
                     16.0: (255, 255, 0, 255), 64.0: (255, 0, 0, 255)}}
STYLE_B = {"poles": {0.0: (20, 20, 20, 255), 8.0: (0, 200, 80, 255),
                     48.0: (255, 255, 255, 255)}}
STYLE_FOCAL = {"poles": {0.0: (255, 255, 255, 0), 2.0: (120, 0, 200, 255),
                         12.0: (255, 120, 0, 255)}}


def _median_ms(xs) -> float:
    return statistics.median(xs) * 1000.0


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    cfg: dict
    setup_reps: int
    run_dir: str
    cache_dir: str
    files: int
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def group(self, name: str) -> None:
        """Tag the jobs this thread starts next (read by eventlog.py)."""
        self.spark.sparkContext.setJobGroup(name, name)
        self.log(name)

    @staticmethod
    def log(what: str) -> None:
        print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {what}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; a wrong output is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what + ": " + traceback.format_exc(limit=3).strip().splitlines()[-1])
        traceback.print_exc(file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def measure(ctx: Ctx, body) -> int:
    """Call body(i) until ctx.seconds have passed, and at least the
    workload's min_iterations times."""
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < ctx.cfg["min_iterations"] or time.perf_counter() < deadline:
        body(i)
        i += 1
    return i


def repeat_setup(ctx: Ctx, fn):
    """Run the set-up ctx.setup_reps times; (median seconds, last result)."""
    times, out = [], None
    for _ in range(ctx.setup_reps):
        t, out = timed(fn)
        times.append(t)
    return statistics.median(times), out


# ---------------------------------------------------------------------------
# docs_join: scan → extract → broadcast PIP join → z12 key → (zone, tile)
# counts, then bulk kNN on the same docs.
# ---------------------------------------------------------------------------


def docs_join(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from geotrellis_server_spark.operators import knn, spatial_join, tiling
    from geotrellis_server_spark.sources import synth

    spark, cfg = ctx.spark, ctx.cfg
    docs = inputs.docs_parquet(spark, ctx.cache_dir, ctx.seed, cfg["n_docs"], ctx.files)
    ctx.log("inputs ready")
    queries = inputs.knn_queries(ctx.seed, cfg["n_queries"])
    orc = oracle.Oracle()
    orc.load_points(docs)
    orc.expect_zone_tiles(cfg["zoom"])
    doc_id, lon, lat = orc.point_arrays()
    n_docs = len(doc_id)
    res = knn.auto_res(n_docs)

    state = {}

    def setup():
        if "zc" in state:
            state["zc"].unpersist()
        zones = synth.zone_grid(spark)
        t = time.perf_counter()
        zc = spatial_join.build_rect_zone_cells(zones).cache()
        zc.count()
        state.setdefault("cover_t", []).append(time.perf_counter() - t)
        qdf = spark.createDataFrame(queries, "query_id BIGINT, qlon DOUBLE, qlat DOUBLE")
        state.update(zones=zones, zc=zc, qdf=qdf, src=spark.read.parquet(docs))
        return state

    ctx.log("oracle ready")
    setup_s, _ = repeat_setup(ctx, setup)

    def pip_job(src, out):
        (tiling.assign_tiles(
            spatial_join.pip_join_rect(synth.extract_geometry(src), state["zones"],
                                       zone_cells=state["zc"]), cfg["zoom"])
         .groupBy("zone_id", "tile_x", "tile_y").agg(F.count("*").alias("n_docs"))
         .write.mode("overwrite").parquet(out))

    def knn_job(src):
        return knn.knn_join_bulk(synth.extract_geometry(src), state["qdf"], k=cfg["k"],
                                 res=res).collect()

    # warm-up: untimed jobs over the full input. After two full
    # iterations the next five PIP jobs still ran 5-15 % faster each
    # than the one before (the kNN jobs varied less), so the warm-up is
    # one full iteration and then PIP jobs only; a warm-up over a small
    # slice left the first timed PIP job ~1.5x slower than the next.
    checked = np.random.default_rng(ctx.seed).choice(len(queries), cfg["knn_checked"],
                                                     replace=False).tolist()
    want_knn = {q: oracle.knn_brute_force(doc_id, lon, lat, queries[q][1], queries[q][2], cfg["k"])
                for q in checked}
    ctx.group("warmup")
    pip_job(state["src"], ctx.path("warm_pip"))
    knn_job(state["src"])
    for _ in range(cfg["warmup_pip"]):
        pip_job(state["src"], ctx.path("warm_pip"))
    pip_t, knn_t, knn_rows = [], [], []
    out = ctx.path("pip_out")

    def body(i):
        for j in range(cfg["pip_per_iteration"]):
            try:
                ctx.group(f"pip#{i}.{j}")
                t, _ = timed(lambda: pip_job(state["src"], out))
                if ctx.check(orc.zone_tile_mismatches(out) == 0,
                             f"pip#{i}.{j}: wrong (zone, tile) counts"):
                    pip_t.append(t)
            except Exception:
                ctx.error(f"pip#{i}.{j}")
        try:
            ctx.group(f"knn#{i}")
            t, rows = timed(lambda: knn_job(state["src"]))
            if ctx.check(knn_correct(rows, len(queries), cfg["k"], want_knn),
                         f"knn#{i}: wrong neighbours"):
                knn_t.append(t)
                knn_rows.append(len(rows))
        except Exception:
            ctx.error(f"knn#{i}")

    iters = measure(ctx, body)
    orc.close()
    e2e = {
        "op1_ms": _median_ms(pip_t) if pip_t else None,
        "op2_ms": _median_ms(knn_t) if knn_t else None,
    }
    notes = {
        "iterations": iters, "n_docs": n_docs, "n_queries": len(queries), "knn_res": res,
        "pip_docs_per_s": n_docs / statistics.median(pip_t) if pip_t else None,
        "knn_queries_per_s": len(queries) / statistics.median(knn_t) if knn_t else None,
        "pip_ms_samples": [round(t * 1000.0, 1) for t in pip_t],
        "knn_ms_samples": [round(t * 1000.0, 1) for t in knn_t],
    }
    layers = {}
    if ctx.trace:
        layers = _docs_join_prefixes(ctx, state, pip_t)
        layers["spatial_join.cover_build_s"] = statistics.median(state["cover_t"])
        layers["knn.bulk_s"] = statistics.median(knn_t) if knn_t else 0.0
        layers["knn.result_rows"] = statistics.median(knn_rows) if knn_rows else 0
    return {"setup_s": setup_s, "e2e": e2e, "notes": notes, "layers": layers}


def knn_correct(rows, n_queries: int, k: int, want: dict) -> bool:
    """Every query has k neighbours, and the sampled queries' neighbours
    (doc_id, dist_sq in rank order) equal the brute-force ones."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r.query_id), []).append((int(r.rank), r.doc_id, r.dist_sq))
    if len(got) != n_queries or any(len(v) != k for v in got.values()):
        return False
    return all([(d, s) for _, d, s in sorted(got.get(q, []))] == w for q, w in want.items())


def _docs_join_prefixes(ctx: Ctx, state: dict, pip_t: list) -> dict:
    """Cumulative prefixes of the PIP job, each written to the no-op sink,
    interleaved three times: scan; + extract_geometry; + PIP join."""
    from pyspark.sql import functions as F

    from geotrellis_server_spark.operators import spatial_join
    from geotrellis_server_spark.sources import synth

    src = state["src"]
    prefixes = {
        "scan": lambda: src.select("doc_id", F.col("spans.kind"), F.col("spans.text")),
        "extract": lambda: synth.extract_geometry(src).select("doc_id", "lon", "lat"),
        # only the columns the full job reads on, so the sink does not
        # materialize the spans column the full job prunes away
        "pip": lambda: spatial_join.pip_join_rect(synth.extract_geometry(src), state["zones"],
                                                  zone_cells=state["zc"])
        .select("doc_id", "zone_id", "lon", "lat"),
    }
    times = {k: [] for k in prefixes}
    for i in range(3):
        for name, build in prefixes.items():
            ctx.group(f"prefix_{name}#{i}")
            t, _ = timed(lambda: build().write.mode("overwrite").format("noop").save())
            times[name].append(t)
    med = {k: statistics.median(v) for k, v in times.items()}
    full = statistics.median(pip_t) if pip_t else med["pip"]
    return {
        "sources.scan_s": med["scan"],
        "sources.extract_geometry_s": med["extract"] - med["scan"],
        "spatial_join.pip_s": med["pip"] - med["extract"],
        "tiling.key_agg_s": full - med["pip"],
    }


# ---------------------------------------------------------------------------
# raster_pyramid: points → write_pyramid (z6 rasterize + 6 pyramid_up
# rounds, parquet) → focal mean and polygon mask over the z6 level.
# ---------------------------------------------------------------------------


def _extract_points(ctx: Ctx, docs: str, out: str):
    from geotrellis_server_spark.sources import synth

    spark = ctx.spark
    (synth.extract_geometry(spark.read.parquet(docs)).select("doc_id", "lon", "lat")
     .write.mode("overwrite").parquet(out))
    return spark.read.parquet(out)


def _check_pyramid(ctx: Ctx, orc: oracle.Oracle, pyr: str, max_zoom: int, n_points: int,
                   what: str) -> dict:
    """Every level sums to the number of points (so z5 sums to z6), and
    each level has exactly the parents of the level below."""
    levels = orc.pyramid_levels(pyr)
    ok = sorted(levels) == list(range(max_zoom + 1))
    ok = ok and all(levels[z][1] == n_points for z in levels)
    ok = ok and all(levels[z][0] == orc.parent_keys(pyr, z + 1) for z in range(max_zoom))
    return ctx.check(ok, f"{what}: pyramid levels {levels}"), levels


def raster_pyramid(ctx: Ctx) -> dict:
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.maml.eval import eval_expr
    from geotrellis_server_spark.operators import tiling

    spark, cfg = ctx.spark, ctx.cfg
    zmax, px = cfg["max_zoom"], cfg["tile_px"]
    docs = inputs.docs_parquet(spark, ctx.cache_dir, ctx.seed, cfg["n_docs"], ctx.files)
    ctx.log("inputs ready")
    ring = inputs.mask_ring(ctx.seed)
    orc = oracle.Oracle()
    orc.load_points(docs)
    n_points = orc.n_points()

    setup_s, pts = repeat_setup(ctx, lambda: _extract_points(ctx, docs, ctx.path("points")))

    def build(points, d):
        tiling.write_pyramid(points, d, zmax, tile_size=px)

    def algebra(d, kind):
        z = tiling.read_pyramid_level(spark, d, zmax)
        expr = (M.focal("fmean", M.var("d"), radius=1) if kind == "focal"
                else M.mask(M.var("d"), M.geom(ring)))
        eval_expr(expr, {"d": z}).write.mode("overwrite").parquet(d + "_" + kind)

    ctx.group("warmup")
    small = spark.read.parquet(sorted(glob.glob(ctx.path("points") + "/*.parquet"))[0])
    build(small, ctx.path("warm_pyr"))
    algebra(ctx.path("warm_pyr"), "focal")
    algebra(ctx.path("warm_pyr"), "mask")

    pyr_t, alg_t, focal_t, mask_t, z6_tiles, all_tiles = [], [], [], [], [], []

    def body(i):
        d = ctx.path(f"pyr{i % 2}")
        for p in (d, d + "_focal", d + "_mask"):
            shutil.rmtree(p, ignore_errors=True)
        try:
            ctx.group(f"pyramid#{i}")
            t1, _ = timed(lambda: build(pts, d))
            ok, levels = _check_pyramid(ctx, orc, d, zmax, n_points, f"pyramid#{i}")
            if ok:
                z6_tiles.append(levels[zmax][0])
                all_tiles.append(sum(n for n, _ in levels.values()))
                pyr_t.append(t1)
        except Exception:
            ctx.error(f"pyramid#{i}")
            return
        try:
            ctx.group(f"focal#{i}")
            tf, _ = timed(lambda: algebra(d, "focal"))
            ctx.group(f"mask#{i}")
            tm, _ = timed(lambda: algebra(d, "mask"))
        except Exception:
            ctx.error(f"algebra#{i}")
            return
        level = orc.tiles(os.path.join(d, f"zoom={zmax}"))
        pick = np.random.default_rng([ctx.seed, i]).choice(len(level), cfg["checked_tiles"],
                                                           replace=False)
        keys = [sorted(level)[j] for j in pick]
        got_f = orc.tiles(d + "_focal", keys)
        got_m = orc.tiles(d + "_mask", keys)
        ok = all(k in got_f and oracle.same_cells(got_f[k], oracle.focal_mean(level, k))
                 for k in keys)
        ok_f = ctx.check(ok, f"focal#{i}: cells differ from the numpy focal mean")
        ok = all(k in got_m and oracle.same_cells(got_m[k], oracle.masked(level[k], ring, zmax, k))
                 for k in keys)
        ok_m = ctx.check(ok, f"mask#{i}: cells differ from the numpy polygon mask")
        if ok_f and ok_m:
            focal_t.append(tf)
            mask_t.append(tm)
            alg_t.append(tf + tm)

    iters = measure(ctx, body)
    orc.close()
    e2e = {
        "op1_ms": _median_ms(pyr_t) if pyr_t else None,
        "op2_ms": _median_ms(alg_t) if alg_t else None,
    }
    z6 = statistics.median(z6_tiles) if z6_tiles else 0
    notes = {
        "iterations": iters, "n_points": n_points, "z6_tiles": z6,
        "pyramid_build_s": statistics.median(pyr_t) if pyr_t else None,
        "algebra_tiles_per_s": 2 * z6 / statistics.median(alg_t) if alg_t else None,
    }
    layers = {}
    if ctx.trace:
        layers = {
            "tiling.rasterize_s": _rasterize_prefix(ctx, pts, zmax, px),
            "tiling.pyramid_tiles": statistics.median(all_tiles) if all_tiles else 0,
            "maml.focal_s": statistics.median(focal_t) if focal_t else 0.0,
            "maml.mask_s": statistics.median(mask_t) if mask_t else 0.0,
        }
    return {"setup_s": setup_s, "e2e": e2e, "notes": notes, "layers": layers}


def _rasterize_prefix(ctx: Ctx, pts, zmax: int, px: int) -> float:
    """Median time of rasterizing the points at zmax into the no-op sink:
    the first prefix of write_pyramid."""
    from geotrellis_server_spark.operators import tiling

    times = []
    for i in range(3):
        ctx.group(f"prefix_rasterize#{i}")
        t, _ = timed(lambda: tiling.rasterize_count(pts, zmax, tile_size=px)
                     .write.mode("overwrite").format("noop").save())
        times.append(t)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# tile_serving: a closed loop of client threads calling one Engine that
# serves a z0..z6 pyramid built during set-up.
# ---------------------------------------------------------------------------


def tile_serving(ctx: Ctx) -> dict:
    from geotrellis_server_spark.engine import Engine, Layer
    from geotrellis_server_spark.maml import ast as M
    from geotrellis_server_spark.operators import tiling

    spark, cfg = ctx.spark, ctx.cfg
    zmax, px = cfg["max_zoom"], cfg["tile_px"]
    docs = inputs.docs_parquet(spark, ctx.cache_dir, ctx.seed, cfg["n_docs"], ctx.files)
    ctx.log("inputs ready")
    ring = inputs.mask_ring(ctx.seed)
    orc = oracle.Oracle()
    orc.load_points(docs)
    n_points = orc.n_points()
    state = {"rep": 0, "build_t": []}
    # the points are extracted once; the repeated set-up is the pyramid
    # build and the engine
    extract_s, pts = timed(lambda: _extract_points(ctx, docs, ctx.path("points")))

    def setup():
        d = ctx.path(f"pyr{state['rep']}")
        shutil.rmtree(d, ignore_errors=True)
        ctx.group(f"pyramid#s{state['rep']}")
        state["rep"] += 1
        t, _ = timed(lambda: tiling.write_pyramid(pts, d, zmax, tile_size=px))
        state["build_t"].append(t)
        tiles = spark.read.parquet(d)
        eng = Engine(spark, {
            "styled": Layer("styled", tiles, style=STYLE_A),
            "focal": Layer("focal", tiles, expression=M.focal("fmean", M.var("focal"), radius=1),
                           style=STYLE_FOCAL),
            "masked": Layer("masked", tiles, expression=M.mask(M.var("masked"), M.geom(ring)),
                            style=STYLE_A),
        })
        eng.layers["styled"].meta()
        state.update(pyr=d, tiles=tiles, engine=eng)

    setup_s, _ = repeat_setup(ctx, setup)
    setup_s += extract_s
    eng, pyr = state["engine"], state["pyr"]
    _, levels = _check_pyramid(ctx, orc, pyr, zmax, n_points, "serving pyramid")

    def call(req):
        kind, z = req[0], req[1]
        if kind == inputs.INFO:
            return eng.get_feature_info("styled", req[2], z)
        return eng.get_tile_png(kind, z, req[2], req[3])

    # warm-up: one request of each kind, from a separate stream
    warm = {}
    for req in inputs.request_stream(ctx.seed + 7919, 2 * len(inputs.MIX_BLOCK), zmax, px):
        warm.setdefault(req[0], req)
    ctx.group("warmup")
    for req in warm.values():
        call(req)
    eng.request_cache.invalidate()
    hits0, misses0 = eng.request_cache.hits, eng.request_cache.misses

    stream = inputs.request_stream(ctx.seed, 2000, zmax, px)
    lock = threading.Lock()
    shared = {"next": 0, "version": 0, "swaps": 0}
    records = []
    deadline = time.perf_counter() + ctx.seconds
    t_start = time.perf_counter()

    def client():
        ctx.group("request#0")
        while True:
            with lock:
                i = shared["next"]
                if i >= len(stream) or (i >= MIN_REQUESTS and time.perf_counter() >= deadline):
                    return
                shared["next"] += 1
                if i and i % cfg["swap_every"] == 0:
                    shared["version"] += 1
                    style = STYLE_B if shared["version"] % 2 else STYLE_A
                    eng.set_layer("styled", Layer("styled", state["tiles"], style=style))
                    shared["swaps"] += 1
                v0 = shared["version"]
            req = stream[i]
            t = time.perf_counter()
            try:
                res, err = call(req), None
            except Exception:
                res, err = None, traceback.format_exc(limit=3)
            dt = time.perf_counter() - t
            with lock:
                records.append((req, res, err, dt, v0, shared["version"]))

    threads = [threading.Thread(target=client) for _ in range(cfg["clients"])]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t_start
    hits = eng.request_cache.hits - hits0
    misses = eng.request_cache.misses - misses0

    ok_lat, info_lat = _check_responses(ctx, orc, pyr, zmax, px, ring, records)
    orc.close()
    # op2, the mean latency (= 1000 * clients / requests_per_s of the
    # closed loop), follows the slow focal requests that the p50 skips;
    # the pyramid build is set-up, not an op
    e2e = {
        "op1_ms": _median_ms(ok_lat) if ok_lat else None,
        "op2_ms": statistics.mean(ok_lat) * 1000.0 if ok_lat else None,
    }
    lat = sorted(ok_lat)
    tail_pct = int(100 * (len(lat) - 10) / len(lat)) if len(lat) > 10 else None
    notes = {
        "requests": len(records), "clients": cfg["clients"], "n_points": n_points,
        "request_p50_ms": e2e["op1_ms"],
        "requests_per_s": len(ok_lat) / wall,
        "tail_percentile": tail_pct,
        "request_tail_ms": lat[len(lat) - 11] * 1000.0 if tail_pct is not None else None,
        "feature_info_p50_ms": _median_ms(info_lat) if info_lat else None,
        "p50_ms_by_kind": {k: _median_ms([r[3] for r in records if r[0][0] == k])
                           for k in sorted({r[0][0] for r in records})},
        "request_ms_samples": [f"{r[0][0]}:{r[3] * 1000.0:.0f}" for r in records],
        "pyramid_build_s": statistics.median(state["build_t"]),
        "cache_hits": hits, "cache_misses": misses, "swaps": shared["swaps"],
    }
    layers = {}
    if ctx.trace:
        layers = _serving_probe(ctx, eng, zmax)
        layers.update({
            "tiling.rasterize_s": _rasterize_prefix(ctx, pts, zmax, px),
            "tiling.pyramid_tiles": sum(n for n, _ in levels.values()),
            "engine.feature_info_ms": _median_ms(info_lat) if info_lat else 0.0,
            "cache.hits": hits, "cache.misses": misses,
            "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "cache.invalidations": shared["swaps"],
            "_requests_with_jobs": misses + len(info_lat),
        })
    return {"setup_s": setup_s, "e2e": e2e, "notes": notes, "layers": layers}


def _check_responses(ctx, orc, pyr, zmax, px, ring, records):
    """Decode every PNG and compare it with the colour ramp of the tile's
    cells (their focal mean, or their polygon mask, for those layers)
    under the style in force when the request started or ended; compare
    every GetFeatureInfo value with the pixel under the point. Returns
    the latencies of correct responses: all, and GetFeatureInfo only."""
    levels: dict[int, dict] = {}

    def level(z):
        if z not in levels:
            levels[z] = orc.tiles(os.path.join(pyr, f"zoom={z}"))
        return levels[z]

    ok_lat, info_lat = [], []
    for req, res, err, dt, v0, v1 in records:
        kind, z = req[0], req[1]
        if err is not None:
            ctx.check(False, f"{kind} {req[1:4] if kind != inputs.INFO else z}: {err.splitlines()[-1]}")
            continue
        if kind == inputs.INFO:
            tiles = level(z)
            want = {}
            for j, (gx, gy) in enumerate(req[3]):
                t = tiles.get((gx // px, gy // px))
                if t is not None:
                    want[j] = float(t[gy % px, gx % px])
            ok = oracle.feature_values(res) == want
            if ctx.check(ok, f"info z{z}: values differ"):
                ok_lat.append(dt)
                info_lat.append(dt)
            continue
        key = (req[2], req[3])
        cells = level(z).get(key)
        if cells is None:
            ok = res is None
        elif res is None:
            ok = False
        else:
            img = oracle.decode_png(res)
            if kind == inputs.FOCAL:
                wants = [oracle.colormap(oracle.focal_mean(level(z), key), STYLE_FOCAL["poles"])]
            elif kind == inputs.MASKED:
                wants = [oracle.colormap(oracle.masked(cells, ring, z, key), STYLE_A["poles"])]
            else:
                wants = [oracle.colormap(cells, (STYLE_B if v % 2 else STYLE_A)["poles"])
                         for v in {v0 % 2, v1 % 2}]
            ok = any(np.array_equal(img, w) for w in wants)
        if ctx.check(ok, f"{kind} z{z} {key}: PNG differs from the colour ramp"):
            ok_lat.append(dt)
    return ok_lat, info_lat


def _serving_probe(ctx, eng, zmax) -> dict:
    """Cold requests on a few keys: get_tile (eval + collect) of each
    layer, and get_tile_png of the styled layer, whose difference from
    the styled get_tile is the PNG render's self time."""
    t = {"styled": [], "png": [], "focal": [], "masked": []}
    # the focal and mask evaluations carry the focal#i / mask#i job groups,
    # so their Spark numbers (halo shuffle bytes, task CPU) are per call
    groups = {"styled": "probe", "focal": "focal", "masked": "mask"}
    for i, key in enumerate([(5, 5), (20, 40), (50, 10)]):
        eng.request_cache.invalidate()
        for layer in ("styled", "focal", "masked"):
            ctx.group(f"{groups[layer]}#{i}")
            dt, _ = timed(lambda: eng.get_tile(layer, zmax, *key).collect())
            t[layer].append(dt)
        ctx.group(f"probe#{i}")
        dt, _ = timed(lambda: eng.get_tile_png("styled", zmax, *key))
        t["png"].append(dt)
    return {
        "engine.get_tile_ms": _median_ms(t["styled"]),
        "engine.render_ms": _median_ms(t["png"]) - _median_ms(t["styled"]),
        "maml.focal_s": statistics.median(t["focal"]),
        "maml.mask_s": statistics.median(t["masked"]),
    }


WORKLOADS = {"docs_join": docs_join, "raster_pyramid": raster_pyramid,
             "tile_serving": tile_serving}


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, scale, reps, out, work = argv
    seed, seconds, trace, scale = int(seed), float(seconds), trace == "1", float(scale)
    cfg = dict(SIZES[workload])
    for k in ("n_docs", "n_queries"):
        if k in cfg:
            cfg[k] = max(int(cfg[k] * scale), 1000 if k == "n_docs" else 20)
    ncpu = len(os.sched_getaffinity(0))
    run_dir = os.path.dirname(os.path.abspath(out))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": "file:" + os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=768m -XX:-UsePerfData "
                                         "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file:" + log_dir})

    from geotrellis_server_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{ncpu}]", shuffle_partitions=ncpu, extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, seed, seconds, trace, cfg, int(reps) or cfg["setup_reps"], run_dir,
              os.path.join(work, "inputs"), files=2 * ncpu)
    os.makedirs(ctx.cache_dir, exist_ok=True)
    try:
        res = WORKLOADS[workload](ctx)
    finally:
        spark.stop()
    res["e2e"]["setup_s"] = session_s + res["setup_s"]
    res["notes"]["session_start_s"] = session_s
    if trace:
        import layers

        res["layers"] = layers.collect(workload, res["layers"], os.path.join(run_dir, "eventlog"),
                                       session_s)
    res.update(attempted=ctx.attempted, failed=ctx.failed, errors=ctx.errors[:20])
    with open(out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
