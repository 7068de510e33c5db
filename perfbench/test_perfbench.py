"""Tests of the benchmark itself: a tiny-size run of every workload, and
checks that a deliberately corrupted result counts as a failure.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert any(workload in ln and "correct" in ln for ln in lines)
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_reports_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        n: u for n, u, _ in run.END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_run_reports_every_layer_metric():
    res = _run("docs_join", 1)
    want = {n: u for n, u, _ in layers.PER_LAYER}
    want.update({f"trace_overhead.{n}": u for n, u, _ in run.END_TO_END})
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["sources.docs_rows"] == m["sources.geo_rows"] == m["spatial_join.matched_rows"] > 0
    assert m["knn.jobs"] >= 1 and m["spark.pip_job.task_cpu_s"] > 0


def test_tiny_traced_serving_run_measures_focal_and_mask_jobs():
    res = _run("tile_serving", 1)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.focal_job.task_cpu_s"] > 0 and m["spark.mask_job.task_cpu_s"] > 0
    assert m["maml.focal_shuffle_bytes"] > 0 and m["maml.focal_s"] > 0
    assert m["spark.request_jobs.task_cpu_s"] > 0 and m["engine.jobs_per_request"] >= 1


def test_bare_directory_fails_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "docs_join", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


# -- corrupted results -------------------------------------------------------


def _ctx() -> workloads.Ctx:
    return workloads.Ctx(None, 1, 1.0, False, {}, 1, "", "", 1)


def _write_tiles(con, path: str, tiles: dict) -> None:
    os.makedirs(path, exist_ok=True)
    rows = ", ".join(f"({x}, {y}, {a.shape[1]}, {a.shape[0]}, {a.ravel().tolist()}::DOUBLE[])"
                     for (x, y), a in tiles.items())
    con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(tile_x, tile_y, width, height, cells)) "
                f"TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def test_wrong_zone_tile_count_is_a_mismatch(tmp_path):
    con = duckdb.connect()
    docs = tmp_path / "docs"
    docs.mkdir()
    con.execute(f"""COPY (SELECT 'doc-' || lpad(i::VARCHAR, 12, '0') AS doc_id,
                           [{{'kind': 'geo', 'text': 'POINT(' || (i * 7.5 - 170.0)::VARCHAR || ' '
                              || (i * 3.25 - 80.0)::VARCHAR || ')', 'media_ref': '', 'offset': 0}}] AS spans
                         FROM range(40) r(i)) TO '{docs}/part-0.parquet' (FORMAT PARQUET)""")
    orc = oracle.Oracle()
    orc.load_points(str(docs))
    orc.expect_zone_tiles(12)
    out = tmp_path / "out"
    out.mkdir()
    orc.con.execute(f"COPY (SELECT * FROM expect_zt) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
    assert orc.zone_tile_mismatches(str(out)) == 0
    orc.con.execute(f"""COPY (SELECT zone_id, tile_x, tile_y,
                                     n_docs + CASE WHEN row_number() OVER () = 1 THEN 1 ELSE 0 END AS n_docs
                              FROM expect_zt) TO '{out}/part-0.parquet' (FORMAT PARQUET)""")
    assert orc.zone_tile_mismatches(str(out)) == 1
    orc.close()


def test_wrong_knn_neighbour_is_not_correct():
    from collections import namedtuple

    Row = namedtuple("Row", "query_id doc_id dist_sq rank")
    rng = np.random.default_rng(0)
    ids = np.array([f"doc-{i:012d}" for i in range(500)])
    lon, lat = rng.integers(-2000, 2000, 500) / 16.0, rng.integers(-1000, 1000, 500) / 16.0
    queries = [(0, 1.0, 2.0), (1, -30.0, 10.0)]
    want = {q: oracle.knn_brute_force(ids, lon, lat, x, y, 5) for q, x, y in queries}
    rows = [Row(q, d, s, r + 1) for q, w in want.items() for r, (d, s) in enumerate(w)]
    assert workloads.knn_correct(rows, 2, 5, want)
    swapped = [r._replace(rank=3 - r.rank) if r.query_id == 0 and r.rank <= 2 else r for r in rows]
    assert not workloads.knn_correct(swapped, 2, 5, want)
    assert not workloads.knn_correct(rows[:-1], 2, 5, want)
    far = [r._replace(doc_id="doc-000000000499") if (r.query_id, r.rank) == (1, 5) else r
           for r in rows]
    assert not workloads.knn_correct(far, 2, 5, want)


def test_corrupted_tile_and_png_count_as_failures(tmp_path):
    from geotrellis_server_spark.styles.png import encode_png

    con = duckdb.connect()
    px = 4
    rng = np.random.default_rng(1)
    level = {(x, y): rng.integers(0, 30, (px, px)).astype(np.float64)
             for x in range(2) for y in range(2)}
    pyr = tmp_path / "pyr"
    _write_tiles(con, str(pyr / "zoom=1"), level)
    orc = oracle.Oracle()
    ring = inputs.mask_ring(1)
    poles = workloads.STYLE_A["poles"]
    good = encode_png(oracle.colormap(level[(0, 1)], poles))
    bad_img = oracle.colormap(level[(0, 1)], poles)
    bad_img[0, 0, 0] ^= 1
    focal = encode_png(oracle.colormap(oracle.focal_mean(level, (1, 1)),
                                       workloads.STYLE_FOCAL["poles"]))
    masked = encode_png(oracle.colormap(oracle.masked(level[(1, 0)], ring, 1, (1, 0)), poles))
    info_px = [(1, 6), (7, 2)]
    info_ok = json.dumps({"features": [
        {"properties": {"point_id": j, "value": float(level[(gx // px, gy // px)][gy % px, gx % px])}}
        for j, (gx, gy) in enumerate(info_px)]})
    info_bad = info_ok.replace('"point_id": 1, "value": ', '"point_id": 1, "value": 1000')
    records = [
        (("styled", 1, 0, 1), good, None, 0.5, 0, 0),
        (("focal", 1, 1, 1), focal, None, 0.5, 0, 0),
        (("masked", 1, 1, 0), masked, None, 0.5, 0, 0),
        (("info", 1, [], info_px), info_ok, None, 0.5, 0, 0),
    ]
    ctx = _ctx()
    ok_lat, info_lat = workloads._check_responses(ctx, orc, str(pyr), 1, px, ring, records)
    assert (ctx.attempted, ctx.failed, len(ok_lat), len(info_lat)) == (4, 0, 4, 1)
    corrupted = [
        (("styled", 1, 0, 1), encode_png(bad_img), None, 0.5, 0, 0),
        (("styled", 1, 1, 1), good, None, 0.5, 0, 0),
        (("styled", 1, 0, 0), None, None, 0.5, 0, 0),
        (("info", 1, [], info_px), info_bad, None, 0.5, 0, 0),
        (("focal", 1, 0, 0), None, "Traceback\nRuntimeError: boom", 0.5, 0, 0),
    ]
    ctx = _ctx()
    ok_lat, _ = workloads._check_responses(ctx, orc, str(pyr), 1, px, ring, corrupted)
    assert (ctx.attempted, ctx.failed, ok_lat) == (5, 5, [])
    # a single changed cell in a focal result no longer matches the recompute
    got = oracle.focal_mean(level, (0, 0)).copy()
    assert oracle.same_cells(got, oracle.focal_mean(level, (0, 0)))
    got[1, 1] += 1e-6
    assert not oracle.same_cells(got, oracle.focal_mean(level, (0, 0)))
    orc.close()
