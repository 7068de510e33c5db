"""bench.py's output contract: one JSON line, the headline derived from
q1, and only the queries SPARK_GRAFT_BENCH_ONLY selects timed; and the
input cache keyed on the split count it writes."""

import json
import os
import subprocess
import sys
from pathlib import Path

import bench_queries

ROOT = Path(__file__).resolve().parent.parent

KEYS = {"metric", "value", "unit", "queries", "sf", "n_docs", "cores", "n_runs",
        "load_avg_1m", "cpu_mhz"}


def test_restricted_run_prints_one_json_line():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_BENCH_MULT="2", SPARK_GRAFT_BENCH_RUNS="1",
               SPARK_GRAFT_BENCH_ONLY="q1,q5")
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    r = subprocess.run([sys.executable, "bench.py", "--json-only"], env=env, cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == KEYS
    assert sorted(out["queries"]) == ["q1_pip_tile_pipeline", "q5_knn_k10"]
    assert out["n_docs"] == 1000 and out["n_runs"] == 1
    assert out["value"] == round(out["n_docs"] / out["queries"]["q1_pip_tile_pipeline"], 1)


def test_input_cache_path_keys_on_split_count(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(bench_queries, "CACHE_DIR", str(tmp_path))
    paths = {}
    for cpus in (1, 2):
        monkeypatch.setattr(bench_queries, "CPUS", cpus)
        docs = bench_queries.materialize_docs(spark, "/data/sf0.001", 200)
        emb = bench_queries.materialize_embeddings(spark, "/data/sf0.001", 100, 4)
        assert len(list(Path(docs).glob("part-*.parquet"))) == cpus * 8
        assert len(list(Path(emb).glob("part-*.parquet"))) == cpus * 4
        paths[cpus] = (docs, emb)
    assert set(paths[1]).isdisjoint(paths[2])
