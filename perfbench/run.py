"""Benchmark runner for geotrellis_server_spark.

    python3 perfbench/run.py --workload docs_join --seed 1 --seconds 10 --trace 0

Workloads: docs_join, raster_pyramid, tile_serving, or ``all`` (each in
turn). Every workload runs in a fresh Python process (workloads.py) with
``local[nproc]``, an explicit PYTHONPATH for the Spark Python workers and
its own Spark local dir, all inside this checkout. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics (plus tracing overhead) with ``--trace 1``. Lines
before it list every metric with its unit and the correctness verdict.

Exit status is non-zero, with no result line, when the library or a
required module is missing or a workload process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("docs_join", "raster_pyramid", "tile_serving")
TIME_LIMIT_S = 170.0
# Set-up repetitions of a run: 0 leaves them to the workload
# (workloads.SIZES); a traced run makes both of its runs with one set-up
# each so that the pair fits the time limit.
SETUP_REPS, TRACE_SETUP_REPS = 0, 1

# (name, unit, better). op1/op2 are the two timed operations of each
# workload; README.md names them per workload.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op1_ms", "ms", "lower"),
    ("op2_ms", "ms", "lower"),
]


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait until
    every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(workload: str, seed: int, seconds: float, trace: bool, scale: float,
              reps: int, deadline: float) -> dict:
    """Run one workload in a fresh process; its result dict."""
    ncpu = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_DRIVER_MEM": "3g",
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), workload, str(seed),
           str(seconds), "1" if trace else "0", str(scale), str(reps), out, WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(deadline - time.monotonic(), 0))
    except subprocess.TimeoutExpired:
        raise TimeoutError(f"{workload} ran past the time limit") from None
    finally:
        _stop_group(proc)
    try:
        if proc.returncode != 0:
            raise RuntimeError(f"{workload} exited with status {proc.returncode}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return res


def run_workload(workload: str, seed: int, seconds: float, trace: bool, scale: float,
                 deadline: float) -> dict:
    """Untraced: the end-to-end metrics. Traced: an untraced run, then a
    traced one; the per-layer metrics plus the traced-minus-untraced
    difference of every end-to-end metric (tracing overhead)."""
    reps = TRACE_SETUP_REPS if trace else SETUP_REPS
    base = run_child(workload, seed, seconds, False, scale, reps, deadline)
    metrics = {name: {"value": base["e2e"][name], "unit": unit} for name, unit, _ in END_TO_END}
    res = {"correct": base["failed"] == 0, "attempted": base["attempted"],
           "failed": base["failed"], "errors": base["errors"], "notes": base["notes"]}
    if trace:
        import layers

        traced = run_child(workload, seed, seconds, True, scale, reps, deadline)
        units = {name: unit for name, unit, _ in layers.PER_LAYER}
        metrics = {name: {"value": v, "unit": units[name]} for name, v in traced["layers"].items()}
        for name, unit, _ in END_TO_END:
            a, b = base["e2e"][name], traced["e2e"][name]
            metrics[f"trace_overhead.{name}"] = {
                "value": b - a if a is not None and b is not None else None, "unit": unit}
        res["attempted"] += traced["attempted"]
        res["failed"] += traced["failed"]
        res["errors"] += traced["errors"]
        res["correct"] = res["failed"] == 0
    res["metrics"] = metrics
    return res


def report(workload: str, res: dict) -> None:
    """Human-readable lines: verdict, notes, every metric with its unit."""
    verdict = "correct" if res["correct"] else "WRONG"
    ratio = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"# {workload}: {verdict}; attempted {res['attempted']}, failed {res['failed']}"
          f" (failed_ratio {ratio:.4f})")
    for e in res["errors"]:
        print(f"#   error: {e}")
    for k, v in res["notes"].items():
        print(f"#   {k} = {v}")
    for name, m in res["metrics"].items():
        print(f"{workload}  {name:<40} {m['value']!s:>22} {m['unit']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the tests use a tiny scale)")
    args = ap.parse_args(argv)
    # a terminated runner still stops its workload process (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "geotrellis_server_spark", "__init__.py")):
        return _fail(f"geotrellis_server_spark not found under {ROOT}")
    for mod in ("pyspark", "duckdb", "numpy", "pyarrow", "pandas"):
        try:
            __import__(mod)
        except ImportError:
            return _fail(f"required module {mod} is not installed")

    deadline = time.monotonic() + TIME_LIMIT_S * (3 if args.workload == "all" else 1)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    try:
        for w in names:
            results[w] = run_workload(w, args.seed, args.seconds, bool(args.trace),
                                      args.scale, deadline)
            report(w, results[w])
    except (RuntimeError, TimeoutError, OSError, ValueError, KeyError) as e:
        return _fail(str(e))
    missing = [f"{w}.{n}" for w, r in results.items()
               for n, m in r["metrics"].items() if m["value"] is None]
    if missing:
        return _fail("no value for " + ", ".join(missing))
    if len(results) == 1:
        r = results[names[0]]
        metrics = r["metrics"]
    else:
        r = {"correct": all(x["correct"] for x in results.values()),
             "attempted": sum(x["attempted"] for x in results.values()),
             "failed": sum(x["failed"] for x in results.values())}
        metrics = {f"{w}.{n}": m for w, x in results.items() for n, m in x["metrics"].items()}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
