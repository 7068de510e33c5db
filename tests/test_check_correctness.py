"""scripts/check_correctness.py argument handling — runs no Spark."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_unknown_subset_names_fail_before_spark():
    # a mistyped name used to select nothing, run nothing and exit 0
    r = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "check_correctness.py"),
         "/nonexistent-sf-dir", "geo_quadtree_adapt_z8,zz_typo,geo_quadtree_adapt_z9"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r.returncode == 2, r.stderr[-2000:]
    assert "unknown gate queries: geo_quadtree_adapt_z9, zz_typo" in r.stderr
