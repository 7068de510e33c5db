"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count, schema width, and order-insensitive value hash."""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))  # the repo root

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from geotrellis_server_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main() -> None:
    qs = entrymod.queries()
    # a mistyped subset name would otherwise select nothing and pass
    unknown = sorted(set(ONLY or ()) - set(qs))
    if unknown:
        print(f"unknown gate queries: {', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR).toPandas()
        t1 = time.time()
        if name not in oracles:
            print(f"{name:36s} rows={len(sdf):8d}  (rows-only, no oracle)  {t1-t0:6.1f}s")
            continue
        odf = con.execute(oracles[name]).df()
        a, b = norm(sdf), norm(odf)
        ok_rows = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False)
                ok_vals = True
            except AssertionError as e:
                print(str(e)[:500])
        status = "OK " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            n_fail += 1
        print(
            f"{name:36s} {status} rows={len(a)}/{len(b)} cols={list(a.columns)}"
            f" vs {list(b.columns)}  spark={t1-t0:5.1f}s"
        )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
