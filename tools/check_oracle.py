#!/usr/bin/env python
"""Run every registered query against its DuckDB oracle — a local
replica of the driver's t2 correctness gate.  Usage:

    python tools/check_oracle.py [--sf DIR] [--only pattern[,pattern...]]

``--only`` takes query names or fnmatch patterns: ``--only 'stream_*'``
runs the 12 streaming drains.
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from tsengine.registry import all_queries
    from tsengine.session import get_spark
    from tsengine.testing import compare, duck_connect

    spark = get_spark("check-oracle")
    con = duck_connect(args.sf)
    patterns = args.only.split(",") if args.only else None

    n_ok = n_fail = n_rows_only = 0
    for name, q in sorted(all_queries().items()):
        if patterns and not any(fnmatch.fnmatchcase(name, p) for p in patterns):
            continue
        t0 = time.time()
        try:
            df = q.fn(spark, args.sf)
            if q.oracle is None:
                n = df.count()
                print(f"[rows] {name}: {n} rows ({time.time()-t0:.1f}s)")
                n_rows_only += 1
                continue
            res = compare(name, df, q.oracle, con)
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: EXCEPTION {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            n_fail += 1
            continue
        print(f"{res} ({time.time()-t0:.1f}s)")
        n_ok += res.ok
        n_fail += not res.ok
    print(f"\n{n_ok} ok, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
