"""Local stand-in for the driver's correctness gate.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py [sf_dir] --window
         (exactly the driver's first-50 registry window)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crz_scraper_spark.oracle import compare, duckdb_connection  # noqa: E402
from crz_scraper_spark.plans.registry import _FIRST_WINDOW, REGISTRY  # noqa: E402
from crz_scraper_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    args = sys.argv[2:]
    if args == ["--window"]:
        only = set(_FIRST_WINDOW)
    else:
        only = set(args)
    spark = get_spark("check_correctness", cpus=8)
    con = duckdb_connection(sf_dir)
    failures = []
    for name, (fn, sql) in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if sql is None:
                n = sdf.count()
                print(f"ok    {name}: rows-only, {n} rows ({time.time()-t0:.1f}s)")
                continue
            problems = compare(sdf, con, sql)
        except Exception:
            print(f"FAIL  {name}: ERROR\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:3]))
            failures.append(name)
        else:
            print(f"ok    {name}: match ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
