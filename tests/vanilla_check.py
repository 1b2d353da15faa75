"""Replicate the correctness driver's environment: a bare vanilla
SparkSession (no builder confs) running registry queries against the
DuckDB oracle at sf0.01.

Not collected by pytest (no test_ prefix); run manually:

    python tests/vanilla_check.py [name ...]

With no args, checks the first-50 registry window (the driver's sample).
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry  # noqa: E402
from tests.oracle_utils import compare_frames, duckdb_run  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[1:] or list(qs)[:50]
    spark = SparkSession.builder.getOrCreate()
    failures = 0
    for i, name in enumerate(names):
        # NO manual drains: each registered query releases the previous
        # query's persisted intermediates when it starts
        # (operators/pins.py), so a full-registry sweep in one
        # default-heap (1g) vanilla session must fit on its own.
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        odf = duckdb_run(oracles[name], SF_DIR)
        problems = compare_frames(sdf, odf)
        if problems:
            print(f"FAIL {name}: {problems}")
            failures += 1
        else:
            print(f"ok   {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
    print(f"done: {len(names)} checked, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
