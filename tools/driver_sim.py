"""Full simulation of the driver's correctness gate.

Runs in a FRESH process with a VANILLA SparkSession (no package confs),
executes every ``queries()`` entry at sf0.01, and compares row count,
columns, and order-insensitive values against the DuckDB ``oracle_sql()``
— the same contract as ``CORRECTNESS_r{N}.json``.

Usage:  python tools/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tests.oracle import compare


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .appName("driver-sim")
        .getOrCreate()
    )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    failed = []
    for key in sorted(queries):
        t0 = time.time()
        try:
            df = queries[key](spark, sf_dir)
            if key in oracles:
                compare(df, oracles[key], sf_dir)
                status = "pass"
            else:
                n = df.count()
                status = f"rows-only ({n})"
            results[key] = {"status": status, "sec": round(time.time() - t0, 2)}
        except Exception as e:
            failed.append(key)
            results[key] = {
                "status": "FAIL",
                "sec": round(time.time() - t0, 2),
                "err": "".join(traceback.format_exception_only(e)).strip()[:500],
            }
        print(f"{key:35s} {results[key]['status']:>12s} {results[key]['sec']:6.2f}s", flush=True)
    print(json.dumps({"total": len(queries), "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
