"""Mimic the driver: vanilla SparkSession, run entry() + every queries()
entry at sf0.01 and compare against oracle_sql() in DuckDB.

Usage: python scripts/verify_driver.py [sf_dir] [key ...]

Any extra args are query-key names; when present only those keys run.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as E
from tests.oracle import compare


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("FATAL")

    if not only:
        n = E.entry(spark).count()
        print(f"entry: {n} rows")
        assert n >= 0

    queries = E.queries()
    if only:
        unknown = only - set(queries)
        if unknown:
            raise SystemExit(f"unknown keys: {sorted(unknown)}")
        queries = {k: v for k, v in queries.items() if k in only}
    oracles = E.oracle_sql()
    failures = []
    for key, fn in queries.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            sql = oracles.get(key)
            if sql is None:
                rows = df.count()
                status = f"rows-only ({rows})"
            else:
                compare(df, sql, sf_dir)
                status = "MATCH"
        except Exception as exc:  # noqa: BLE001
            status = f"ERROR: {type(exc).__name__}: {exc}"
            failures.append((key, status))
        print(f"{key:40s} {time.time() - t0:6.1f}s  {status[:160]}")

    print(f"\n{len(queries) - len(failures)}/{len(queries)} ok")
    for key, msg in failures:
        print(f"FAIL {key}: {msg[:300]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
