#!/usr/bin/env python
"""Capture .explain('formatted') for declared queries into plans/r12/.

Usage: python scripts/capture_plans.py <suffix> [key ...]

Writes plans/r11/<key>_<suffix>.txt for each requested key (default:
every declared key).  The plan is captured at sf0.1 with the bench's
session settings so Exchange counts / join strategies match what the
bench executes.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from kafkastreamsinteractivequeries_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1]
    only = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("ksiq-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = E.queries()
    keys = only or sorted(queries)
    for key in keys:
        try:
            df = queries[key](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR capturing plan: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{key}: {len(plan)} chars -> {path}")


if __name__ == "__main__":
    main()
