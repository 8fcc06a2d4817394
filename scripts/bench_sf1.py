"""sf1-scale analytics bench (SCALING.md / BENCH_NOTES methodology).

The driver ships testdata up to sf0.1 (600k lineitem).  This harness
materializes a key-consistent 10× replica set (~6M lineitem — TPC-H
sf1 scale) into ``.scratch/sf1x10/`` — every replica shifts the
orderkey/custkey/partkey/suppkey/user_id spaces by a replica offset so
foreign keys stay valid and join fan-outs stay realistic (nation/
region/documents/embeddings stay 1×: true dimensions) — then times the
a1–a12 analytics suite at sf0.1 vs the 10× corpus.

A healthy plan grows ≈ linearly in fact rows; AQE should keep join
strategies stable.  Usage: python scripts/bench_sf1.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.session import get_spark
from kafkastreamsinteractivequeries_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1x10"
)
REPLICAS = 10

# table -> columns shifted by (replica * (max+1)) of the named key space
SHIFTS = {
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
}
COPY_1X = ["region", "nation", "documents", "embeddings"]
KEY_TABLE = {
    "o_orderkey": "orders", "c_custkey": "customer", "p_partkey": "part",
    "s_suppkey": "supplier", "event_id": "events", "user_id": "events",
}


def build(spark) -> None:
    os.makedirs(SCRATCH, exist_ok=True)
    offsets = {}
    for key, table in KEY_TABLE.items():
        df = load_table(spark, SF_DIR, table)
        offsets[key] = int(df.agg(F.max(key)).collect()[0][0]) + 1
    reps = spark.range(REPLICAS).withColumnRenamed("id", "_r")
    for table, shifts in SHIFTS.items():
        out = os.path.join(SCRATCH, f"{table}.parquet")
        if os.path.exists(out):
            continue
        df = load_table(spark, SF_DIR, table)
        cols = [
            (F.col(c) + F.col("_r") * offsets[shifts[c]]).alias(c)
            if c in shifts
            else F.col(c)
            for c in df.columns
        ]
        df.crossJoin(reps).select(*cols).write.mode("overwrite").parquet(out)
    for table in COPY_1X:
        out = os.path.join(SCRATCH, f"{table}.parquet")
        if not os.path.exists(out):
            load_table(spark, SF_DIR, table).write.mode("overwrite").parquet(out)


def main() -> int:
    import __spark_entry__ as E

    spark = get_spark()
    spark.sparkContext.setLogLevel("FATAL")
    build(spark)
    q = E.queries()
    keys = [k for k in sorted(q) if k.startswith("a")]
    results = {}
    print("| query | sf0.1 (600k li) | 10x (6M li) | growth |")
    print("|---|---|---|---|")
    for key in keys:
        times = {}
        for name, d in (("1x", SF_DIR), ("10x", SCRATCH)):
            t0 = time.time()
            q[key](spark, d).write.format("noop").mode("overwrite").save()
            times[name] = time.time() - t0
        g = times["10x"] / times["1x"] if times["1x"] else float("inf")
        results[key] = {k: round(v, 2) for k, v in times.items()} | {"growth": round(g, 1)}
        print(f"| {key} | {times['1x']:.2f}s | {times['10x']:.2f}s | {g:.1f}x |", flush=True)
    worst = max(results.values(), key=lambda r: r["growth"])["growth"]
    print(json.dumps({"replicas": REPLICAS, "worst_growth": worst, "queries": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
