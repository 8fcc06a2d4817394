"""Streaming state-scale soak (SCALING.md methodology, round 4).

Runs the two stateful streaming operators against a rate source for a
wall-clock window and samples each micro-batch's state-store row count
(``lastProgress["stateOperators"][*]["numRowsTotal"]``):

- ``streaming_exact_dedup``: event_time advances with the rate stream
  and the fingerprint space recycles, so under the watermark the state
  must plateau (old fingerprints evicted as the watermark passes) —
  NOT grow linearly with total rows ingested.
- ``windowed_streaming_aggregation``: tumbling 10s windows under a 30s
  watermark — live state is bounded by (watermark + window) / window
  window groups × key cardinality.

Prints per-query {rows_ingested, state_rows_first, state_rows_last,
state_rows_max} and a PASS/FAIL bound check.  Also the place where the
cluster state-store story is pinned: for real deployments set

    spark.sql.streaming.stateStore.providerClass =
        org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider

so state spills to local RocksDB instead of the executor heap (the
default HDFS-backed in-memory map provider holds every key on-heap —
fine for these soaks, wrong for 100 TB/day keyspaces).  This soak runs
the default provider; the plan and eviction behavior are identical.

Usage: python scripts/streaming_soak.py [seconds_per_soak]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def soak_dedup(spark: SparkSession, seconds: int) -> dict:
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        streaming_exact_dedup,
    )

    # 2000 rows/s, fingerprint space of 5000 recycling texts: ~2.5 s of
    # stream covers the space, so a 15 s watermark bounds live state at
    # ~5000 + in-horizon churn, however long the soak runs.
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "2000")
        .load()
        .select(
            F.col("timestamp").alias("event_time"),
            F.concat(F.lit("doc "), (F.col("value") % 5000).cast("string")).alias("text"),
        )
    )
    deduped = streaming_exact_dedup(rate, watermark="15 seconds")
    q = (
        deduped.writeStream.format("noop")
        .option("checkpointLocation", "/tmp/soak_dedup_ckpt")
        .trigger(processingTime="2 seconds")
        .start()
    )
    return _drive(q, seconds, "streaming_exact_dedup")


def soak_windowed(spark: SparkSession, seconds: int) -> dict:
    from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
        windowed_streaming_aggregation,
    )

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "2000")
        .load()
        .select(
            F.col("timestamp").alias("event_time"),
            F.concat(F.lit("sym"), (F.col("value") % 50).cast("string")).alias("symbol"),
            (F.col("value") % 2 == 0).alias("buy"),
            (F.col("value") % 100).cast("double").alias("amount"),
            (F.col("value") % 7).cast("int").alias("number_shares"),
        )
    )
    agg = windowed_streaming_aggregation(rate, "10 seconds", "30 seconds")
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", "/tmp/soak_win_ckpt")
        .trigger(processingTime="2 seconds")
        .start()
    )
    return _drive(q, seconds, "windowed_streaming_aggregation")


def _drive(q, seconds: int, name: str) -> dict:
    t0 = time.time()
    samples: list[tuple[int, int]] = []  # (rows_ingested_total, state_rows)
    total_rows = 0
    seen_batches = set()
    while time.time() - t0 < seconds:
        time.sleep(1.0)
        p = q.lastProgress
        if not p or p["batchId"] in seen_batches:
            continue
        seen_batches.add(p["batchId"])
        total_rows += p["numInputRows"]
        ops = p.get("stateOperators") or []
        if ops:
            samples.append((total_rows, sum(op["numRowsTotal"] for op in ops)))
    q.stop()
    if not samples:
        raise RuntimeError(f"{name}: no progress sampled")
    mid = samples[len(samples) // 2][1]
    last_rows, last_state = samples[-1]
    peak = max(s for _, s in samples)
    # Bounded-state criterion: after warmup the state stops tracking
    # ingest — the last sample's state must be under 2× the midpoint
    # sample even though ingest kept growing.
    bounded = last_state < 2 * mid if mid else False
    return {
        "query": name,
        "seconds": seconds,
        "rows_ingested": last_rows,
        "state_rows_mid": mid,
        "state_rows_last": last_state,
        "state_rows_peak": peak,
        "bounded": bounded,
    }


def main() -> int:
    seconds = int(sys.argv[1]) if len(sys.argv) > 1 else 45
    import shutil

    shutil.rmtree("/tmp/soak_dedup_ckpt", ignore_errors=True)
    shutil.rmtree("/tmp/soak_win_ckpt", ignore_errors=True)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("streaming-soak")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("FATAL")
    results = [soak_dedup(spark, seconds), soak_windowed(spark, seconds)]
    for r in results:
        print(json.dumps(r))
    ok = all(r["bounded"] for r in results)
    print("SOAK", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
