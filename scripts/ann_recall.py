"""ANN recall@k regression table: knn_srp / knn_ivf / knn_pq_adc
(tuned defaults) vs the exact brute-force baseline, at sf0.01 (500
vectors) and sf0.1 (2000 vectors).

Usage:  python scripts/ann_recall.py

The corpora are uniform unit vectors — the ANN worst case (true
neighbors at weak cosine, no cluster structure), which is exactly where
a recall floor is worth pinning.  Floors asserted in
tests/test_similarity.py::test_ann_recall_floor; table recorded in
SCALING.md.  Prints markdown rows + one JSON summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from kafkastreamsinteractivequeries_spark.operators import similarity as S
from kafkastreamsinteractivequeries_spark.sources.tables import load_table

K = 10
FLOOR = 0.95


def main() -> int:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .appName("ann-recall")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("FATAL")
    summary: dict[str, dict[str, float]] = {}
    print(f"| path | params | corpus | recall@{K} | sec |")
    print("|---|---|---|---|---|")
    for sf in ("0.01", "0.1"):
        sf_dir = f"/root/testdata/sf{sf}"
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = S.knn_bruteforce(emb, queries, k=K).localCheckpoint()
        book = S.pq_train(emb, m=16, k=32, iterations=3).localCheckpoint()
        paths = {
            "srp": ("planes=48 chunks=16 (default)", lambda: S.knn_srp(emb, queries, k=K)),
            "ivf": ("n_lists=16 nprobe=12 (default)", lambda: S.knn_ivf(emb, queries, k=K)),
            "pq-rerank": (
                "m=16 k=32 it=3 rerank=200",
                lambda: S.knn_pq_adc(emb, queries, book, k=K, m=16, rerank=200),
            ),
            "pq-adc-pure": (
                "m=8 k=16 it=2, no rerank (s7 oracle config)",
                lambda: S.knn_pq_adc(emb, queries, S.pq_train(emb, m=8, k=16, iterations=2), k=K),
            ),
        }
        for name, (params, fn) in paths.items():
            t0 = time.time()
            r = S.recall_at_k(exact, fn(), k=K)
            dt = time.time() - t0
            summary.setdefault(name, {})[f"n={n}"] = round(r, 4)
            print(f"| {name} | {params} | {n} | {r:.4f} | {dt:.1f} |", flush=True)
    floors_ok = all(
        v >= FLOOR
        for name, by_n in summary.items()
        if name != "pq-adc-pure"  # coarse-only path documented, not floored
        for v in by_n.values()
    )
    print(json.dumps({"k": K, "floor": FLOOR, "floor_ok": floors_ok, "recall": summary}))
    return 0 if floors_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
