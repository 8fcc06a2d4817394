"""Round-7 16x scale stress for the IVF-PQ SERVING join: time
knn_ivfpq's query path (probe + (list,sub,code) hash join + rerank) at
1x vs 16x corpus, with quantizers trained ONCE outside the timed region
(the production shape — training is a separate job via save_index).

What healthy looks like: the probing join scans only the codes of
probed lists, so with nprobe/n_lists = 1/2 the timed work should grow
roughly with corpus size (every corpus row still pays residual encode
+ the join probe), but stay FLAT in the number of candidate rows per
query relative to list occupancy — i.e. ~linear wall growth, no
super-linear blowup from the self-join-free design.  A second timing
uses a PRE-LANDED ivfpq_codes table (the at-ingest landing job), which
removes the per-query encode scan: that is the steady-state serving
cost and should grow sub-linearly vs the inline form.

Usage: python scripts/stress_ivfpq.py
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafkastreamsinteractivequeries_spark.operators import similarity as S  # noqa: E402
from kafkastreamsinteractivequeries_spark.session import get_spark  # noqa: E402
from kafkastreamsinteractivequeries_spark.sources.tables import load_table, spread  # noqa: E402
from scripts.stress_scale import SF_DIR, build_16x  # noqa: E402


def queries_of(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def timed(label, df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{label}: {dt:.1f}s")
    return dt


def main() -> None:
    spark = get_spark("stress-ivfpq")
    spark.sparkContext.setLogLevel("ERROR")
    emb16x, _ = build_16x(spark)
    emb1 = spread(load_table(spark, SF_DIR, "embeddings")).localCheckpoint()
    emb16 = spread(spark.read.parquet(emb16x)).localCheckpoint()
    n1, n16 = emb1.count(), emb16.count()
    print(f"corpus 1x={n1} rows, 16x={n16} rows")

    # train once on the 1x corpus (production: a training job samples
    # the corpus; index geometry must not retrain per query)
    cent, book = S.ivfpq_train(emb1, n_lists=16, m=8, k=16, iterations=2)
    cent = cent.localCheckpoint()
    book = book.localCheckpoint()

    q1, q16 = queries_of(emb1), queries_of(emb16)

    # warm-up
    timed("warmup 1x", S.knn_ivfpq(emb1, q1, cent, book, k=10, nprobe=8, rerank=100))

    t1 = timed(
        "inline encode 1x", S.knn_ivfpq(emb1, q1, cent, book, k=10, nprobe=8, rerank=100)
    )
    t16 = timed(
        "inline encode 16x",
        S.knn_ivfpq(emb16, q16, cent, book, k=10, nprobe=8, rerank=100),
    )
    print(f"inline wall growth at 16x corpus: {t16 / t1:.1f}x")

    # pre-landed code table: the at-ingest landing job runs once, the
    # query path then only probes
    codes1 = S.ivfpq_codes(emb1, cent, book).localCheckpoint()
    codes16 = S.ivfpq_codes(emb16, cent, book).localCheckpoint()
    print(f"code table rows: 1x={codes1.count()}, 16x={codes16.count()}")
    p1 = timed(
        "pre-landed codes 1x",
        S.knn_ivfpq(emb1, q1, cent, book, k=10, nprobe=8, rerank=100, code_rows=codes1),
    )
    p16 = timed(
        "pre-landed codes 16x",
        S.knn_ivfpq(
            emb16, q16, cent, book, k=10, nprobe=8, rerank=100, code_rows=codes16
        ),
    )
    print(f"pre-landed wall growth at 16x corpus: {p16 / p1:.1f}x")
    print(f"serving speedup from landing codes at 16x: {t16 / p16:.1f}x")


if __name__ == "__main__":
    main()


def hundred_x() -> None:
    """100x variant: the pre-landed serving join one decade further out
    (200k vectors, 1.6M code rows).  Run from the root of a checkout:
    python -c "from scripts.stress_ivfpq import hundred_x; hundred_x()"."""
    from scripts.stress_100x import build_100x

    spark = get_spark("stress-ivfpq-100x")
    spark.sparkContext.setLogLevel("ERROR")
    emb100x, _ = build_100x(spark)
    emb1 = spread(load_table(spark, SF_DIR, "embeddings")).localCheckpoint()
    emb100 = spread(spark.read.parquet(emb100x)).localCheckpoint()
    print(f"corpus 1x={emb1.count()} rows, 100x={emb100.count()} rows")
    cent, book = S.ivfpq_train(emb1, n_lists=16, m=8, k=16, iterations=2)
    cent, book = cent.localCheckpoint(), book.localCheckpoint()
    q1, q100 = queries_of(emb1), queries_of(emb100)
    codes1 = S.ivfpq_codes(emb1, cent, book).localCheckpoint()
    codes100 = S.ivfpq_codes(emb100, cent, book).localCheckpoint()
    print(f"code rows: 1x={codes1.count()}, 100x={codes100.count()}")
    timed("warmup", S.knn_ivfpq(emb1, q1, cent, book, k=10, nprobe=8,
                                rerank=100, code_rows=codes1))
    p1 = timed("pre-landed 1x", S.knn_ivfpq(emb1, q1, cent, book, k=10,
                                            nprobe=8, rerank=100, code_rows=codes1))
    p100 = timed("pre-landed 100x", S.knn_ivfpq(emb100, q100, cent, book, k=10,
                                                nprobe=8, rerank=100, code_rows=codes100))
    print(f"pre-landed wall growth at 100x corpus: {p100 / p1:.1f}x")
