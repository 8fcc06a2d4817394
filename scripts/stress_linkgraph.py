#!/usr/bin/env python
"""16x wall ratio for web_link_graph: synthetic HTML pages derived from
the documents table (5 hrefs each across the resolution cases), scaled
16x.  Expected ~linear-or-better: one map-only extract/resolve pass +
the single distinct shuffle on skinny host pairs."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from kafkastreamsinteractivequeries_spark.session import get_spark
from kafkastreamsinteractivequeries_spark.operators import dedup as D
from kafkastreamsinteractivequeries_spark.sources.tables import load_table

SF = "/root/testdata/sf0.1"
REPS = 3


def pages(docs):
    did = F.col("doc_id")
    h = (did % 499).cast("string")
    url = F.concat(F.lit("https://site"), h, F.lit(".com/dir/page.html"))
    html = F.concat(
        F.lit('<p>x</p><a href="https://site'),
        ((did * 7) % 499).cast("string"),
        F.lit('.com/p1">a</a><a href="//site'),
        ((did * 13) % 499).cast("string"),
        F.lit('.com/p2">b</a><a href="/local"><a href="rel.html">r</a>'),
        F.lit('<a href="#top">t</a>'),
    )
    return docs.select(url.alias("url"), html.alias("html"), "doc_id")


def scale(df, factor):
    parts = [
        df.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            "url",
            "html",
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def wall(df):
    best = None
    for _ in range(REPS):
        t0 = time.monotonic()
        D.web_link_graph(df).agg(F.count(F.lit(1))).collect()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    return best


def main():
    spark = get_spark("stress-linkgraph")
    spark.sparkContext.setLogLevel("FATAL")
    docs = load_table(spark, SF, "documents").localCheckpoint()
    p1 = pages(docs)
    w1 = wall(p1)
    w16 = wall(scale(pages(docs), 16))
    print(f"web_link_graph 1x={w1:6.2f}s 16x={w16:6.2f}s ratio={w16 / w1:5.2f}")


if __name__ == "__main__":
    main()
