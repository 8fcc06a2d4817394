"""bench.py helpers that shape what the bench measures."""

import bench


def test_stress_replicas_keep_sparse_ids_unique(spark, tmp_path):
    """Replicas shift ids past the largest source id, so a corpus whose
    ids are sparse (not 0..n-1) still replicates to unique ids."""
    src, out = tmp_path / "src", tmp_path / "out"
    spark.createDataFrame(
        [(0, "a b c", "en", "s", 5), (2, "d e f", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(src / "documents.parquet"))
    spark.createDataFrame(
        [(1, [0.5, 0.25], 0), (3, [0.125, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(src / "embeddings.parquet"))
    out.mkdir()
    bench.build_stress_corpus(spark, str(src), 4, str(out))
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        ids = [
            r[0]
            for r in spark.read.parquet(str(out / f"{table}.parquet"))
            .select(id_col)
            .collect()
        ]
        assert len(ids) == 8
        assert len(set(ids)) == 8, f"{table} replica ids collide: {sorted(ids)}"
