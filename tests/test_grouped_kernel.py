"""applyInPandas grouped kernel vs the declarative centroid query."""

from __future__ import annotations

from pyspark.sql import functions as F

from npm_mirror_spark.faces.relational import q_centroids
from npm_mirror_spark.operators.similarity import grouped_centroids_pandas


def test_grouped_pandas_centroids_match_declarative(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pd_cent = {
        r["label"]: (r["centroid"], r["n_vectors"])
        for r in grouped_centroids_pandas(emb).collect()
    }
    sql_cent = {}
    for r in q_centroids(spark, sf_dir).collect():
        sql_cent.setdefault(r["label"], {})[r["pos"]] = r["centroid_val"]

    counts = {r["label"]: r["n"] for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(pd_cent) == set(sql_cent)
    for label, (vec, n) in pd_cent.items():
        assert n == counts[label]
        for pos0, v in enumerate(vec):
            # numpy float64 mean vs quantized exact mean: equal to ~1e-7
            # (the declarative version quantizes components to 2^-24)
            assert abs(v - sql_cent[label][pos0 + 1]) < 1e-6, (label, pos0)
