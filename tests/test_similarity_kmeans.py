"""Distributed k-means trainer + IVF integration."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from inputosm_spark.operators import similarity
from inputosm_spark.sources.registry import load_table


def test_kmeans_shapes_and_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    c1 = similarity.kmeans_centroids(emb, k=6, iters=2)
    rows = c1.collect()
    assert len(rows) == 6  # empty clusters keep their previous centroid
    dim = emb.select(F.size("embedding")).first()[0]
    assert all(len(r.embedding) == dim for r in rows)
    # deterministic: same input partitioning -> same centroids
    c2 = {r.cid: r.embedding for r in
          similarity.kmeans_centroids(emb, k=6, iters=2).collect()}
    assert {r.cid: r.embedding for r in rows} == c2


def test_kmeans_improves_or_holds_assignment_quality(spark, sf_dir):
    """Mean best-cosine to the centroid set must not degrade vs the
    naive first-N init (Lloyd monotonicity, allowing rounding slack)."""
    emb = load_table(spark, sf_dir, "embeddings")
    naive = emb.filter(F.col("vec_id") < 6)

    def mean_best_cos(cent):
        a = similarity.ivf_assign(emb, cent)
        joined = (
            emb.select(F.col("vec_id"), "embedding")
            .join(a, "vec_id")
            .join(
                cent.select(F.col("vec_id").alias("cid"),
                            F.col("embedding").alias("cemb")),
                "cid",
            )
        )
        rows = joined.select(
            similarity.fp_vec("embedding").alias("a"),
            similarity.fp_vec("cemb").alias("b"),
        ).collect()
        A = np.array([r.a for r in rows], dtype=np.float64)
        B = np.array([r.b for r in rows], dtype=np.float64)
        cos = np.einsum("ij,ij->i", A, B) / np.sqrt(
            np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
        )
        return cos.mean()

    trained = similarity.kmeans_centroids(emb, k=6, iters=2).select(
        F.col("cid").alias("vec_id"), "embedding"
    )
    assert mean_best_cos(trained) >= mean_best_cos(naive) - 1e-6


def test_kmeans_keeps_k_on_empty_clusters(spark):
    """Degenerate corpus (two tight blobs, k=4): clusters that capture
    zero vectors must keep their previous centroid, not vanish."""
    rows = [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.kmeans_centroids(emb, k=4, iters=2)
    got = cent.collect()
    assert len(got) == 4
    assert sorted(r.cid for r in got) == [0, 1, 2, 3]


def test_ivf_with_trained_centroids(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=6, iters=2).select(
        F.col("cid").alias("vec_id"), "embedding"
    )
    out = similarity.ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=3,
                              centroids=cents, n_probe=2)
    assert out.count() == 30
    assert out.groupBy("qid").count().filter("count != 3").isEmpty()


def test_fused_assign_matches_window_formulation(spark):
    """The fused assign+partial-mean kernel must be bit-identical to
    the pre-fusion Catalyst-window formulation on an adversarial
    fixture: two IDENTICAL centroids (every vector is a rounded-grid
    near-tie between cid 0 and 1 -> the in-kernel grid-rounding path)
    and exact duplicate corpus vectors. Zero-norm vectors RAISE in
    both paths (ANSI divide-by-zero contract) — checked separately."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inputosm_spark.operators import similarity
    from inputosm_spark.operators.similarity import FP_SCALE, fp_vec, ivf_assign

    k, iters = 3, 2
    rows = []
    base = [
        [1.0, 0.0, 0.0, 0.0],   # cid 0
        [1.0, 0.0, 0.0, 0.0],   # cid 1 == cid 0 (adversarial tie)
        [0.0, 1.0, 0.0, 0.0],   # cid 2
    ]
    for i, v in enumerate(base):
        rows.append((i, v))
    for i in range(3, 40):
        v = [((i * 37 + j * 11) % 17 - 8) / 10.0 for j in range(4)]
        rows.append((i, v))
    rows.append((40, base[0]))          # duplicate of both tied centroids
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = sorted(
        similarity.kmeans_centroids(corpus, k=k, iters=iters).collect(),
        key=lambda r: r.cid,
    )

    # reference twin: the pre-fusion loop (assignment window + vector
    # join + grouped mean kernel)
    import pandas as pd

    cent = corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.transform(fp_vec("embedding"),
                    lambda x: x.cast("double") / F.lit(float(FP_SCALE))).alias("cvec"),
    ).localCheckpoint(eager=True)
    ivs = corpus.select("vec_id", fp_vec("embedding").alias("iv"))

    def mean_fn(pdf):
        V = np.stack(pdf["iv"].to_numpy()).astype(np.int64)
        m = V.sum(axis=0, dtype=np.int64) / (len(V) * float(FP_SCALE))
        return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])], "cvec": [m.tolist()]})

    for _ in range(iters):
        assign = ivf_assign(
            corpus,
            cent.select(F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")),
        )
        means = (
            ivs.join(assign, "vec_id")
            .groupBy("cid")
            .applyInPandas(mean_fn, "cid long, cvec array<double>")
        )
        cent = (
            cent.select("cid", F.col("cvec").alias("prev"))
            .join(means, "cid", "left")
            .select("cid", F.coalesce("cvec", "prev").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    want = sorted(cent.collect(), key=lambda r: r.cid)

    assert [r.cid for r in got] == [r.cid for r in want]
    for g, w in zip(got, want):
        assert g.embedding == w.cvec, (g.cid, g.embedding, w.cvec)


def test_zero_norm_vector_raises(spark):
    """Zero-norm vectors are a data error: the fused kernel raises the
    same loud failure the ANSI Catalyst path does (divide by zero),
    never a silent NaN assignment."""
    import pytest

    from inputosm_spark.operators import similarity

    rows = [(i, [float(i + 1), 1.0]) for i in range(6)]
    rows.append((6, [0.0, 0.0]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-finite cosine|DIVIDE_BY_ZERO"):
        similarity.kmeans_centroids(corpus, k=2, iters=1).collect()
