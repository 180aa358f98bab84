"""Similarity operators: the bucket-GEMM kernel's partial top-k and
threshold selection, the zero-norm contract, the plan shape (a vector
crosses Arrow once, as its fixed-point array) and the exact PCA power
iteration.

Partial selection drops kernel output from O(nq*nc) to O(nq*k) while
the downstream Catalyst ranking (and therefore every oracle hash) is
provably unchanged — the kernel keeps the margin superset of the
rounded-rank survivors.

The distributed k-means trainer and its IVF integration are tested
here too.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from inputosm_spark.operators import similarity
from inputosm_spark.sources.registry import load_table


def _bucket(n: int, d: int = 16, seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    iv = (rng.uniform(-1, 1, size=(n, d)) * similarity.FP_SCALE).astype(
        np.int64
    )
    return pd.DataFrame({"qid": np.arange(n, dtype=np.int64), "iv": list(iv)})


def _embeddings(spark, n: int, d: int, seed: int):
    rng = np.random.default_rng(seed)
    emb = rng.uniform(-1, 1, size=(n, d)).astype(float)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(emb)})
    )


def test_topk_prunes_kernel_output_and_keeps_survivors():
    q = _bucket(20, seed=1)
    c = _bucket(400, seed=2).rename(columns={"qid": "nid"})
    k = 3
    full = similarity._gemm_pairs(q, c)
    pruned = similarity._gemm_pairs(q, c, topk=k)
    assert len(full) == 20 * 400
    # the whole point: emitted rows collapse towards nq*(k+1)
    assert len(pruned) <= 20 * (k + 1) * 3  # generous tie allowance
    assert len(pruned) < len(full) / 10

    # the kernel's norm squares are the exact self-dots of iv
    def self_dots(pdf: pd.DataFrame, key: str) -> dict:
        return {i: int(np.dot(v, v)) for i, v in zip(pdf[key], pdf["iv"])}

    qn, cn = self_dots(q, "qid"), self_dots(c, "nid")
    for pairs in (full, pruned):
        assert (pairs["qns"] == pairs["qid"].map(qn)).all()
        assert (pairs["cns"] == pairs["nid"].map(cn)).all()

    # pruned must be a SUPERSET of the exact top-k by the final order
    def topk_set(pairs: pd.DataFrame) -> set:
        cos = pairs["dot"] / np.sqrt(
            pairs["qns"].astype(float) * pairs["cns"].astype(float)
        )
        dfx = pairs.assign(cos=np.round(cos, 4))
        dfx = dfx.sort_values(["qid", "cos", "nid"],
                              ascending=[True, False, True])
        return set(
            map(tuple, dfx.groupby("qid").head(k)[["qid", "nid"]].values)
        )

    assert topk_set(full) <= set(map(tuple, pruned[["qid", "nid"]].values))


def test_min_cos_prunes_and_keeps_threshold_survivors():
    b = _bucket(200, seed=3)
    c = b.rename(columns={"qid": "nid"})
    thr = 0.2
    full = similarity._gemm_pairs(b, c, upper_only=True)
    pruned = similarity._gemm_pairs(b, c, upper_only=True, min_cos=thr)
    assert len(pruned) < len(full)

    def survivors(pairs: pd.DataFrame) -> set:
        cos = np.round(
            pairs["dot"]
            / np.sqrt(pairs["qns"].astype(float) * pairs["cns"].astype(float)),
            4,
        )
        keep = pairs[cos >= thr]
        return set(map(tuple, keep[["qid", "nid"]].values))

    assert survivors(full) == survivors(pruned)


def test_spark_results_identical_with_and_without_pruning(spark):
    """End-to-end: ann_lsh_topk (kernel-pruned) equals the unpruned
    ranking of the full pair table."""
    df = _embeddings(spark, 300, 8, seed=11)
    queries = df.filter("vec_id < 30")
    got = similarity.ann_lsh_topk(queries, df, k=4, n_planes=4)

    sig = similarity._make_sig_udf(4)
    q = similarity._prep(queries, "qid").withColumn("lsh_sig", sig("iv"))
    c = similarity._prep(df, "nid").withColumn("lsh_sig", sig("iv"))
    unpruned = similarity._rank_topk(
        similarity._bucket_pair_dots(q, c, "lsh_sig"), 4
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, unpruned.collect()))
    assert a == b and len(a) > 0


def test_vectors_cross_arrow_once(spark):
    """Norms are computed inside the GEMM kernel, so no per-row UDF
    stage runs before it: the executed plans of cosine_topk and
    ivf_topk hold no ArrowEvalPython node, and ann_lsh_topk's
    evaluates the signature UDF alone."""
    emb = _embeddings(spark, 200, 8, seed=5)
    plans = {}
    for name, df in (
        ("cosine_topk",
         similarity.cosine_topk(emb.filter("vec_id < 5"), emb, k=3)),
        ("ivf_topk",
         similarity.ivf_topk(emb, emb, k=3,
                             centroids=emb.filter("vec_id < 4"))),
        ("ann_lsh_topk", similarity.ann_lsh_topk(emb, emb, k=3)),
    ):
        assert df.count() > 0
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plans["cosine_topk"]
    assert "ArrowEvalPython" not in plans["ivf_topk"]
    udf_lists = re.findall(r"ArrowEvalPython \[(.*?)\], \[",
                           plans["ann_lsh_topk"])
    assert udf_lists, plans["ann_lsh_topk"]
    for udfs in udf_lists:
        assert re.findall(r"(\w+)\(", udfs) == ["sig"], udfs


def test_zero_norm_vectors_survive_topk_pruning():
    """Non-finite cosines must not be silently dropped under topk —
    downstream decides, exactly as in the unpruned plan."""
    q = _bucket(4, seed=5)
    c = _bucket(10, seed=6).rename(columns={"qid": "nid"})
    ivs = list(c["iv"])
    ivs[0] = np.zeros(16, dtype=np.int64)
    c["iv"] = ivs
    pruned = similarity._gemm_pairs(q, c, topk=2)
    assert (pruned["cns"] == 0).sum() == 4  # kept for every query


def test_zero_norm_vectors_raise_loudly(spark):
    """Engine-wide zero-norm contract: a zero-norm vector reaching the
    Catalyst cosine division RAISES under ANSI — the kernels keep
    non-finite candidate rows precisely so the error SURFACES instead
    of pairs silently vanishing (round-3 ADVICE made pruning keep
    them; this pins what 'downstream decides' actually means)."""
    rows = [(i, [float(i + 1), 2.0, 1.0]) for i in range(8)]
    # TWO zero-norm vectors: they share the all-zero LSH signature, so
    # a NaN-cosine candidate PAIR actually forms inside one bucket
    rows += [(8, [0.0, 0.0, 0.0]), (9, [0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.cosine_topk(emb.filter(F.col("vec_id") < 2), emb, k=3).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.near_dup_pairs(emb, threshold=0.5).collect()


def test_finite_candidates_survive_with_many_zero_norm_candidates():
    """r4 ADVICE: with >= topk+1 zero-norm candidates in one bucket,
    np.partition's kth landed on NaN and `cos >= NaN` pruned EVERY
    finite candidate before the loud ANSI failure could surface. The
    kth is now computed over finite cosines only, so the margin
    superset of finite survivors holds regardless of NaN count."""
    k = 2
    q = _bucket(4, seed=11)
    c = _bucket(12, seed=12).rename(columns={"qid": "nid"})
    ivs = list(c["iv"])
    for i in range(k + 2):  # more zero-norm candidates than topk+1
        ivs[i] = np.zeros(16, dtype=np.int64)
    c["iv"] = ivs
    pruned = similarity._gemm_pairs(q, c, topk=k)
    finite = pruned[pruned["cns"] > 0]
    # every query keeps at least its k best finite candidates
    assert (finite.groupby("qid").size() >= k).all()
    # and the non-finite rows are still there for downstream to raise on
    assert (pruned["cns"] == 0).sum() == 4 * (k + 2)


def test_pca_component_exact_integer_replay(spark, sf_dir):
    """Third independent implementation: a numpy big-int replay of the
    fixed-point power iteration (half-away rounding, truncation
    division) must equal the Spark result BIT-FOR-BIT on the real
    corpus — the same triple-agreement pattern as k-means (Spark =
    DuckDB oracle = Python reference)."""
    import pyarrow.parquet as pq

    got = {
        r.dim_idx: r.weight
        for r in similarity.pca_power_component(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"), n_iter=2
        ).collect()
    }
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    X = np.array([np.asarray(x) for x in t["embedding"].to_pylist()],
                 dtype=np.float64)
    y = X * 1_000_000
    Xi = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)).astype(
        np.int64
    ).astype(object)

    def trunc(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    G = Xi.T @ Xi
    gs = np.vectorize(lambda g: trunc(int(g), 10**9))(G)
    w = gs @ np.full(64, 10**6, dtype=object)
    s = max(1, trunc(max(abs(int(x)) for x in w), 10**6))
    v = np.array([trunc(int(x), s) for x in w], dtype=object)
    w = gs @ v
    s = max(1, trunc(max(abs(int(x)) for x in w), 10**6))
    v = [trunc(int(x), s) for x in w]
    if -min(v) > max(v):
        v = [-x for x in v]
    assert got == {i: int(v[i]) for i in range(64)}


def test_pca_component_aligns_on_dominated_spectrum(spark):
    """On data whose gram HAS a dominant eigenvalue (signal direction
    + small deterministic noise), two power iterations must align with
    numpy's float eigenvector (|cos| >= 0.99). The shipped corpus is
    near-isotropic (top eigs within ~2%), where NO 2-iteration method
    aligns — there the bit-exact replay above and the oracle gate are
    the correctness signal, and the docstring says so."""
    rng = np.arange(500)
    u = np.sin(np.arange(64) + 1.0)
    u /= np.linalg.norm(u)
    noise = np.stack(
        [np.cos(0.1 * i + 1.7 * np.arange(64)) for i in rng]
    ) * 0.05
    X = (0.9 + 0.001 * (rng % 7))[:, None] * u[None, :] + noise
    X = np.clip(X, -0.999999, 0.999999)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in rng],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.dim_idx: r.weight
        for r in similarity.pca_power_component(df, n_iter=2).collect()
    }
    v = np.array([got[i] for i in range(64)], dtype=np.float64)
    Xd = np.array(
        [np.asarray(x, dtype=np.float32) for x in X], dtype=np.float64
    )
    G = Xd.T @ Xd
    _, vecs = np.linalg.eigh(G)
    top = vecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos >= 0.99, cos


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
