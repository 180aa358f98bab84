"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline; random-hyperplane
LSH bucketing and IVF centroid buckets as the scale paths (candidates
only within matching buckets).

Kernel design (round 2): embeddings are promoted ONCE to fixed-point
int64 (`round(x * 1e6)`, Catalyst-side so the rounding rule matches
the oracle engine's `round`), and dot products are EXACT integer sums
computed by Arrow-vectorized numpy kernels. Exact integer sums are
summation-order independent, so DuckDB replays them bit-for-bit with
`list_dot_product` over the same fixed-point lists (all products and
partial sums < 2^53, hence exact even through float64 BLAS matmul).

Data-movement rule learned from benchmarking: never ship BOTH vectors
per candidate PAIR through Arrow (pairs x 2 x d x 8 bytes explodes).
Instead each pairwise stage is a bucket-local GEMM: cogroup the two
sides on the bucket key (lsh_sig / centroid id), multiply the stacked
matrices once per bucket, and emit only narrow (qid, nid, dot, norms)
rows. Each vector crosses the Arrow boundary once per bucket it
belongs to, not once per pair, and only as its fixed-point array:
norm squares are computed inside the kernel (`_gemm_pairs`, the one
place pair dots, norms and partial top-k are written), not by a
separate per-row UDF stage.

Determinism split: Python emits ONLY exact int64 (dots, norm squares);
every float op (sqrt, divide, round) and every ranking decision stays
in Catalyst, where the semantics match the DuckDB oracle exactly.

Zero-norm contract (engine-wide): a zero-norm vector makes the cosine
division divide by zero, which Spark ANSI mode RAISES — in every
operator here, loudly, at materialization (the kernels keep non-finite
candidate rows precisely so the error surfaces instead of rows
silently vanishing; the fused k-means kernel raises the matching error
itself). Zero-norm vectors are a data error: filter them upstream.

Reference parity: the reference has no vector search; these operators
are the graft surface (SURVEY.md §2 "LLM-data-pipeline" rows). The
bucketing shapes are the 100 TB design: candidate work scales with
bucket collisions, never corpus².
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

FP_SCALE = 1_000_000  # fixed-point scale: |x|<=1, d<=512 keeps dots < 2^53

# every ranking and threshold reads the cosine rounded to this many
# decimals (the oracles' `round(..., 4)`)
_DECIMALS = 4
# one rounding-grid step (covers round-to-grid both ways) plus slack
# for the kernels' float64 cos approximation (~1e-16 relative,
# negligible vs the grid)
_PRUNE_MARGIN = 1.5 * 10.0 ** -_DECIMALS
_MAX_CENTROIDS = 65_536  # largest coarse quantizer a kernel closure holds

_PAIR_SCHEMA = "qid long, nid long, dot long, qns long, cns long"


def fp_vec(col) -> F.Column:
    """array<float> -> array<long> fixed point. The round happens in
    Catalyst (HALF_UP == DuckDB round: half away from zero) on the
    float32->double-exact value, so both engines see identical ints."""
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(
        col, lambda x: F.round(x.cast("double") * F.lit(float(FP_SCALE))).cast("long")
    )


def _make_sig_udf(n_planes: int):
    """Hyperplane-signature kernel: all planes in one matmul.

    Plane p's normal has ±1 component on dimension d with sign from the
    deterministic modular hash ((d*40503 + p*2654435761) % 97) % 2 —
    plain integer math on the fixed-point vector, so the signature is
    an exact integer computation any SQL engine replays."""

    @pandas_udf(LongType())
    def sig(iv: pd.Series) -> pd.Series:
        if len(iv) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(iv.to_numpy()).astype(np.float64)  # (n, d)
        d = V.shape[1]
        pp = np.arange(n_planes, dtype=np.int64)[:, None]
        dd = np.arange(d, dtype=np.int64)[None, :]
        W = np.where(((dd * 40503 + pp * 2654435761) % 97) % 2 == 0, 1.0, -1.0)
        proj = (V @ W.T).astype(np.int64)  # exact: int values < 2^53
        bits = (proj > 0).astype(np.int64)
        return pd.Series(bits @ (np.int64(1) << np.arange(n_planes, dtype=np.int64)))

    return sig


def _prep(df: DataFrame, id_out: str) -> DataFrame:
    """(id, iv): the fixed-point vector, the one form in which a vector
    crosses Arrow (its norm is computed in the kernel)."""
    return df.select(F.col("vec_id").alias(id_out), fp_vec("embedding").alias("iv"))


def _cos_from_pair() -> F.Column:
    """cos over the narrow pair row — float math entirely in Catalyst:
    sqrt/divide/round on exact-integer inputs, deterministic across
    engines."""
    return F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("qns").cast("double")) * F.sqrt(F.col("cns").cast("double"))),
        _DECIMALS,
    )


def _empty_pairs() -> pd.DataFrame:
    return pd.DataFrame(
        {k: pd.Series([], dtype="int64")
         for k in ("qid", "nid", "dot", "qns", "cns")}
    )


_GEMM_CHUNK_CELLS = 4_000_000  # max nq*nc materialized at once (~120 MB out)


def _gemm_pairs(qpdf: pd.DataFrame, cpdf: pd.DataFrame,
                upper_only: bool = False,
                topk: int | None = None,
                min_cos: float | None = None) -> pd.DataFrame:
    """(qid, nid, dot, qns, cns) for one (qid, iv) x (nid, iv) bucket
    via exact GEMM — the one place pair dots, norm squares and partial
    top-k are computed. Chunked on the query side so a degenerate giant
    bucket costs bounded memory per step instead of one nq x nc
    allocation.

    PARTIAL SELECTION (the scale lever): with `topk`, each query emits
    only candidates whose cosine is >= (its (k+1)-th best in this
    bucket) - margin; with `min_cos`, only candidates >= min_cos -
    margin. Both are provably SUPERSETS of what the downstream Catalyst
    ranking/filter keeps, so oracle hashes are unchanged: the final
    order is (round(cos, 4) DESC, nid ASC), round is monotone, and any
    candidate more than one grid step (10^-4) below the k-th best
    exact cosine rounds STRICTLY lower than the k-th best's rounded
    value — it can never displace the k rows above it. The margin
    (1.5 grid steps) covers the grid plus float64 error; k+1 covers the
    potential self-match row the final ranking drops (qid != nid).
    Non-finite cosines (zero-norm vectors) are always kept under
    `topk` — downstream decides their fate exactly as before. Arrow
    output drops from O(nq*nc) to O(nq*k) per bucket."""
    if len(qpdf) == 0 or len(cpdf) == 0:
        return _empty_pairs()
    C = np.stack(cpdf["iv"].to_numpy()).astype(np.float64)
    nc = len(cpdf)
    nid = cpdf["nid"].to_numpy()
    # norm squares: float64 self-dots of ints < 2^53 are exact -> int64
    cns = np.einsum("ij,ij->i", C, C).astype(np.int64)
    step = max(1, _GEMM_CHUNK_CELLS // max(nc, 1))
    chunks = []
    for lo in range(0, len(qpdf), step):
        qc = qpdf.iloc[lo : lo + step]
        Q = np.stack(qc["iv"].to_numpy()).astype(np.float64)
        D = (Q @ C.T).astype(np.int64)  # exact (ints < 2^53)
        nq = len(qc)
        qids = qc["qid"].to_numpy()
        qns = np.einsum("ij,ij->i", Q, Q).astype(np.int64)
        mask = None
        if upper_only:  # canonical a < b pairs for self-joins
            mask = qids[:, None] < nid[None, :]
        if topk is not None or min_cos is not None:
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = D / np.sqrt(
                    qns[:, None].astype(np.float64)
                    * cns[None, :].astype(np.float64)
                )
            sel = np.ones((nq, nc), dtype=bool)
            # non-finite cosines exist ONLY when a zero-norm vector is
            # in the chunk — check the 1-D norms (nq + nc elements)
            # once so the happy path never allocates an nq x nc
            # isfinite/where matrix (r5; the r4 form paid 3 of them)
            nonfinite = (
                None
                if (qns > 0).all() and (cns > 0).all()
                else ~np.isfinite(cos)
            )
            if min_cos is not None:
                # keep non-finite cosines (zero-norm vectors): Spark's
                # `cos >= t` treats NaN as greater-than-all and KEEPS
                # them, so dropping here would break the strict-superset
                # contract — downstream decides their fate, same as topk
                keep_mc = cos >= (min_cos - _PRUNE_MARGIN)
                if nonfinite is not None:
                    keep_mc |= nonfinite
                sel &= keep_mc
            if topk is not None and nc > topk + 1:
                # kth over FINITE cosines only (r4 ADVICE): a partition
                # sorts NaN last, so >= topk+1 zero-norm candidates in a
                # bucket would make kth NaN and `cos >= NaN` all-False,
                # silently pruning every finite candidate before the
                # ANSI DIVIDE_BY_ZERO contract fires downstream
                base = (
                    cos
                    if nonfinite is None
                    else np.where(nonfinite, -np.inf, cos)
                )
                kth = np.partition(base, nc - topk - 1, axis=1)[
                    :, nc - topk - 1
                ]
                keep_k = cos >= (kth - _PRUNE_MARGIN)[:, None]
                if nonfinite is not None:
                    keep_k |= nonfinite
                sel &= keep_k
            mask = sel if mask is None else (mask & sel)
        if mask is None:
            out = pd.DataFrame(
                {
                    "qid": np.repeat(qids, nc),
                    "nid": np.tile(nid, nq),
                    "dot": D.ravel(),
                    "qns": np.repeat(qns, nc),
                    "cns": np.tile(cns, nq),
                }
            )
        else:
            qi, ci = np.nonzero(mask)
            out = pd.DataFrame(
                {
                    "qid": qids[qi],
                    "nid": nid[ci],
                    "dot": D[qi, ci],
                    "qns": qns[qi],
                    "cns": cns[ci],
                }
            )
        chunks.append(out)
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks,
                                                        ignore_index=True)


def _bucket_pair_dots(q: DataFrame, c: DataFrame, key: str,
                      topk: int | None = None) -> DataFrame:
    """Cogroup the prepped sides on the bucket key and GEMM each
    bucket. Output is narrow (qid, nid, dot, qns, cns) — the scale
    contract: Arrow traffic is O(bucket members), not O(pairs x dim) —
    and with `topk` the kernel emits only the provable superset of the
    final ranking's survivors (see _gemm_pairs).

    At 100 TB a degenerate bucket could overflow one task's memory;
    production pairing caps bucket size upstream (see
    dedup.lsh_candidate_pairs max_bucket) — same knob applies here.
    """

    def fn(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        return _gemm_pairs(qpdf, cpdf, topk=topk)

    return (
        q.groupBy(key)
        .cogroup(c.groupBy(key))
        .applyInPandas(fn, _PAIR_SCHEMA)
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    scored = scored.filter(F.col("qid") != F.col("nid")).select(
        "qid", "nid", _cos_from_pair().alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("nid").alias("neighbor_id"), "cos", "rank")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact brute-force cosine top-k baseline over (vec_id, embedding)
    frames: the query matrix is by contract tiny, so it is collected
    once into the kernel closure (the mapInPandas equivalent of a
    broadcast) and the corpus streams through in Arrow batches — each
    corpus vector crosses the boundary exactly once, GEMM'd against all
    queries at once.

    Cosine is rounded to 4 decimals *before* ranking and ties broken by
    corpus id — a total order that is engine-neutral.
    """
    qrows = _prep(queries, "qid").limit(100_001).collect()
    if not qrows:
        raise ValueError("cosine_topk: empty query set")
    if len(qrows) > 100_000:
        raise ValueError(
            "cosine_topk is the small-query-set exactness baseline "
            "(queries are collected into the kernel closure); use "
            "ann_lsh_topk or ivf_topk for large query sets"
        )
    qpdf = pd.DataFrame({
        "qid": np.array([r.qid for r in qrows], dtype=np.int64),
        "iv": list(np.array([r.iv for r in qrows], dtype=np.float64)),
    })

    def gen(it):
        for pdf in it:
            if len(pdf):
                # per-corpus-batch top-k per query is a superset of the
                # global top-k — pruning stays exact across batches
                yield _gemm_pairs(qpdf, pdf, topk=k)

    scored = _prep(corpus, "nid").mapInPandas(gen, _PAIR_SCHEMA)
    return _rank_topk(scored, k)


def hyperplane_signature(df: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vec_id, lsh_sig): random-hyperplane LSH signature (SimHash for
    embeddings) — one Arrow batch matmul for all planes (the per-plane
    column-expression tree this replaces bloated codegen
    O(n_planes x dims))."""
    sig = _make_sig_udf(n_planes)
    return df.select("vec_id", sig(fp_vec("embedding")).alias("lsh_sig"))


def _shared_buckets(vecs: DataFrame) -> DataFrame:
    """Drop size-1 LSH buckets before a self-pairing kernel: their only
    pair is the self-match that both self-searches drop anyway
    (qid != nid, vec_a < vec_b), and at wide signatures they dominate
    the bucket count — each costs a per-group pandas kernel call for
    zero output rows. The count window rides the same lsh_sig exchange
    the grouped kernel needs."""
    wb = Window.partitionBy("lsh_sig")
    return (
        vecs.withColumn("__bn", F.count("*").over(wb))
        .filter(F.col("__bn") >= 2)
        .drop("__bn")
    )


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate NN: exact cosine ranking restricted to the LSH
    bucket — a cogrouped bucket-GEMM on the 64-bit signature key. At
    100 TB this replaces the brute-force crossJoin with one shuffle of
    (signature, vector) rows; recall is tuned via n_planes (fewer
    planes -> bigger buckets).
    """
    sig = _make_sig_udf(n_planes)
    c = _prep(corpus, "nid").withColumn("lsh_sig", sig("iv"))
    if queries is corpus:
        # self-search: prep + signature kernel run ONCE over the cached
        # corpus; the query side is an all-columns-aliased projection
        # (fresh attribute ids — the self-cogroup rule, CLAUDE.md)
        # instead of a second fp_vec/sig Arrow pipeline
        c = _shared_buckets(c).cache()
        q = c.select(
            F.col("nid").alias("qid"),
            F.col("iv").alias("iv"),
            F.col("lsh_sig").alias("lsh_sig"),
        )
    else:
        q = _prep(queries, "qid").withColumn("lsh_sig", sig("iv"))
    return _rank_topk(_bucket_pair_dots(q, c, "lsh_sig", topk=k), k)


def near_dup_pairs(
    corpus: DataFrame,
    n_planes: int = 8,
    threshold: float = 0.15,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (vec_a < vec_b): candidate
    pairs from equal LSH hyperplane signatures, verified by exact
    cosine >= threshold. One self-cogroup on the 64-bit signature key;
    the a<b mask is applied inside the bucket kernel (integer logic —
    no rounding sensitivity), halving emitted rows.
    """
    sig = _make_sig_udf(n_planes)
    vecs = _shared_buckets(_prep(corpus, "qid").withColumn("lsh_sig", sig("iv")))

    # self-pairing is ONE grouped kernel, not a self-cogroup: a cogroup
    # of a frame with itself shares attribute ids across sides, which
    # Catalyst dedups/prunes incorrectly — and one pass is cheaper
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _gemm_pairs(pdf, pdf.rename(columns={"qid": "nid"}),
                           upper_only=True, min_cos=threshold)

    pairs = vecs.groupBy("lsh_sig").applyInPandas(fn, _PAIR_SCHEMA)
    return (
        pairs.select(
            F.col("qid").alias("vec_a"),
            F.col("nid").alias("vec_b"),
            _cos_from_pair().alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _centroid_rows(centroids: DataFrame) -> list:
    """The coarse quantizer's (cid, iv) rows, collected once."""
    return _prep(centroids, "cid").limit(_MAX_CENTROIDS + 1).collect()


def _nearest_centroids(prepped: DataFrame, crows: list, n: int) -> DataFrame:
    """(qid, cid): the n nearest centroids of each prepped (qid, iv)
    vector, ranked by (rounded cos DESC, cid ASC) in Catalyst, so
    tie-breaks match the oracle's window bit-for-bit. Centroids are by
    definition tiny, so `crows` ride the kernel closure (broadcast) and
    the vectors stream through `_gemm_pairs` in Arrow batches. Every
    batch sees ALL centroids, so the kernel's per-batch top-n superset
    is globally exact — O(n_vectors * n) rows instead of
    O(n_vectors * n_centroids)."""
    if not crows:
        raise ValueError("empty centroid set")
    if len(crows) > _MAX_CENTROIDS:
        raise ValueError("coarse quantizer too large to broadcast as a "
                         "kernel closure; shard the centroid table")
    cpdf = pd.DataFrame({
        "nid": np.array([r.cid for r in crows], dtype=np.int64),
        "iv": list(np.array([r.iv for r in crows], dtype=np.float64)),
    })

    def gen(it):
        for pdf in it:
            if len(pdf):
                yield _gemm_pairs(pdf, cpdf, topk=n)

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        prepped.mapInPandas(gen, _PAIR_SCHEMA)
        .select("qid", F.col("nid").alias("cid"), _cos_from_pair().alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("qid", "cid")
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cid): each vector's nearest centroid by cosine.
    Ties break on centroid id for determinism (rounded cos, same rule
    as the oracle's window)."""
    return _nearest_centroids(
        _prep(corpus, "qid"), _centroid_rows(centroids), 1
    ).select(F.col("qid").alias("vec_id"), "cid")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    centroids: DataFrame,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate NN: coarse-quantize the corpus into centroid
    buckets, probe each query's n_probe nearest buckets, rank exactly
    inside them via the bucket-GEMM. The 10^12-scale shape: the corpus
    is partitioned by cid (one shuffle at build time, amortized over
    all queries) and a query touches n_probe/n_centroids of it instead
    of everything.

    `centroids` is a (vec_id, embedding) frame: the first-N corpus
    vectors, say, or the k-means trainer's output (`kmeans_centroids`).
    """
    # the corpus crosses the Arrow boundary ONCE: the cached (nid, iv)
    # frame feeds the assignment kernel, the bucket join, and (when
    # queries IS the corpus, the self-search case) both query-side
    # consumers too (guide §4: pay the Python boundary once). The
    # centroid rows are likewise collected once for both quantizer
    # passes.
    v = _prep(corpus, "nid").cache()
    crows = _centroid_rows(centroids)

    # corpus buckets: nearest centroid per vector
    assign = _nearest_centroids(
        v.select(F.col("nid").alias("qid"), "iv"), crows, 1
    ).withColumnRenamed("qid", "nid")
    bucketed = v.join(assign, "nid")  # (nid, iv, cid)

    if queries is corpus:
        # self-search: derive the query side from the SAME cached prep,
        # alias-ing EVERY column — each Alias mints a fresh attribute
        # id, so the downstream cogroup never sees one attribute on
        # both sides (the self-cogroup pruning hazard, CLAUDE.md)
        qprep = v.select(F.col("nid").alias("qid"), F.col("iv").alias("iv"))
    else:
        qprep = _prep(queries, "qid").cache()
    # query-side probes: top n_probe centroid buckets per query
    q = qprep.join(_nearest_centroids(qprep, crows, n_probe), "qid")

    return _rank_topk(_bucket_pair_dots(q, bucketed, "cid", topk=k), k)


_PARTIAL_SCHEMA = "cid long, cnt long, sumvec array<long>"


def _assign_partials_kernel(crows: list):
    """Fused assignment + partial-mean kernel for one Lloyd iteration:
    per Arrow batch, pick each vector's centroid and accumulate exact
    int64 per-centroid vector sums IN the kernel — the corpus crosses
    Arrow once per iteration and NO vector is ever shuffled.

    Exactness without a third rounding implementation: the final
    assignment order is (round(cos, 4) DESC, cid ASC) in Catalyst.
    The kernel decides a row only when the decision cannot depend on
    the rounding function at all:

    * a non-finite cosine (zero-norm vector or centroid) RAISES, the
      same loud failure the Catalyst window path produces under ANSI
      (double division by zero in _cos_from_pair is an error, not a
      NaN) — zero-norm vectors are a data error; filter them upstream;
    * otherwise, if best - second_best > 1.5 * 10^-4, ANY monotone
      rounding to the 10^-4 grid puts the best strictly first
      (round(a) >= a - g/2 > b + g >= round(b) + g/2);
    * near-ties resolve on the integer grid: r = sign(y)*floor(|y|+.5)
      with y = cos * 10^4 equals Catalyst's HALF_UP decimal rounding
      whenever |y| is not within 1e-6 of a .5 boundary (the float
      error in y is ~4 ulp ~ 1e-11, five orders below the tolerance,
      and the shortest-repr decimal Catalyst rounds lies within half
      an ulp of the float) — then winner = first max of r (ascending
      cids break rounded ties exactly like the ORDER BY cid ASC);
    * ONLY rows where a winner-relevant candidate sits inside that
      1e-6 boundary band are UNDECIDED and escape to the exact
      Catalyst ranking (emitted as sentinel cid=-1 rows carrying
      vec_id + vector; expected count ~0 at probability ~1e-8/row).

    Cosines replicate the Catalyst expression tree bit-for-bit:
    dot / (sqrt(qns) * sqrt(cns)) on float64, dots and norms exact
    integers < 2^53.
    """
    C = np.array([r.iv for r in crows], dtype=np.float64)
    cids = np.array([r.cid for r in crows], dtype=np.int64)  # ascending
    cns = np.einsum("ij,ij->i", C, C)
    csq = np.sqrt(cns)

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Vi = np.stack(pdf["iv"].to_numpy()).astype(np.int64)
            V = Vi.astype(np.float64)
            D = V @ C.T  # exact int values
            qsq = np.sqrt(np.einsum("ij,ij->i", V, V))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = D / (qsq[:, None] * csq[None, :])
            n, k = cos.shape
            if not np.isfinite(cos).all():
                raise ValueError(
                    "kmeans assignment: non-finite cosine (zero-norm "
                    "vector or centroid) — same DIVIDE_BY_ZERO contract "
                    "as the ANSI Catalyst path; filter zero-norm "
                    "vectors upstream"
                )
            undecided = np.zeros(n, dtype=bool)
            win = np.argmax(cos, axis=1)  # first max -> lowest cid
            rows = np.arange(n)
            b1 = cos[rows, win]
            c2 = cos.copy()
            c2[rows, win] = -np.inf
            gap = b1 - c2.max(axis=1)
            close = gap <= _PRUNE_MARGIN
            if close.any():
                # grid-round the near-tie rows; winner-relevant
                # candidates within 1e-6 of a .5 boundary escape
                ci = np.flatnonzero(close)
                y = cos[ci] * (10.0 ** _DECIMALS)
                ay = np.abs(y)
                r = np.sign(y) * np.floor(ay + 0.5)
                risky = np.abs(ay - (np.floor(ay) + 0.5)) < 1e-6
                relevant = cos[ci] >= (b1[ci] - _PRUNE_MARGIN)[:, None]
                esc = (risky & relevant).any(axis=1)
                win[ci] = np.argmax(r, axis=1)
                undecided[ci] = esc
            dec = ~undecided
            out = {"cid": [], "cnt": [], "sumvec": []}
            if dec.any():
                wd = win[dec]
                sums = np.zeros((k, Vi.shape[1]), dtype=np.int64)
                np.add.at(sums, wd, Vi[dec])
                counts = np.bincount(wd, minlength=k)
                for j in np.flatnonzero(counts):
                    out["cid"].append(int(cids[j]))
                    out["cnt"].append(int(counts[j]))
                    out["sumvec"].append(sums[j].tolist())
            # sentinel rows: cid=-1, cnt carries vec_id, sumvec the iv
            for i in np.flatnonzero(undecided):
                out["cid"].append(-1)
                out["cnt"].append(int(pdf["vec_id"].iloc[i]))
                out["sumvec"].append(Vi[i].tolist())
            if out["cid"]:
                yield pd.DataFrame(
                    {
                        "cid": pd.Series(out["cid"], dtype="int64"),
                        "cnt": pd.Series(out["cnt"], dtype="int64"),
                        "sumvec": pd.Series(out["sumvec"], dtype="object"),
                    }
                )

    return gen


def kmeans_centroids(corpus: DataFrame, k: int = 8, iters: int = 3) -> DataFrame:
    """Distributed Lloyd k-means over the embedding column — the real
    "training" job behind ivf_topk's coarse quantizer.

    Deterministic end to end: init = the k lowest vec_ids, assignment
    ties break on centroid id, a fixed iteration count (no convergence
    RNG), and means computed as EXACT int64 sums of the fixed-point
    vectors divided by the count (one IEEE division per dimension —
    engine-replayable, unlike order-dependent float summation).

    Each iteration is ONE fused Arrow pass (`_assign_partials_kernel`:
    assignment + exact int64 partial sums in-kernel; corpus vectors
    never shuffle, never cross Arrow twice) + a tiny groupBy(cid)
    merge of <= n_partitions * k narrow partial rows. Rows whose
    assignment could depend on the rounding grid escape to the exact
    Catalyst ranking (usually zero rows), so results are bit-identical
    to the window formulation the oracle replays. Iterations are
    localCheckpoint-severed so the plan stays shallow. Clusters that
    capture zero vectors keep their previous centroid (k never
    silently shrinks).
    """
    cent = corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.transform(fp_vec("embedding"),
                    lambda x: x.cast("double") / F.lit(float(FP_SCALE))).alias("cvec"),
    ).localCheckpoint(eager=True)

    ivs = corpus.select("vec_id", fp_vec("embedding").alias("iv")).cache()

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        S = np.stack(pdf["sumvec"].to_numpy()).astype(np.int64).sum(axis=0)
        tot = int(pdf["cnt"].sum())
        m = S / (tot * float(FP_SCALE))
        return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])], "cvec": [m.tolist()]})

    for _ in range(iters):
        # fixed-point centroid vectors via Catalyst fp_vec (HALF_UP
        # round — the same ints every other path sees), sorted by cid
        crows = sorted(
            cent.select("cid", fp_vec(F.col("cvec")).alias("iv")).collect(),
            key=lambda r: r.cid,
        )
        partials = ivs.mapInPandas(
            _assign_partials_kernel(crows), _PARTIAL_SCHEMA
        ).cache()
        decided = partials.filter(F.col("cid") >= 0)
        # margin-undecided escape: exact Catalyst ranking for the few
        # rows near a rounded-grid tie. Usually ZERO rows — probe the
        # cached partials first so the escape subplan (with its own
        # centroid-collect job) is built only when actually needed
        und_ids = partials.filter(F.col("cid") < 0).select(
            F.col("cnt").alias("vec_id")
        )
        if und_ids.limit(1).count() > 0:
            und = corpus.join(F.broadcast(und_ids), "vec_id")
            und_assign = ivf_assign(
                und,
                cent.select(F.col("cid").alias("vec_id"),
                            F.col("cvec").alias("embedding")),
            )
            und_partials = (
                ivs.join(F.broadcast(und_assign), "vec_id")
                .select("cid", F.lit(1).cast("long").alias("cnt"),
                        F.col("iv").alias("sumvec"))
            )
            decided = decided.unionByName(und_partials)
        means = decided.groupBy("cid").applyInPandas(
            merge_fn, "cid long, cvec array<double>"
        )
        # empty clusters keep their previous centroid — k is invariant
        # BY CONSTRUCTION (left join from the k-row cent preserves every
        # row), so no count() barrier is spent asserting it; the eager
        # checkpoint materializes the iteration so the cached partials
        # can be released before the next pass
        cent = (
            cent.select("cid", F.col("cvec").alias("prev"))
            .join(means, "cid", "left")
            .select("cid", F.coalesce("cvec", "prev").alias("cvec"))
            .localCheckpoint(eager=True)
        )
        partials.unpersist()
    ivs.unpersist()
    return cent.select("cid", F.col("cvec").alias("embedding"))


# gram-entry magnitude cap: the power-iteration matvec multiplies a
# gram entry by a <= FP_SCALE vector weight and sums over d <= 64
# terms, so |gs| must stay below 2^63 / (64 * FP_SCALE) ~ 1.4e11 for
# the matvec to be exact int64 (gs ~ n_vectors * 1000 at unit-norm
# data: the guard trips around 1.4e8 vectors — past that, shard the
# corpus and ADD the per-shard grams, which is exact)
_PCA_GS_CAP = (1 << 62) // (64 * FP_SCALE)


def pca_power_component(emb: DataFrame, n_iter: int = 2) -> DataFrame:
    """Leading principal direction of the (uncentered) embedding
    corpus via EXACT fixed-point power iteration — the embedding-
    drift / dominant-axis audit, and the engine's demonstration that
    even an iterative linear-algebra op can be oracle-replayed
    bit-for-bit.

    Scale shape: the corpus is touched ONCE to build the d x d gram
    matrix — one Arrow pass whose kernel emits a d^2-row exact-int64
    partial gram (V^T V) per batch into a map-side-combined
    aggregation; the power iteration then runs in ONE kernel task over
    the contract-bounded d^2 rows (exact Python-int arithmetic — see
    the inline note). The corpus never shuffles (only d^2 partial rows
    per batch do). The r1-r6
    nested-posexplode fan-out (d^2 narrow rows per VECTOR through an
    interpreted transform) computed the identical sums 4x slower
    (1.63 s -> 0.38 s at sf0.1); in-kernel int64 accumulation is
    exact by range (|x| <= FP_SCALE so each product <= 1e12, and an
    Arrow batch is <= 65536 rows -> |partial| <= 6.6e16 << 2^63),
    and the Spark-side SUM keeps the same ANSI overflow contract the
    explode form had.

    Exactness contract: inputs fix to FP_SCALE ints (the similarity
    convention); the gram is truncation-divided by 1e9 (`div`, which
    both Spark and DuckDB's integer `//` implement as round-toward-
    zero); each matvec renormalizes by max|w| div FP_SCALE (same
    truncation); the sign is canonicalized toward the larger absolute
    extreme. Every step is int64 with an in-plan magnitude guard, so
    the unrolled-CTE oracle replays the full Lloyd-style loop — the
    k-means contract applied to PCA.

    Caveat (honest): with a FLAT spectrum (top eigenvalues within a
    few %, e.g. near-isotropic embeddings) two iterations cannot align
    with the true eigenvector — no 2-step method can. The result is
    still fully deterministic and oracle-replayable (that is what the
    gate checks); pass a larger n_iter when the data is known to be
    dominated and directional accuracy matters.
    """
    rows = emb.select(fp_vec("embedding").alias("__x"))

    def _gram_partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["__x"].to_numpy()).astype(np.int64)
            G = V.T @ V  # exact int64 (see docstring range argument)
            dd = G.shape[0]
            i, j = np.meshgrid(np.arange(dd), np.arange(dd), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": i.ravel().astype("int32"),
                    "j": j.ravel().astype("int32"),
                    "prod": G.ravel(),
                }
            )

    prods = rows.mapInPandas(_gram_partials, "i int, j int, prod long")
    guard = F.assert_true(
        F.abs(F.col("gs")) <= F.lit(_PCA_GS_CAP),
        F.lit("pca_power_component: gram entry exceeds the exact-int64 "
              "matvec bound — shard the corpus and add per-shard grams"),
    )
    g = (
        prods.groupBy("i", "j")
        .agg(F.sum("prod").alias("gsum"))
        .select("i", "j", F.expr("gsum div 1000000000").alias("gs"))
        .select("i", "j", (F.col("gs") + F.coalesce(guard.cast("long"),
                                                    F.lit(0))).alias("gs"))
    )

    # The power iteration itself runs over d^2 <= 4096 CONTRACT-BOUNDED
    # gram rows: as Catalyst plans it was a parade of tiny-data
    # aggregation/cross-join stages (each a scheduled exchange over a
    # few dozen rows — pure fixed latency, ~3/4 of the query's wall at
    # sf0.1). One grouped-map kernel task computes the identical chain
    # with arbitrary-precision Python ints, replicating the
    # truncation-division arithmetic step for step (div = round toward
    # zero); the d^2 loop is bounded by the d x d contract, not by
    # corpus size, and the in-plan |gs| guard still evaluates in the
    # projection feeding the kernel. Values the ANSI int64 SUM would
    # have errored on raise the same loud shard message here.
    iters = n_iter

    def _power_kernel(pdf):
        ii = pdf["i"].tolist()
        jj = pdf["j"].tolist()
        gg = pdf["gs"].tolist()
        dd = max(ii) + 1 if ii else 0
        G = [[0] * dd for _ in range(dd)]
        for a, b, val in zip(ii, jj, gg):  # d^2-bounded, not data-bound
            G[a][b] = int(val)

        def tdiv(a, b):  # truncation division (Spark/DuckDB `div`)
            return -((-a) // b) if a < 0 else a // b

        int64_max = (1 << 63) - 1

        def checked(vals):
            if any(abs(x) > int64_max for x in vals):
                raise RuntimeError(
                    "pca_power_component: matvec exceeds int64 — "
                    "shard the corpus and add per-shard grams"
                )
            return vals

        w = checked([sum(row) * FP_SCALE for row in G])
        for _ in range(iters - 1):
            s = max(1, max(abs(x) for x in w) // FP_SCALE) if w else 1
            v = [tdiv(x, s) for x in w]
            w = checked(
                [sum(G[i][j] * v[j] for j in range(dd)) for i in range(dd)]
            )
        s = max(1, max(abs(x) for x in w) // FP_SCALE) if w else 1
        v = [tdiv(x, s) for x in w]
        sg = -1 if (v and -min(v) > max(v)) else 1
        return pd.DataFrame(
            {"dim_idx": pd.Series(range(dd), dtype="int32"),
             "weight": pd.Series([x * sg for x in v], dtype="int64")}
        )

    return (
        g.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(_power_kernel, "dim_idx int, weight long")
    )
