"""Connected components — duplicate-CLUSTER assembly.

Pair generators (LSH banding, embedding near-dup) emit EDGES; the
training-data decision ("keep one copy per duplicate group") needs the
transitive closure: connected components with the canonical label
min(doc_id in component).

Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
paper). Each operation is one groupBy + one equi-join shuffle over the
parent-pointer edge list; the alternation contracts every component to
a star rooted at its minimum id in O(log n) rounds (O(diameter) for
plain min-label propagation — a 1000-node chain needs ~1000 label
rounds but ~10 star rounds). Rounds are localCheckpoint-severed
(iterative lineage otherwise grows a plan per round) and the loop
exits on the first fixpoint (edge set unchanged); exhausting max_iter
without a fixpoint RAISES — a silent exit would mislabel clusters.

Deterministic end to end (min over int64 labels, no RNG), so a SQL
engine replays it with a recursive-CTE transitive closure — the
`dedup_clusters` oracle does exactly that.

The other graph operators here (pagerank, triangle counts, BFS, label
propagation) share two conventions with CC. Their input is an edge
SET: duplicate rows are dropped inside the operator (BFS reachability
does not depend on them), never by the caller. And one byte cap
(`_fits`) decides every broadcast and the local finishes: when the
edges fit, CC runs its remaining rounds in one kernel task and
pagerank runs all its iterations in numpy on the driver, each from a
single read of the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inputosm_spark import metrics

# serialized broadcast-hash-relation footprint per (long, long) edge
# row: 16 B of data + key/row overhead in the LongHashedRelation
_EDGE_ROW_BYTES = 32
# hard cap for the deliberate closing-probe broadcast: 64 MB (= 2M
# edges) fits comfortably in default executor/driver memory; the old
# 5M-ROW cap was ~160 MB serialized per executor — an OOM risk on
# default configs (r5 ADVICE: size the decision in bytes, not rows)
_CLOSING_BROADCAST_MAX_BYTES = 64 << 20


def _fits(spark: SparkSession, rows: int) -> bool:
    """The graph operators' one broadcast / local-finish gate: `rows`
    two-long rows fit the byte cap, and broadcasting is enabled at all
    (Spark's parsed spark.sql.autoBroadcastJoinThreshold > 0, so -1
    and 0 force every operator onto its distributed path)."""
    conf = spark._jsparkSession.sessionState().conf()
    thr = conf.autoBroadcastJoinThreshold()
    return thr > 0 and rows * _EDGE_ROW_BYTES <= _CLOSING_BROADCAST_MAX_BYTES


def _cc_round(edges: DataFrame) -> DataFrame:
    """One LARGE-STAR + SMALL-STAR alternation (Kiveris et al.), fused.

    Set-identical to composing the textbook operators, with three
    shuffles instead of six (measured 4.7 s -> 3.6 s for the 6-round
    sf0.1 dbscan closure; guide §2.4):

    * per-node minima come from UNORDERED windows over the node key —
      one exchange each — instead of a groupBy + equi-join pair (the
      window and the old join used the same partitioning, so the join
      side's extra exchange and the aggregate were pure overhead);
    * large-star's terminal `.distinct()` is dropped: it emits exactly
      ONE row per input edge (the v > u orientation of the symmetrized
      stream), and duplicate (child, parent) PAIRS cannot change
      small-star's per-node min nor survive its terminal distinct;
    * small-star skips canonicalization: large-star output is already
      u > v and self-loop-free (parent = closed-neighborhood min < u
      < v), and both of its emissions ((v, m) per row, (u, m) per
      node) fan out of one explode.

    Input may be any orientation (the caller's distinct edge set);
    output is the canonical (child > parent, distinct) star-step set.
    """
    wu = Window.partitionBy("u")
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # large-star: every strictly-larger neighbor v of u points at the
    # minimum m of u's CLOSED neighborhood (m <= u < v)
    ls = (
        sym.withColumn("__m", F.least(F.min("v").over(wu), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )
    # small-star over the high->low edges: reattach every child AND the
    # node itself to the per-node neighbor minimum
    ss = ls.withColumn("__m", F.min("v").over(wu))
    return (
        ss.select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("cu"), F.col("__m").alias("cv")),
                    F.struct(F.col("u").alias("cu"), F.col("__m").alias("cv")),
                )
            ).alias("p")
        )
        .select(F.col("p.cu").alias("u"), F.col("p.cv").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_local_star(edges: DataFrame) -> DataFrame:
    """Star-fixpoint edges (child u -> component-min root v, u != v)
    of a SMALL edge set, computed in ONE vectorized kernel task — the
    byte-cap-gated "finish small subproblems locally" move: the
    distributed star rounds contract geometrically, so their tail is
    a fixed-latency parade of 3-exchange rounds over a few thousand
    edges (measured 5 of 6 dbscan rounds at sf0.1 processing < 6k
    edges for ~0.3 s each). One grouped-map kernel replaces that tail
    with a single job; the edges cross Arrow once (<= the same bytes
    the engine's other capped broadcasts ship).

    Kernel = vectorized min-hooking + full pointer-jump compression
    (Shiloach-Vishkin shape): per sweep one scatter-min over the edge
    array and log-depth parent flattening — numpy array ops only, no
    per-edge Python. The component minimum never acquires a parent
    (hooks always point larger roots at smaller), so every tree
    flattens onto the component's min id: exactly the fixpoint the
    distributed rounds converge to, independent of row order.
    """
    import numpy as np
    import pandas as pd

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(pdf):
            return pd.DataFrame({"u": pd.Series([], dtype="int64"),
                                 "v": pd.Series([], dtype="int64")})
        uv = np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()])
        nodes, inv = np.unique(uv, return_inverse=True)
        m = len(pdf)
        ui, vi = inv[:m], inv[m:]
        p = np.arange(len(nodes))
        for _ in range(64):
            pu, pv = p[ui], p[vi]
            live = pu != pv
            if not live.any():
                break
            np.minimum.at(p, np.maximum(pu, pv), np.minimum(pu, pv))
            while True:
                pp = p[p]
                if np.array_equal(pp, p):
                    break
                p = pp
        else:  # 64 sweeps >> log2(cap edges): a hard bug, never load
            raise RuntimeError("cc local finish did not converge")
        child = p != np.arange(len(nodes))
        return pd.DataFrame(
            {"u": nodes[child], "v": nodes[p[child]]}
        )

    return (
        edges.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(_kernel, "u long, v long")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component): component = min node id reachable.

    `edges` is undirected input (each pair once is fine). Isolated
    vertices don't appear (join the result back to the vertex table
    with a coalesce-to-self for singleton semantics, as dedup_clusters
    does). Distributed star rounds run only while the edge set exceeds
    the engine's byte cap; once it fits (immediately, for bench-scale
    graphs; after the geometric contraction, at 100 TB) the remaining
    rounds collapse into one vectorized kernel task (_cc_local_star)
    with the identical fixpoint. Raises RuntimeError if max_iter
    rounds neither converge nor contract under the cap (log-scale
    rounds make that a hard bug, never load).
    """
    # ONE upstream materialization (the old form ran the caller's edge
    # pipeline twice — once for the node set, once for the edge set):
    # checkpoint the raw narrow (u, v) rows, then derive the canonical
    # edge set eagerly and the node set lazily from the materialized
    # RDD. The node set is consumed exactly once (the roots anti-join
    # at the end), so it needs no checkpoint of its own.
    raw = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    nodes = raw.select("u").unionAll(raw.select(F.col("v").alias("u"))).distinct()
    spark = edges.sparkSession
    # the LOCAL path gates on the RAW count and skips the input
    # `.distinct()` entirely — connectivity is multiplicity-invariant
    # and the kernel's scatter-min is idempotent, so duplicates cost
    # nothing while the distinct's exchange + checkpoint + count cost
    # two jobs (A/B: dbscan 1.49 -> 1.36, dedup_clusters 1.28 -> 1.18).
    # raw >= distinct rows, so the gate errs only toward the
    # distributed path (a performance choice, never correctness).
    n_raw = raw.count()
    if _fits(spark, n_raw):
        # labels + roots both consume the star set: checkpoint so the
        # kernel runs once, exactly as the loop's fixpoint frame was
        e = _cc_local_star(
            raw.filter(F.col("u") != F.col("v"))
        ).localCheckpoint(eager=True)
    else:
        # distributed rounds need the distinct (set-based fixpoint
        # check + lean rounds)
        e = (
            raw.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = False
        n_prev = e.count()
        for _ in range(max_iter):
            if _fits(spark, n_prev):
                break  # the local kernel finishes from here
            new_e = _cc_round(e).localCheckpoint(eager=True)
            n_new = new_e.count()
            # both sides are distinct sets, so equal counts + empty
            # exceptAll == set equality (the exact check only runs on
            # count-stable rounds)
            same = (
                n_new == n_prev
                and new_e.exceptAll(e).limit(1).count() == 0
            )
            e, n_prev = new_e, n_new
            if same:
                converged = True
                break
        if not converged:
            if not _fits(spark, n_prev):
                raise RuntimeError(
                    f"connected_components did not converge in "
                    f"{max_iter} rounds"
                )
            e = _cc_local_star(e).localCheckpoint(eager=True)
    # fixpoint edges are (child, root) stars; roots appear only as v
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        nodes.select(F.col("u").alias("node"))
        .join(e.select(F.col("u").alias("node")), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return labels.unionAll(roots)


_PR_RANK_MSG = (
    "pagerank: rank exceeds 2^53 — the double floor-division is no "
    "longer exact vs the integer oracle; lower `scale`"
)
_PR_MASS_MSG = (
    "pagerank: damping_num * contribution mass exceeds 2^53 — the double "
    "floor-division is no longer exact vs the integer oracle; lower `scale`"
)


def _pagerank_local(pairs, iters, damping_num, damping_den, scale):
    """All `iters` iterations over a driver-side (m, 2) int64 array of
    DISTINCT edges in numpy: the operator's integer contract, guards
    and messages, with no Spark job. Returns (nodes, ranks).

    The in-contributions are summed by a float64 bincount, which is
    exact here and cannot wrap: every contribution is a non-negative
    integer < 2^53 (the rank guard), so each running sum is exact
    while it stays <= s_bound < 2^53, and rounding never takes a sum
    that passed s_bound back under it. The mass guard therefore fires
    exactly when the integer sum passes s_bound, and below it the
    cast back to int64 is the integer sum. (An int64 np.add.at would
    wrap silently past 2^63, where Spark's ANSI sum raises.)"""
    import numpy as np

    nodes, inv = np.unique(pairs.ravel(), return_inverse=True)
    si, di = inv[0::2], inv[1::2]
    n = len(nodes)
    deg = np.bincount(si, minlength=n)[si]
    base = scale * (damping_den - damping_num) // damping_den
    s_bound = ((1 << 53) - 1) // damping_num
    rank = np.full(n, scale, dtype=np.int64)
    for _ in range(iters):
        r = rank[si]
        if len(r) and r.max() >= 1 << 53:
            raise RuntimeError(_PR_RANK_MSG)
        s = np.bincount(di, weights=r // deg, minlength=n)
        if n and s.max() > s_bound:
            raise RuntimeError(_PR_MASS_MSG)
        rank = base + damping_num * s.astype(np.int64) // damping_den
    return nodes, rank


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-point integer PageRank over a directed edge SET (src, dst)
    — the link-graph document-quality prior of web-corpus curation (the
    reference has no graph operators; this extends the dedup CC stack
    with the other classic iterative graph computation). Duplicate
    (src, dst) rows are dropped inside the operator, as CC, triangle
    counts and LPA do, so a repeated link counts once in the out-degree
    and the contributions.

    ALL arithmetic is integer (ranks scaled by `scale`, floor
    division), so a DuckDB oracle replays every iteration bit-for-bit
    (the engine's exact-integer float rule, CLAUDE.md): contribution of
    node u = rank(u) // outdeg(u); rank'(v) = base + damping_num *
    (sum of in-contributions) // damping_den, with base =
    scale * (damping_den - damping_num) // damping_den. Dangling nodes
    (no out-edges) simply contribute nothing — no redistribution term,
    and the SQL twin states the same contract.

    Local finish: when the edge rows fit the graph byte cap (`_fits`),
    the input is read ONCE with a bounded collect (cap + 1 rows, so an
    oversized input costs one capped read, never a count job) and all
    iterations run in numpy on the driver (`_pagerank_local`: np.unique
    dedup, bincount out-degree, an exact bincount scatter of the
    contributions). The result returns as an Arrow local relation: one
    Spark job per call, no cache, no shuffle (the distributed path ran
    9 jobs and 257 tasks at local[4] for the 2,100-node, 52k-edge
    catalog graph: per-job fixed cost, not work).

    Scale shape past the cap: the deduplicated (edges JOIN outdeg)
    frame is loop-invariant — built once and CACHED (an
    InMemoryRelation preserves its child's outputPartitioning; a
    checkpointed LogicalRDD reports UnknownPartitioning and re-paid the
    exchanges every iteration — the LPA lesson, r7); the dedup runs in
    place on the cache's repartition. When the rank table fits the
    byte cap it is broadcast per iteration and the cache is partitioned
    on the AGGREGATION key dst, so each iteration runs with ZERO
    exchanges (map-side join -> in-place dst aggregation -> broadcast
    the aggregate onto the cached node table). Past the cap the cache
    partitions on the join key src and iterations shuffle only the
    narrow rank table — the 100 TB plan. The per-iteration frames are
    plain lazy plans (iters is small and bounded; for deep iteration
    counts sever lineage per round like connected_components does).

    One `key=value` line goes through metrics.log:
    `pagerank strategy=local edges=N` (distinct edges) or
    `pagerank strategy=broadcast|shuffle nodes=M`.

    Exactness bound (r5 ADVICE): both floor divisions run as doubles on
    the distributed path, exact (== the oracle's integer //) only while
    the dividend stays < 2^53 — rank for rank/outdeg, damping_num *
    sum(contributions) for the damping term. In-plan assert_true guards
    enforce both (the engine's loud-failure pattern, mirroring
    priority_sample): past the bound the job RAISES instead of silently
    diverging from the oracle. The contribution-mass guard compares
    sum(contrib) against a precomputed bound WITHOUT multiplying (the
    product itself could trip ANSI int64 overflow first and swallow the
    diagnostic), and each guard leads its addition so it evaluates
    before the division/product does. The local path checks the same
    two bounds (the ranks of source nodes, every node's mass) and
    raises the same messages, so both sides of the gate fail alike.
    For graphs whose total rank mass approaches 2^53 / damping_num,
    lower `scale`.
    """
    spark = edges.sparkSession
    if _fits(spark, 0):
        cap = _CLOSING_BROADCAST_MAX_BYTES // _EDGE_ROW_BYTES
        pdf = edges.select("src", "dst").limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            import numpy as np
            import pandas as pd

            pairs = np.unique(pdf.to_numpy(dtype="int64"), axis=0)
            metrics.log("info", f"pagerank strategy=local edges={len(pairs)}")
            nodes, rank = _pagerank_local(
                pairs, iters, damping_num, damping_den, scale
            )
            return spark.createDataFrame(
                pd.DataFrame({"node": nodes, "rank": rank}),
                "node long, rank long",
            )
    base = scale * (damping_den - damping_num) // damping_den
    # nodes feeds iters+1 plan branches (initial ranks + every
    # iteration's left join): cache it, or each branch re-scans and
    # re-distincts the edge list
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    # the node count is loop-invariant (every node keeps exactly one
    # rank row): one exact count drives the per-iteration broadcast
    # gate and the cache partitioning key (the LPA sizing pattern)
    n_nodes = nodes.count()
    rank_fits = _fits(spark, n_nodes)
    metrics.log("info", f"pagerank strategy="
                        f"{'broadcast' if rank_fits else 'shuffle'} nodes={n_nodes}")
    deg = edges.groupBy("src").agg(F.countDistinct("dst").alias("__deg"))
    # loop-invariant: edges carrying their source out-degree, cached
    # once so every iteration reuses the materialized columnar blocks
    # AND their partitioning — on the aggregation key dst when ranks
    # broadcast (zero-exchange iterations), on the join key src past
    # the cap (iterations shuffle only the narrow rank table). Either
    # key clusters (src, dst), so the dedup runs in place.
    ed = (
        edges.select("src", "dst")
        .join(deg, "src")
        .repartition(F.col("dst" if rank_fits else "src"))
        .dropDuplicates(["src", "dst"])
        .cache()
    )
    _b = F.broadcast if rank_fits else (lambda df: df)
    rank_guard = F.assert_true(F.col("rank") < F.lit(1 << 53), F.lit(_PR_RANK_MSG))
    s_bound = ((1 << 53) - 1) // damping_num
    s_guard = F.assert_true(
        F.coalesce(F.col("__s"), F.lit(0)) <= F.lit(s_bound), F.lit(_PR_MASS_MSG)
    )
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iters):
        agg = (
            ed.join(_b(ranks.withColumnRenamed("node", "src")), "src")
            .select(
                "dst",
                (
                    # guard first: NULL (+0) on the happy path, raises
                    # before the division is evaluated otherwise
                    F.coalesce(rank_guard.cast("long"), F.lit(0))
                    + F.floor(F.col("rank") / F.col("__deg")).cast("long")
                ).alias("__c"),
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            nodes.join(_b(agg.withColumnRenamed("dst", "node")), "node", "left")
            .select(
                "node",
                (
                    F.coalesce(s_guard.cast("long"), F.lit(0))
                    + F.lit(base)
                    + F.floor(
                        F.lit(damping_num)
                        * F.coalesce(F.col("__s"), F.lit(0))
                        / F.lit(damping_den)
                    )
                )
                .cast("long")
                .alias("rank"),
            )
        )
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    CANONICAL ascending (u, v) pairs, u < v, duplicates allowed — the
    clustering / cohesion primitive (co-purchase cliques, link-farm
    detection). The dedup rides a u-partitioned cache IN PLACE, so the
    caller pays no separate corpus-wide distinct exchange (A/B
    best-of-4 3.29 -> 2.56 s at sf0.1 co-purchase, combined with the
    in-place adjacency aggregations below).

    Ordered-wedge algorithm: orient every edge along a TOTAL order π,
    then a wedge π(a)<π(b)<π(c) is e(a,b) ⋈ e(b,c) and the closing
    join probes e(a,c) — each triangle is found exactly ONCE (as its
    π-sorted orientation), two equi-joins, no cartesian anywhere.

    π is the DEGREE order (degree, id) (r5 verdict #5): orienting
    low-degree -> high-degree bounds every node's out-degree by
    O(sqrt(m)) (arboricity), so the wedge stream is O(m^1.5) even on
    hub-skewed graphs — plain id order leaves a low-id hub with
    out-degree ~n and a quadratic wedge blow-up at 100×. The
    orientation is one degree aggregation + two equi-joins against the
    narrow (node, degree) table BEFORE the wedge join; corner ids are
    untouched, so the triangle set (and every oracle hash) is the one
    any total order finds.
    """
    # the edge list feeds the degree aggregation and the two
    # orientation joins; materialize it once or every branch
    # re-derives it from source (measured 18.4s -> 7.5s at sf0.1
    # co-purchase)
    edges = (
        edges.select("u", "v")
        .repartition(F.col("u"))
        .dropDuplicates(["u", "v"])
        .cache()
    )
    spark = edges.sparkSession
    # one count, reused for the closing decision below (orientation
    # preserves row count)
    n_edges = edges.count()
    # ONE explode pass for both endpoints (explode-vs-unionAll rule);
    # undirected degree since input edges are canonical. Materialized
    # once: both orientation probes (du, dv) read the same RDD instead
    # of re-aggregating, and its row count is the EXACT node count for
    # the broadcast decision — the old bound (2 * n_edges)
    # overestimated nodes by orders of magnitude on dense graphs and
    # pushed the sf0.1 co-purchase orientation (20k nodes, 1.2M edges)
    # past the byte cap into a sort-merge shuffle of the edge list
    # (and, post-AQE-coalescing, a 1-partition oriented RDD that
    # serialized everything downstream: 5.3 s vs 1.5 s for the
    # intersect stage).
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("__du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("__dv"))
    # broadcast BOTH orientation joins when the (node, degree) table
    # fits the byte cap, so the oriented list is produced map-side over
    # the cached edges. Past the cap the joins shuffle: the correct
    # 100 TB path.
    if _fits(spark, deg.count()):
        du, dv = F.broadcast(du), F.broadcast(dv)
    lower_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    edges = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("u"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        )
        # re-materialize: the oriented list feeds the wedge/probe
        # branches below. A u-partitioned CACHE (not a checkpoint,
        # which loses partitioning) lets BOTH adjacency collect_list
        # aggregations run in place — two exchanges gone for the price
        # of this one (r7 second pass)
        .repartition(F.col("u"))
        .cache()
    )
    # Two physical strategies, chosen by the same byte-capped gate:
    #
    # * broadcastable edge list -> ADJACENCY-INTERSECT: build each
    #   node's out-neighborhood array once (total payload = n_edges
    #   longs, the same bytes the old closing-probe broadcast shipped),
    #   broadcast it onto both endpoints of every edge, and emit the
    #   closing corners as array_intersect(N+(u), N+(v)) — the triangle
    #   (a,b,c), a<b<c in π, is found exactly once at its (a,b) edge.
    #   This never materializes the wedge stream: the old plan shuffled
    #   e1 ⋈ e2 into sum-of-in*out-degree wedge rows before the probe
    #   (49.2M rows / 5.5 s at the sf0.1 co-purchase graph vs 1.5 s for
    #   the intersect form, identical output; guide §2.4 "remove
    #   shuffles outright"). Intersect cost is O(|N+(u)|+|N+(v)|) per
    #   edge — the same asymptotic work as the wedge join, minus the
    #   exchange.
    # * past the cap -> the shuffled wedge join (the 100 TB path —
    #   wedges partition by the closing key, AQE handles skew).
    if _fits(spark, n_edges):
        adj = edges.groupBy("u").agg(F.collect_list("v").alias("__nb"))
        # the aliased plans do NOT dedupe into a ReusedExchange (alias-
        # scoped expr ids defeat canonicalized reuse) — measured r7:
        # both adjacency aggregations run, in parallel within one
        # stage, and that is still FASTER than caching the array-heavy
        # adjacency rows once (interleaved A/B 2.98 vs 3.08 s: the
        # cache's extra materialization costs more than the duplicate
        # agg saves). Both builds stay byte-capped by the n_edges gate.
        au, av = adj.alias("au"), adj.alias("av")
        tri = (
            edges.alias("e")
            .join(F.broadcast(au), F.col("au.u") == F.col("e.u"))
            .join(F.broadcast(av), F.col("av.u") == F.col("e.v"))
            .select(
                F.col("e.u").alias("a"),
                F.col("e.v").alias("b"),
                F.explode(
                    F.array_intersect(F.col("au.__nb"), F.col("av.__nb"))
                ).alias("c"),
            )
        )
    else:
        e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
        e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
        tri = (
            e1.join(e2, F.col("b") == F.col("b2"))
            .join(
                e3,
                (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")),
            )
            .select("a", "b", "c")
        )
    # ONE pass over the triangle stream: exploding the corner array
    # fans each triangle to its 3 nodes map-side — a unionAll of three
    # selects would re-run BOTH joins per branch (measured 22.4s vs
    # 8.3s at sf0.1; Spark has no cross-branch subplan sharing)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Multi-source bounded BFS over a DIRECTED edge list (src, dst):
    (node, hops) = minimum edge count from any source, hops <=
    max_hops — reachability cohorts, influence radii, contamination
    blast-radius audits. Callers wanting undirected semantics
    symmetrize the edge list first.

    Scale shape: the loop-invariant edge list is repartitioned on src
    and checkpoint-severed ONCE; each hop is then a single equi-join
    of the (narrow) frontier against it, an anti-join against the
    visited set, and a distinct — the frontier shuffles, the edge
    list never re-shuffles. Rounds are localCheckpoint-severed
    (iterative lineage) with an early exit on an empty frontier (one
    cheap cached-RDD count per hop, bounded by max_hops). Entirely
    deterministic integers, so a recursive-CTE oracle replays every
    (node, hops) row.
    """
    ed = (
        edges.select("src", "dst")
        .repartition(F.col("src"))
        .localCheckpoint(eager=False)
    )
    visited = (
        sources.select(F.col("node"), F.lit(0).cast("int").alias("hops"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.select(F.col("node").alias("src"))
            .join(ed, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("hops"))
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        # visited is a union of already-checkpointed per-hop frontiers:
        # its lineage is one Union over materialized RDDs, so
        # re-checkpointing it every hop (the old form) only re-copied
        # the whole visited set per round — O(hops^2) materialized
        # bytes for zero recompute saved
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation over an
    undirected graph given as a directed (s, d) edge MULTISET whose
    DISTINCT set is the symmetrized graph (both directions of every
    edge, duplicates allowed): `n_iter` fixed rounds, label(v) starts
    as v, and each round every node adopts the most frequent label
    among its neighbors with ties broken toward the SMALLEST label —
    fully deterministic (no RNG, no asynchronous order-dependence), so
    a SQL engine replays every round with an unrolled CTE (count →
    row_number argmax), the pagerank contract.

    Scale shape per round: one equi-join of the (node, label) frame
    against the symmetrized edge list (narrow labels side — broadcast
    when small, shuffle-hash at scale), one (dst, label) map-side-
    combined count, one per-dst ranking window (bounded: at most
    #distinct-neighbor-labels rows per node). The edge multiset is
    cached once, partitioned on the aggregation key d, and deduplicated
    IN PLACE on that cache (hashpartitioning(d) satisfies the (s, d)
    dedup's clustering), so callers that fan out both directions
    cheaply (the co-purchase basket explode) pay no separate
    corpus-wide distinct exchange (A/B best-of-4 3.32 -> 2.61 s at
    sf0.1) and broadcast rounds run exchange-free; iterations sever
    their label frame each round (iterative-lineage rule). Fixed
    iteration count, no driver-side convergence polling: at 100 TB the
    round count is the budget knob, and synchronous LPA's known
    oscillation modes are bounded by it.
    """
    # CACHE, not localCheckpoint: an InMemoryRelation PRESERVES its
    # child's outputPartitioning (a checkpointed LogicalRDD reports
    # UnknownPartitioning — measured: the checkpointed form re-paid
    # both per-round exchanges). Partitioned by the AGGREGATION side
    # `d`, every broadcast-join round then runs with ZERO exchanges:
    # BHJ preserves the streamed side's hashpartitioning(d), which
    # satisfies both the (d, label) count's clustered distribution and
    # the per-node ranking window — one in-place sort per round is all
    # that remains (guide §2.4; interleaved A/B best-of-4 4.76 ->
    # 3.74 s at sf0.1).
    sym = (
        edges.select("s", "d")
        .repartition(F.col("d"))
        .dropDuplicates(["s", "d"])
        .cache()
    )
    # the node set from the PARTITIONING side d (symmetric graph:
    # distinct d == distinct s) — the distinct runs in place on the
    # cache instead of paying an exchange on s
    labels = (
        sym.select(F.col("d").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    # Cached/checkpointed label frames carry no size statistics, so
    # without a hint every round sort-merge-joins — re-SORTING the
    # whole symmetrized edge list per round. The (node, label) table
    # is two longs per NODE and its row count is loop-INVARIANT (every
    # node keeps exactly one label), so the byte-cap decision is made
    # ONCE on the exact count (cheap: the distinct above already
    # materialized the sym cache). When it fits, each round is a
    # map-side hash join (the triangle_counts sizing pattern). Past
    # the cap — huge graphs — sym is re-partitioned on the JOIN side
    # `s` (one extra cache-to-cache pass, amortized across the rounds
    # it saves from re-shuffling) and the sort-merge rounds are the
    # correct 100 TB plan, unchanged from round start.
    label_fits = _fits(sym.sparkSession, labels.count())
    if not label_fits:
        # materialize the s-partitioned copy BEFORE releasing the
        # d-partitioned one, or the first round rebuilds the whole
        # symmetrized edge set from source
        sym2 = sym.repartition(F.col("s")).cache()
        sym2.count()
        sym.unpersist(False)
        sym = sym2
    w = Window.partitionBy("node").orderBy(
        F.desc("c"), F.asc("label")
    )
    for _ in range(n_iter):
        lab = labels.select(F.col("node").alias("s"), "label")
        if label_fits:
            lab = F.broadcast(lab)
        labels = (
            sym.join(lab, "s")
            .groupBy(F.col("d").alias("node"), "label")
            .agg(F.count("*").alias("c"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    # the returned frame is the checkpointed final round — independent
    # of the sym cache, which would otherwise accumulate across
    # invocations (bench reps) until LRU eviction
    sym.unpersist(False)
    return labels
