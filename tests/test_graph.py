"""Graph operators — connected components, pagerank, triangle counts,
BFS, label propagation — against pure-Python references, on both
sides of the byte-cap broadcast gate."""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest

from inputosm_spark.operators import graph


def _ref_components(edges):
    comp: dict[int, int] = {}

    def find(n):
        while comp.setdefault(n, n) != n:
            n = comp[n]
        return n

    for a, b in edges:
        ra, rb = find(a), find(b)
        comp[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in comp}


def _ref_pagerank(edges, iters):
    """Fixed-point reference with the operator's integer contract."""
    nodes = sorted({n for e in edges for n in e})
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        agg = {n: 0 for n in nodes}
        for s, ds in out.items():
            c = rank[s] // len(ds)
            for d in ds:
                agg[d] += c
        rank = {n: 150_000 + (85 * agg[n]) // 100 for n in nodes}
    return rank


def _brute_triangles(edges):
    es = set(edges)
    want: dict[int, int] = {}
    nodes = sorted({n for e in edges for n in e})
    for a, b, c in combinations(nodes, 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    return want


def _ref_lpa(edges, n_iter):
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lab = {n: n for n in adj}
    for _ in range(n_iter):
        nxt = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            nxt[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = nxt
    return lab


def _sym(df):
    """Directed (s, d) multiset holding both directions of (u, v)."""
    return df.selectExpr("u as s", "v as d").unionAll(
        df.selectExpr("v as s", "u as d")
    )


# two K4 cliques joined by a bridge, a triangle island, a short chain
_GRAPH = (
    [(i, j) for i in range(4) for j in range(i + 1, 4)]
    + [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    + [(3, 10), (20, 21), (20, 22), (21, 22), (30, 31), (31, 32)]
)


@pytest.mark.parametrize("distributed", [False, True],
                         ids=["default_threshold", "threshold_-1"])
def test_gated_operators_match_references(spark, request, distributed):
    """Every byte-cap-gated operator returns the reference rows on both
    sides of the gate; duplicated input must not change the counts."""
    if distributed:
        request.getfixturevalue("no_broadcast")
    cc = spark.createDataFrame(_GRAPH, "src long, dst long")
    got = {r.node: r.component
           for r in graph.connected_components(cc).collect()}
    assert got == _ref_components(_GRAPH)
    for edges in (cc, cc.unionAll(cc)):
        got = {r.node: r.rank for r in graph.pagerank(edges, iters=3).collect()}
        assert got == _ref_pagerank(_GRAPH, 3)
    uv = spark.createDataFrame(_GRAPH, "u long, v long")
    got = {r.node: r.n_tri
           for r in graph.triangle_counts(uv.unionAll(uv)).collect()}
    assert got == _brute_triangles(_GRAPH)
    got = {r.node: r.label
           for r in graph.label_propagation(_sym(uv), n_iter=3).collect()}
    assert got == _ref_lpa(_GRAPH, 3)


def test_components_chain_and_islands(spark):
    # chain 1-2-3-4, island 10-11, singleton edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "src long, dst long"
    )
    got = {r.node: r.component
           for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_components_merge_through_hub(spark):
    # two stars merged by a bridge: min label must flow across
    edges = [(5, 6), (5, 7), (8, 9), (8, 100), (7, 8), (1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in graph.connected_components(df).collect()}
    assert set(got.values()) == {1}


def test_components_long_path_converges(spark):
    # a 15-hop path needs label to travel the full diameter
    edges = [(i, i + 1) for i in range(100, 115)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in graph.connected_components(df).collect()}
    assert set(got.values()) == {100} and len(got) == 16


def test_long_chain_converges_in_log_rounds(spark, no_broadcast):
    """A 1000-node chain has diameter 999 — min-label propagation would
    need ~999 rounds; the large-star/small-star alternation must finish
    in O(log n): max_iter=12 would RAISE if it didn't. The byte-cap
    local finish is DISABLED (threshold=-1) so this exercises the
    distributed rounds — the 100 TB path."""
    edges = [(i, i + 1) for i in range(1000)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in graph.connected_components(df, max_iter=12).collect()}
    assert set(got.values()) == {0} and len(got) == 1001


def test_local_finish_matches_distributed_rounds(spark, request):
    """The byte-cap-gated one-task kernel finish must produce the
    IDENTICAL label set as the distributed star rounds (gate disabled
    via threshold=-1) on a graph mixing chains, merges and islands."""
    edges = (
        [(i, i + 1) for i in range(0, 40)]          # long chain
        + [(100 + i, 100 + (i * 7) % 23) for i in range(23)]  # tangle
        + [(500, 501), (502, 501), (503, 502)]       # small tree
        + [(900, 901)]                               # island
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    local = sorted(
        (r.node, r.component)
        for r in graph.connected_components(df).collect()
    )
    request.getfixturevalue("no_broadcast")
    dist = sorted(
        (r.node, r.component)
        for r in graph.connected_components(df).collect()
    )
    assert local == dist and len(local) > 0


def test_nonconvergence_raises(spark, no_broadcast):
    """Exhausting max_iter without a fixpoint is an error, not a silent
    wrong answer. The byte-cap local finish is disabled: it would
    legitimately solve 64 edges in one kernel task without any rounds."""
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(df, max_iter=1)


def test_components_duplicate_edges_local_path(spark):
    """The local-finish path takes RAW (possibly duplicated) edges —
    connectivity must be unaffected by multiplicity or self-loops."""
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in graph.connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}


def test_pagerank_matches_python_reference(spark):
    rng = np.random.default_rng(42)
    edges = sorted({(int(a), int(b))
                    for a, b in rng.integers(0, 30, size=(120, 2))
                    if a != b})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in graph.pagerank(df, iters=3).collect()}
    assert got == _ref_pagerank(edges, 3)


def test_pagerank_dangling_nodes_keep_base_rank(spark):
    df = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    ranks = {r.node: r.rank for r in graph.pagerank(df, iters=2).collect()}
    # node 1 has no in-edges: after any iteration its rank is the base
    assert ranks[1] == 150_000
    # 2 and 3 split 1's rank evenly
    assert ranks[2] == ranks[3]


def _pagerank_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_pagerank_distributed_iterations_read_the_cache(
        spark, request, monkeypatch, engine_log, strategy):
    """Past the edge cap the iterations read the cached (edges x
    outdeg) frame (InMemoryTableScan) and aggregate over it, with the
    rank table broadcast while the node count fits the cap (edges 18 >
    cap 16 >= nodes 14 here) and shuffled when broadcasting is off."""
    if strategy == "broadcast":
        monkeypatch.setattr(graph, "_CLOSING_BROADCAST_MAX_BYTES",
                            16 * graph._EDGE_ROW_BYTES)
    else:
        request.getfixturevalue("no_broadcast")
    cc = spark.createDataFrame(_GRAPH, "src long, dst long")
    out = graph.pagerank(cc.unionAll(cc), iters=3)
    assert engine_log.fields("pagerank") == {
        "strategy": strategy, "nodes": "14"}
    plan = _pagerank_plan(out)
    assert "InMemoryTableScan" in plan and "HashAggregate" in plan
    assert ("BroadcastHashJoin" in plan) == (strategy == "broadcast")
    got = {r.node: r.rank for r in out.collect()}
    assert got == _ref_pagerank(_GRAPH, 3)


def test_pagerank_local_path_is_one_job(spark, engine_log):
    """Under the cap the call reads its input once, runs every
    iteration on the driver, logs the distinct edge count and leaves
    no cache behind; the result is a local relation."""
    cc = spark.createDataFrame(_GRAPH, "src long, dst long")
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    since = store.executionsCount()
    n_rdds = sc._jsc.getPersistentRDDs().size()
    out = graph.pagerank(cc.unionAll(cc), iters=3)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert store.executionsCount() - since == 1
    assert sc._jsc.getPersistentRDDs().size() == n_rdds
    assert engine_log.fields("pagerank") == {
        "strategy": "local", "edges": str(len(_GRAPH))}
    plan = _pagerank_plan(out)
    assert "LocalTableScan" in plan and "Exchange" not in plan
    assert {r.node: r.rank for r in out.collect()} == _ref_pagerank(_GRAPH, 3)


# (edges, scale, error) per bound: at scale 2^54 the first iteration
# divides a rank >= 2^53; n sources of out-degree 1 at scale 2^53 - 1
# pour n * (2^53 - 1) into node 0, past the mass bound at n = 64 and
# past int64 as well at n = 2,048, where Spark's ANSI sum raises first
_OVER_2_53 = {
    "rank": ([(1, 2), (2, 3)], 1 << 54, r"rank exceeds 2\^53"),
    "mass": ([(i, 0) for i in range(1, 65)], (1 << 53) - 1,
             r"mass exceeds 2\^53"),
    "mass_past_int64": ([(i, 0) for i in range(1, 2049)], (1 << 53) - 1,
                        r"mass exceeds 2\^53|ARITHMETIC_OVERFLOW"),
}


@pytest.mark.parametrize("distributed", [False, True],
                         ids=["default_threshold", "threshold_-1"])
@pytest.mark.parametrize("bound", sorted(_OVER_2_53))
def test_pagerank_past_2_53_raises(spark, request, distributed, bound):
    """Both sides of the gate refuse ranks or contribution masses that
    the double floor division of the distributed path (and the integer
    oracle) can no longer agree on; none of them wraps silently."""
    if distributed:
        request.getfixturevalue("no_broadcast")
    edges, scale, error = _OVER_2_53[bound]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(Exception, match=error):
        graph.pagerank(df, iters=1, scale=scale).collect()


def test_triangle_counts_matches_bruteforce(spark):
    rng = np.random.default_rng(5)
    edges = sorted({(int(min(a, b)), int(max(a, b)))
                    for a, b in rng.integers(0, 25, size=(90, 2))
                    if a != b})
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.n_tri for r in graph.triangle_counts(df).collect()}
    want = _brute_triangles(edges)
    assert got == want
    assert sum(want.values()) > 0


def test_triangle_multiset_matches_edges_path(spark):
    """Duplicated canonical pairs (deduplicated in place on the
    operator's partitioned cache) must give the brute-force counts of
    the distinct edge set."""
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    dup = df.unionAll(df).unionAll(df)  # x3 duplicates
    got = sorted(
        (r.node, r.n_tri) for r in graph.triangle_counts(dup).collect()
    )
    assert got == sorted(_brute_triangles(edges).items())
    assert len(got) == 4


def test_triangle_counts_hub_skew_matches_bruteforce(spark):
    """r5 verdict #5: a hub node of degree ~n. Under id-order
    orientation the hub (id 0) would own ~n^2 wedges; degree
    orientation points every star edge AT the hub (its out-degree
    drops to ~0) so wedge fan-out is bounded by the arboricity. The
    triangle set must match brute force."""
    n = 60
    edges = sorted(
        {(0, i) for i in range(1, n)}
        | {(1, 2), (3, 4), (5, 6), (10, 11), (11, 12), (20, 21)}
    )
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.n_tri for r in graph.triangle_counts(df).collect()}
    want = _brute_triangles(edges)
    assert got == want
    assert want[0] >= 6  # the hub really is in many triangles


def test_bfs_hops_matches_bruteforce(spark):
    """bfs_hops on a hand graph (directed, with an unreachable island
    and a node at hops > max_hops): every (node, hops) row must equal
    the brute-force min-hop closure truncated at max_hops."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),   # chain: 5 is 4 hops from 1
        (1, 6), (6, 3),                    # shortcut: 3 via 2 paths
        (7, 8),                            # island, unreachable
        (2, 1),                            # back edge (cycle)
    ]
    ed = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,), (10,)], "node long")  # 10: no out-edges
    got = {
        (r.node, r.hops)
        for r in graph.bfs_hops(ed, src, max_hops=3).collect()
    }
    # brute force
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {1: 0, 10: 0}
    frontier = [1, 10]
    for h in range(1, 4):
        nxt = []
        for n in frontier:
            for d in adj.get(n, []):
                if d not in dist:
                    dist[d] = h
                    nxt.append(d)
        frontier = nxt
    assert got == set(dist.items())
    assert (5, 3) not in got and 5 not in {n for n, _ in got}  # beyond max
    assert (7, 1) not in got  # island never reached


def test_label_propagation_matches_python_reference(spark):
    """Synchronous LPA vs a brute-force Python replay on a barbell
    graph (two K4 cliques joined by one bridge): labels after each
    fixed round must match exactly (deterministic min tie-break)."""
    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    edges = k4a + k4b + [(3, 10)]
    sym = _sym(spark.createDataFrame(edges, "u long, v long"))
    for it in (1, 3):
        got = {
            r.node: r.label
            for r in graph.label_propagation(sym, n_iter=it).collect()
        }
        assert got == _ref_lpa(edges, it), f"n_iter={it}"
    # after 3 rounds the two cliques are two communities
    final = _ref_lpa(edges, 3)
    assert len({final[n] for n in range(4)}) == 1
    assert len({final[n] for n in range(10, 14)}) == 1


def test_lpa_duplicate_edges_match_python_reference(spark):
    """Duplicates in the directed multiset (deduplicated in place on
    the operator's partitioned cache) must not skew any round's vote
    counts."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (2, 4)]
    sym = _sym(spark.createDataFrame(edges, "u long, v long"))
    sym = sym.unionAll(sym).unionAll(sym)  # x3 duplicates
    got = {
        r.node: r.label
        for r in graph.label_propagation(sym, n_iter=3).collect()
    }
    assert got == _ref_lpa(edges, 3) and len(got) == 8
