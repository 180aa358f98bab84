"""Spatial join / tiling parity vs brute-force numpy oracles
(golden join-output parity per SURVEY.md §5: exact row-set match,
order-insensitive).
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from inputosm_spark import geo
from inputosm_spark.datagen import synth_polygons
from inputosm_spark.functions import cells
from inputosm_spark.operators import spatial

N_POINTS = 4000


@pytest.fixture(scope="module")
def points(spark):
    lat, lon = cells.point_exprs("id")
    return spark.range(N_POINTS).select("id", lat, lon).cache()


@pytest.fixture(scope="module")
def points_np():
    ids = np.arange(N_POINTS)
    lat, lon = geo.point_from_id(ids)
    return ids, lat, lon


def test_pip_join_exact_vs_bruteforce(spark, points, points_np):
    polys = synth_polygons(spark)
    got = {
        (r.id, r.poly_id)
        for r in spatial.pip_join(points, polys, res=6).select("id", "poly_id").collect()
    }
    ids, lat, lon = points_np
    want = set()
    for p in polys.collect():
        inside = geo.point_in_polygon(lat, lon, p.ring_lat_e4, p.ring_lon_e4)
        want |= {(int(i), p.poly_id) for i in ids[inside]}
    assert got == want
    assert len(want) > 100  # the metro box guarantees plenty of matches


def _edge_points(ring_lat, ring_lon):
    """(lat, lon) of every vertex, and of points along every edge that
    runs horizontal or vertical (the ray cast's boundary cases)."""
    la, lo = np.asarray(ring_lat), np.asarray(ring_lon)
    out = list(zip(la, lo))
    for i in range(len(la)):
        a, b = (la[i - 1], lo[i - 1]), (la[i], lo[i])
        if a[0] == b[0] or a[1] == b[1]:
            out += [(a[0] + (b[0] - a[0]) * t // 4, a[1] + (b[1] - a[1]) * t // 4)
                    for t in (1, 2, 3)]
    return out


def test_ray_cast_matches_numpy(spark):
    """The Catalyst ray cast equals geo.point_in_polygon row for row:
    seeded random points, points on vertices and on horizontal and
    vertical edges, against a concave, an open, a closed ring and both
    sub-rings of a seam-split ring. An empty ring gets no cover cell,
    so the ray cast never indexes an empty array."""
    concave = ([0, 0, 20_000, 20_000, 40_000, 40_000],
               [0, 40_000, 40_000, 20_000, 20_000, 0])
    closed = (concave[0] + [0], concave[1] + [0])
    tri = ([-30_000, 50_000, -10_000], [-20_000, 5_000, 70_000])
    seam = geo.split_antimeridian(np.array([-100_000, -100_000, 100_000, 100_000]),
                                  np.array([1_700_000, -1_700_000, -1_700_000, 1_700_000]))
    assert len(seam) == 2
    rings = [concave, closed, tri] + [(list(la), list(lo)) for la, lo in seam]
    rng = np.random.default_rng(14)
    rows = []
    for r, (la, lo) in enumerate(rings):
        la, lo = [int(v) for v in la], [int(v) for v in lo]
        pts = _edge_points(la, lo)
        pts += zip(rng.integers(min(la) - 5_000, max(la) + 5_000, 300),
                   rng.integers(max(min(lo) - 5_000, -1_800_000),
                                min(max(lo) + 5_000, 1_800_000), 300))
        rows += [(r, int(a), int(o), la, lo) for a, o in pts]
    df = spark.createDataFrame(
        rows, "r int, lat_e4 long, lon_e4 long, ring_lat_e4 array<long>, "
              "ring_lon_e4 array<long>")
    got = [x.inside for x in df.select(
        spatial._ray_cast("lat_e4", "lon_e4", "ring_lat_e4", "ring_lon_e4")
        .alias("inside")).collect()]
    want = [bool(geo.point_in_polygon([a], [o], la, lo)[0]) for _, a, o, la, lo in rows]
    assert got == want
    assert 0 < sum(want) < len(want)

    polys = spark.createDataFrame(
        [("empty", [], []), ("box", [0, 0, 10_000, 10_000], [0, 10_000, 10_000, 0])],
        "poly_id string, ring_lat_e4 array<long>, ring_lon_e4 array<long>")
    assert {r.poly_id for r in spatial.polygon_cells(polys, 6).collect()} == {"box"}


def test_pip_join_broadcast_vs_shuffle_same_result(spark, points, no_broadcast):
    """With broadcasting off, force_broadcast=False really shuffles
    while the hints of force_broadcast=True still broadcast."""
    polys = synth_polygons(spark)
    a = spatial.pip_join(points, polys, res=6, force_broadcast=True).select("id", "poly_id")
    b = spatial.pip_join(points, polys, res=6, force_broadcast=False).select("id", "poly_id")
    rows_a = {(r.id, r.poly_id) for r in a.collect()}
    rows_b = {(r.id, r.poly_id) for r in b.collect()}
    assert "BroadcastHashJoin" in a._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in b._jdf.queryExecution().executedPlan().toString()
    assert rows_a == rows_b


def _knn_oracle(qlat, qlon, ids, lat, lon, k):
    d2 = (lat - qlat) ** 2 + (lon - qlon) ** 2
    order = np.lexsort((ids, d2))[:k]
    return [(int(ids[i]), int(d2[i]), r + 1) for r, i in enumerate(order)]


def _assert_knn_exact(spark, qs, points, points_np, k):
    """knn_join of the (qid, lat_e4, lon_e4) rows `qs` equals the numpy
    brute force; returns the result frame."""
    ids, lat, lon = points_np
    queries = spark.createDataFrame(qs, "qid long, lat_e4 long, lon_e4 long")
    out = spatial.knn_join(queries, points, k=k)
    by_q: dict[int, list] = {}
    for r in out.collect():
        by_q.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qid, qlat, qlon in qs:
        want = _knn_oracle(qlat, qlon, ids, lat, lon, k)
        assert sorted(by_q[qid], key=lambda t: t[2]) == want, f"qid {qid}"
    return out


def test_knn_join_exact_vs_bruteforce(spark, points, points_np):
    qlat, qlon = geo.point_from_id(np.arange(900_000, 900_040))
    qs = [(i, int(a), int(o)) for i, (a, o) in enumerate(zip(qlat, qlon))]
    # a query in the top (pole) cell row, and two on either side of the
    # antimeridian (lon +-179.99 deg), where the ring wraps around
    qs += [(40, 899_990, 123_456), (41, -5_000, 1_799_900),
           (42, 7_000, -1_799_900)]
    _assert_knn_exact(spark, qs, points, points_np, k=5)


def test_knn_escalation_sparse_region(spark):
    """Four far-apart points and k = 4: no ring of the fixed schedule
    (1, 2, 4, 8 cells at res 6) proves a query's 4th neighbor, so every
    query escalates through all rounds into the brute-force pass, which
    still returns exactly the k nearest."""
    pts_np = (np.arange(4), np.array([0, 450_000, -450_000, 600_000]),
              np.array([0, 900_000, -900_000, -1_500_000]))
    points = spark.createDataFrame(
        [(int(i), int(a), int(o)) for i, a, o in zip(*pts_np)],
        "id long, lat_e4 long, lon_e4 long",
    )
    qs = [(0, 10_000, 10_000), (1, -890_000, 1_790_000)]
    out = _assert_knn_exact(spark, qs, points, pts_np, k=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join Cross" in plan  # the brute-force pass ran


def _plan_graphs(spark, since: int) -> list[tuple[dict, list]]:
    """(node id -> name, (child, parent) edges) of the final plan of
    every SQL execution the status store recorded after its first
    `since` ones."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = spark._jsparkSession.sharedState().statusStore()
    as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    out = []
    for e in as_java(store.executionsList(since, store.executionsCount() - since)):
        g = store.planGraph(e.executionId())
        out.append(({n.id(): n.name() for n in as_java(g.allNodes())},
                    [(ed.fromId(), ed.toId()) for ed in as_java(g.edges())]))
    return out


def test_knn_join_broadcasts_query_side(spark, points, tmp_path):
    """The candidate join replicates the exploded k-ring query frame,
    never the point side: a createDataFrame query frame reports no
    size, so a planner left alone broadcasts the (small) parquet point
    scan instead."""
    points.write.parquet(str(tmp_path / "pts"))
    pts = spark.read.parquet(str(tmp_path / "pts"))
    qlat, qlon = geo.point_from_id(np.arange(900_000, 900_040))
    queries = spark.createDataFrame(
        [(int(i), int(a), int(o)) for i, (a, o) in enumerate(zip(qlat, qlon))],
        "qid long, lat_e4 long, lon_e4 long",
    )
    store = spark._jsparkSession.sharedState().statusStore()
    since = store.executionsCount()
    assert spatial.knn_join(queries, pts, k=5).count() == 40 * 5
    graphs = _plan_graphs(spark, since)
    n_broadcasts = n_scans = 0
    for nodes, edges in graphs:
        parents: dict[int, list[int]] = {}
        for child, parent in edges:
            parents.setdefault(child, []).append(parent)
        n_broadcasts += sum(name == "BroadcastExchange" for name in nodes.values())
        for nid, name in nodes.items():
            if not name.startswith("Scan parquet"):
                continue
            n_scans += 1
            above, todo = set(), [nid]
            while todo:
                for p in parents.get(todo.pop(), []):
                    if p not in above:
                        above.add(p)
                        todo.append(p)
            assert "BroadcastExchange" not in {nodes[p] for p in above}
    assert n_scans and n_broadcasts  # the query side was broadcast


def test_knn_join_empty_queries(spark, points):
    queries = spark.createDataFrame([], "qid long, lat_e4 long, lon_e4 long")
    out = spatial.knn_join(queries, points, k=3)
    assert out.schema.simpleString() == (
        "struct<qid:bigint,neighbor_id:bigint,dist2:bigint,rank:int>")
    assert out.count() == 0


def test_knn_join_one_round_is_one_job(spark, engine_log):
    """On clustered points every query is proven at ring 1, and the
    call starts exactly two SQL executions, the one read of the query
    frame and the round, and logs what it did."""
    points = spark.range(900).select(
        "id", (F.col("id") % 30 * 10).alias("lat_e4"),
        (F.floor(F.col("id") / 30) * 10).alias("lon_e4"))
    ids = np.arange(900)
    pts_np = (ids, ids % 30 * 10, ids // 30 * 10)
    qs = [(0, 55, 52), (1, 151, 120)]
    queries = spark.createDataFrame(qs, "qid long, lat_e4 long, lon_e4 long")
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    since = store.executionsCount()
    out = spatial.knn_join(queries, points, k=5)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert store.executionsCount() - since == 2
    assert engine_log.fields("knn_join") == {
        "res": "6", "rings": "1", "remaining": "2,0", "brute": "0"}
    got = {}
    for r in out.collect():
        got.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qid, qlat, qlon in qs:
        assert sorted(got[qid], key=lambda t: t[2]) == _knn_oracle(qlat, qlon, *pts_np, 5)


def test_pip_join_logs_strategy(spark, points, engine_log):
    polys = synth_polygons(spark)
    spatial.pip_join(points, polys, res=6)
    assert engine_log.fields("pip_join") == {
        "strategy": "broadcast",
        "cells": str(spatial.polygon_cells(polys, 6).count())}
    engine_log.clear()
    spatial.pip_join(points, polys, res=6, force_broadcast=False)
    assert engine_log.fields("pip_join") == {"strategy": "shuffle", "cells": "uncounted"}


def test_tile_counts_vs_bruteforce(spark, points, points_np):
    ids, lat, lon = points_np
    tile_res, pixel_res = 4, 7
    flat = spatial.tile_counts(points, tile_res, pixel_res).collect()
    got = {(r.tile, r.px, r.py): r.cnt for r in flat}
    # oracle
    pc = geo.cell_id(lat, lon, pixel_res)
    _, py_all, px_all = geo.unpack_cell(pc)
    d = pixel_res - tile_res
    tiles = geo.pack_cell(
        np.full(len(ids), tile_res, np.int64), py_all >> d, px_all >> d
    )
    want: dict = {}
    side = 1 << d
    for t, x, y in zip(tiles, px_all % side, py_all % side):
        key = (int(t), int(x), int(y))
        want[key] = want.get(key, 0) + 1
    assert got == want
    # every point is assigned to exactly one tile+pixel
    assert sum(got.values()) == N_POINTS


def test_raster_vector_roundtrip(spark, points):
    tile_res, pixel_res = 4, 7
    flat = spatial.tile_counts(points, tile_res, pixel_res)
    raster = spatial.rasterize(points, tile_res, pixel_res)
    back = spatial.vectorize(raster, tile_res, pixel_res)
    # vectorize(rasterize(x)) == tile_counts(x) re-keyed by pixel cell
    want = {
        (int(geo.pack_cell(
            pixel_res,
            (geo.unpack_cell(r.tile)[1] << (pixel_res - tile_res)) + r.py,
            (geo.unpack_cell(r.tile)[2] << (pixel_res - tile_res)) + r.px,
        )), r.cnt)
        for r in flat.collect()
    }
    got = {(r.cell, r.cnt) for r in back.collect()}
    assert got == want


def _raster_reference(lat, lon, tile_res, pixel_res):
    """tile -> dense row-major (py * side + px) pixel counts, by numpy."""
    _, py_all, px_all = geo.unpack_cell(geo.cell_id(lat, lon, pixel_res))
    d = pixel_res - tile_res
    side = 1 << d
    tiles = geo.pack_cell(np.full(len(lat), tile_res, np.int64), py_all >> d, px_all >> d)
    pix = (py_all % side) * side + px_all % side
    return {int(t): np.bincount(pix[tiles == t], minlength=side * side)
            for t in np.unique(tiles)}


@pytest.mark.parametrize("tile_res, pixel_res, partitions", [(4, 7, "8"), (1, 3, "64")])
def test_rasterize_matches_numpy_bincount(spark, points, points_np, tile_res,
                                          pixel_res, partitions):
    """Dense arrays equal a numpy bincount; with 64 shuffle partitions
    (coalescing off) and 8 tiles most kernel partitions are empty."""
    _, lat, lon = points_np
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    orig = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], partitions)
    spark.conf.set(keys[1], "false")
    try:
        raster = spatial.rasterize(points, tile_res, pixel_res)
        rows = raster.collect()
        n_parts = raster.rdd.getNumPartitions()
    finally:
        for k, v in zip(keys, orig):
            spark.conf.set(k, v)
    assert raster.schema == spatial._RASTER_SCHEMA
    want = _raster_reference(lat, lon, tile_res, pixel_res)
    side = 1 << (pixel_res - tile_res)
    assert sorted(r.tile for r in rows) == sorted(want)
    for r in rows:
        assert len(r.pixels) == side * side
        assert r.pixels == want[r.tile].tolist()
    assert sum(sum(r.pixels) for r in rows) == N_POINTS
    assert n_parts == int(partitions)


def test_rasterize_empty_input(spark, points):
    raster = spatial.rasterize(points.limit(0), 4, 7)
    assert raster.schema == spatial._RASTER_SCHEMA
    assert raster.count() == 0


def test_pip_plan_broadcasts_small_polygons(spark, points):
    polys = synth_polygons(spark)
    plan = spatial.pip_join(points, polys, res=6)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pip_join_antimeridian_polygon(spark):
    """A box crossing lon ±180 (170E..170W) must match points on BOTH
    sides of the seam and nothing in the middle of the world."""
    import numpy as np
    from inputosm_spark.operators import spatial as sp

    # ring written in wrap form: 1700000 .. -1700000
    polys = spark.createDataFrame(
        [("seam", [-100000, -100000, 100000, 100000, -100000],
          [1700000, -1700000, -1700000, 1700000, 1700000])],
        "poly_id string, ring_lat_e4 array<long>, ring_lon_e4 array<long>",
    )
    pts_rows = [
        (1, 0, 1750000),     # east of seam -> inside
        (2, 0, -1750000),    # west of seam -> inside
        (3, 0, 0),           # middle of world -> outside
        (4, 0, 1650000),     # east, before the box -> outside
        (5, 150000, 1750000),  # north of the box -> outside
        (6, -99999, 1799999),  # just inside both bounds
    ]
    pts = spark.createDataFrame(
        pts_rows, "doc_id long, lat_e4 long, lon_e4 long"
    )
    got = {
        r.doc_id
        for r in sp.pip_join(pts, polys, res=6).select("doc_id").collect()
    }
    assert got == {1, 2, 6}

    # splitter sanity: two seam-free sub-rings, none spanning the seam
    from inputosm_spark import geo

    parts = geo.split_antimeridian(
        np.array([-100000, -100000, 100000, 100000]),
        np.array([1700000, -1700000, -1700000, 1700000]),
    )
    assert len(parts) == 2
    for la, lo in parts:
        assert lo.max() - lo.min() < 2 * geo.LON_MAX_E4 / 2  # < half world


def test_pip_join_antimeridian_refine_per_sub_ring(spark):
    """Points on both sides of the seam in ONE Arrow batch, all in
    boundary cells: each is refined against its own sub-ring, not
    against whichever sub-ring of the polygon the batch met first."""
    polys = spark.createDataFrame(
        [("seam", [-100000, -100000, 100000, 100000, -100000],
          [1700000, -1700000, -1700000, 1700000, 1700000])],
        "poly_id string, ring_lat_e4 array<long>, ring_lon_e4 array<long>",
    )
    rows = [(j, -99000, (1750000 + 1000 * j) * (1 if j % 2 == 0 else -1))
            for j in range(40)]
    pts = spark.createDataFrame(rows, "doc_id long, lat_e4 long, lon_e4 long")
    res = 6
    # every point sits in a boundary cell, so all 40 go through the refine
    edge = {r.cell for r in spatial.polygon_cells(polys, res).collect() if not r.full}
    lat = np.array([r[1] for r in rows])
    lon = np.array([r[2] for r in rows])
    assert set(geo.cell_id(lat, lon, res).tolist()) <= edge
    got = spatial.pip_join(pts.coalesce(1), polys, res=res).select("doc_id").collect()
    assert sorted(r.doc_id for r in got) == list(range(40))


def test_box_overlap_join_matches_bruteforce(spark):
    """Cell-bucketed rectangle join == brute-force on a fixture with
    boxes that span MANY grid cells, share only edges (closed-open: no
    overlap), or nest entirely."""
    from inputosm_spark.operators import spatial

    a_rows = [
        (1, 0, 50, 0, 50),            # small
        (2, 0, 250_000, 0, 250_000),  # spans 3x3 grid cells at grid=1e5
        (3, 100, 200, 100, 200),      # nested inside 2
        (4, -50, 0, -50, 0),          # touches 1 at the corner only
    ]
    b_rows = [
        (10, 25, 75, 25, 75),          # overlaps 1
        (11, 240_000, 400_000, 0, 10), # overlaps 2 in its last cell row
        (12, 0, 100, 0, 100),          # contains 3, touches 4's edge
        (13, 999_000, 999_100, 0, 10), # far away
    ]
    a = spark.createDataFrame(a_rows, "a_id long, lat0 long, lat1 long, lon0 long, lon1 long")
    b = spark.createDataFrame(b_rows, "b_id long, lat0 long, lat1 long, lon0 long, lon1 long")
    got = sorted(map(tuple, spatial.box_overlap_join(a, b).collect()))

    brute = []
    for ai, al0, al1, an0, an1 in a_rows:
        for bi, bl0, bl1, bn0, bn1 in b_rows:
            ilat = min(al1, bl1) - max(al0, bl0)
            ilon = min(an1, bn1) - max(an0, bn0)
            if ilat > 0 and ilon > 0:
                brute.append((ai, bi, ilat * ilon))
    assert got == sorted(brute)
    # the closed-open edge touch (4 vs 12) must NOT be a pair
    assert (4, 12) not in {(x, y) for x, y, _ in got}


def test_box_overlap_join_rejects_inverted_box(spark):
    """r4 ADVICE: an inverted box made F.sequence generate a DESCENDING
    cell range, silently fanning the row across cells (the interval
    filter then dropped the pairs, hiding the contract violation). The
    in-plan assert_true now fails loudly."""
    import pytest

    from inputosm_spark.operators import spatial

    good = spark.createDataFrame(
        [("a0", 0, 10_000, 0, 10_000)],
        "a_id string, lat0 long, lat1 long, lon0 long, lon1 long",
    )
    bad = spark.createDataFrame(
        [("b0", 20_000, 10_000, 0, 10_000)],  # lat1 <= lat0
        "b_id string, lat0 long, lat1 long, lon0 long, lon1 long",
    )
    with pytest.raises(Exception, match="inverted box"):
        spatial.box_overlap_join(good, bad).collect()


def test_segment_join_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    n_a, n_b = 120, 60
    span = 400_000
    a_np = rng.integers(-span, span, size=(n_a, 4))
    # keep b segments shortish so the grid cover stays tight
    b0 = rng.integers(-span, span, size=(n_b, 2))
    b_np = np.hstack([b0, b0 + rng.integers(-150_000, 150_000,
                                            size=(n_b, 2))])
    a = spark.createDataFrame(
        [(f"a{i}", *map(int, r)) for i, r in enumerate(a_np)],
        "a_id string, x0 long, y0 long, x1 long, y1 long",
    )
    b = spark.createDataFrame(
        [(f"b{i}", *map(int, r)) for i, r in enumerate(b_np)],
        "b_id string, x0 long, y0 long, x1 long, y1 long",
    )
    got = {(r.a_id, r.b_id) for r in
           spatial.segment_intersection_join(a, b).collect()}

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    want = set()
    for i, (ax0, ay0, ax1, ay1) in enumerate(a_np):
        for j, (bx0, by0, bx1, by1) in enumerate(b_np):
            d1 = cross(bx0, by0, bx1, by1, ax0, ay0)
            d2 = cross(bx0, by0, bx1, by1, ax1, ay1)
            d3 = cross(ax0, ay0, ax1, ay1, bx0, by0)
            d4 = cross(ax0, ay0, ax1, ay1, bx1, by1)
            if ((d1 > 0 > d2) or (d1 < 0 < d2)) and (
                (d3 > 0 > d4) or (d3 < 0 < d4)
            ):
                want.add((f"a{i}", f"b{j}"))
    assert got == want
    assert len(want) > 0  # the fixture must actually exercise crossings


def test_dbscan_labels_hand_graph(spark):
    """Two clusters + one border + noise, verified against the
    textbook definition by hand. eps=10, min_pts=3.

    Cluster A: (0,0),(0,5),(5,0),(3,3) — mutual neighbors, all core.
    Border: (0,14) is within 10 of (0,5) [core] but has only 2
    neighbors itself -> border, labeled with A's min id.
    Cluster B: (100,100),(100,106),(106,100),(103,103) — all core.
    Noise: (50,50) alone."""
    pts = [
        (1, 0, 0), (2, 0, 5), (3, 5, 0), (4, 3, 3),
        (5, 0, 14),
        (6, 100, 100), (7, 100, 106), (8, 106, 100), (9, 103, 103),
        (10, 50, 50),
    ]
    df = spark.createDataFrame(pts, "id long, lat_e4 long, lon_e4 long")
    out = {r.id: (r.cluster, r.role) for r in spatial.dbscan(df, eps=10, min_pts=3).collect()}
    assert out[1] == (1, "core")
    assert out[2] == (1, "core")
    assert out[3] == (1, "core")
    assert out[4] == (1, "core")
    assert out[5] == (1, "border")
    assert all(out[i] == (6, "core") for i in (6, 7, 8, 9))
    assert out[10] == (-1, "noise")


def test_dbscan_cell_boundary_neighbors(spark):
    """Points eps-close but in ADJACENT grid cells must still pair:
    the 3x3 probe explode is exactly what makes the grid exact."""
    # eps=10 grid; the trio straddles a cell boundary (x = ...0)
    pts = [(1, 0, 9995), (2, 0, 10002), (3, 0, 10009)]
    df = spark.createDataFrame(pts, "id long, lat_e4 long, lon_e4 long")
    out = {r.id: (r.cluster, r.role) for r in spatial.dbscan(df, eps=10, min_pts=3).collect()}
    # 2 sees both others (core); 1 and 3 see two points each (border)
    assert out[2] == (2, "core")
    assert out[1] == (2, "border") and out[3] == (2, "border")


def test_staypoints_runs_and_min_points(spark):
    """Run segmentation: same-cell runs split by a visit elsewhere;
    runs under min_points are dropped; dwell is exit-enter."""
    # user 1: 3 obs at cell(0,0)-ish, 1 obs far away, 2 obs back ->
    # first run kept (n=3), second run (n=2) dropped
    rows = [
        (1, 100, 10, 10), (1, 160, 12, 11), (1, 220, 11, 13),
        (1, 300, 800_000, 1_700_000),
        (1, 400, 10, 12), (1, 460, 13, 10),
        (2, 100, 10, 10), (2, 150, 10, 10), (2, 200, 10, 10), (2, 260, 10, 10),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_sec long, lat_e4 long, lon_e4 long")
    out = spatial.staypoints(df, res=5, min_points=3).collect()
    got = {(r.user_id): (r.enter_sec, r.exit_sec, r.dwell_sec, r.n_points) for r in out}
    assert len(out) == 2
    assert got[1] == (100, 220, 120, 3)
    assert got[2] == (100, 260, 160, 4)


def test_colocation_pairs_bruteforce_and_cap(spark):
    """colocation_pairs on hand data: pair counts equal brute force,
    min_shared filters, and an over-cap bucket (transit hub) drops —
    users co-present ONLY there share nothing."""
    from itertools import combinations

    # obs: (user, ts_sec, lat_e4, lon_e4). res-2 cells are huge; use
    # far-apart coords for distinct cells.
    hub = (0, 0)            # everyone here at bucket 0 (dropped: 5 > cap 4)
    spot_a = (800000, 900000)
    spot_b = (-800000, -900000)
    rows = []
    for u in range(1, 6):
        rows.append((u, 10, *hub))
        rows.append((u, 10, *hub))  # repeat ping: ONE presence
    for u in (1, 2):
        rows.append((u, 3600, *spot_a))     # bucket 1 together
        rows.append((u, 7200, *spot_b))     # bucket 2 together
    rows.append((3, 3600, *spot_a))         # with 1,2 once only
    df = spark.createDataFrame(
        rows, "user_id long, ts_sec long, lat_e4 long, lon_e4 long"
    )
    got = {
        (r.user_a, r.user_b): r.n_shared
        for r in spatial.colocation_pairs(
            df, res=2, bucket_s=3600, min_shared=2, max_bucket=4
        ).collect()
    }
    assert got == {(1, 2): 2}
    # without the cap the hub bucket contributes all 10 pairs once
    got_nocap = {
        (r.user_a, r.user_b): r.n_shared
        for r in spatial.colocation_pairs(
            df, res=2, bucket_s=3600, min_shared=1, max_bucket=None
        ).collect()
    }
    want = {p: 1 for p in combinations(range(1, 6), 2)}
    want[(1, 2)] = 3
    want[(1, 3)] = 2
    want[(2, 3)] = 2
    assert got_nocap == want


def test_areal_interpolation_conservation_and_guards(spark):
    """Mass conservation: a box's total allocation is value - r where
    0 <= r < n_cells (one floor per cell); a CELL-ALIGNED box
    allocates exactly its value; a non-integral res raises; the int64
    overflow guard fires loudly."""
    W = 56_250  # res-5 cell edge
    aligned = spark.createDataFrame(
        [(0, 2 * W, 0, 3 * W, 6000)],
        "lat0 long, lat1 long, lon0 long, lon1 long, value long",
    )
    out = spatial.areal_interpolation(aligned, res=5).collect()
    assert sum(r.alloc_sum for r in out) == 6000
    assert len(out) == 6 and all(r.alloc_sum == 1000 for r in out)

    ragged = spark.createDataFrame(
        [(100, W + 3517, 200, 2 * W + 7919, 99991)],
        "lat0 long, lat1 long, lon0 long, lon1 long, value long",
    )
    rout = spatial.areal_interpolation(ragged, res=5).collect()
    tot = sum(r.alloc_sum for r in rout)
    assert 99991 - len(rout) <= tot <= 99991

    # res 6: nx=128 -> 28125 exact; res 7: nx=256 -> 14062.5 NOT integral
    with pytest.raises(ValueError):
        spatial.areal_interpolation(aligned, res=7)

    big = spark.createDataFrame(
        [(-900_000, 900_000, -1_800_000, 1_800_000, 1 << 45)],
        "lat0 long, lat1 long, lon0 long, lon1 long, value long",
    )
    try:
        spatial.areal_interpolation(big, res=5).collect()
        raise AssertionError("overflow guard did not fire")
    except Exception as e:  # Py4J wraps the SparkRuntimeException
        assert "overflow" in str(e) or "USER_RAISED" in str(e) or "assert" in str(e).lower()


_TWO_SESSIONS = """
from pyspark.sql import functions as F
from inputosm_spark import get_spark
from inputosm_spark.datagen import synth_polygons
from inputosm_spark.functions import cells
from inputosm_spark.operators import similarity, spatial


def run():
    spark = get_spark(cpus=2, shuffle_partitions=2, app_name="two_sessions")
    lat, lon = cells.point_exprs("id")
    pts = spark.range(2000).select("id", lat, lon)
    pip = sorted(map(tuple, spatial.pip_join(pts, synth_polygons(spark), res=6)
                     .select("id", "poly_id").collect()))
    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id") / 100.0, F.lit(0.5)).alias("embedding"))
    sigs = sorted(map(tuple, similarity.hyperplane_signature(emb).collect()))
    spark.stop()
    return pip, sigs


first, second = run(), run()
print(first == second, len(first[0]) > 0)
"""


def test_pandas_udfs_bind_to_each_session():
    """pip_join and hyperplane_signature in a second SparkSession, after the first
    one stopped, return the same rows and log no accumulator errors. A
    pandas UDF built at import time stays bound to the first
    SparkContext: its rows still come back, but every task of the
    second session logs `Failed to update accumulator`."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, INPUTOSM_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS], cwd=root, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["True", "True"]
    assert "Failed to update accumulator" not in proc.stderr
