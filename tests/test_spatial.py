"""Spatial join / tiling parity vs brute-force numpy oracles
(golden join-output parity per SURVEY.md §5: exact row-set match,
order-insensitive).
"""

from __future__ import annotations

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


def test_knn_join_exact_vs_bruteforce(spark, points, points_np):
    ids, lat, lon = points_np
    qlat, qlon = geo.point_from_id(np.arange(900_000, 900_040))
    queries = spark.createDataFrame(
        [(int(i), int(a), int(o)) for i, (a, o) in enumerate(zip(qlat, qlon))],
        "qid long, lat_e4 long, lon_e4 long",
    )
    k = 5
    got = spatial.knn_join(queries, points, k=k, res=6).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qi in range(len(qlat)):
        want = _knn_oracle(int(qlat[qi]), int(qlon[qi]), ids, lat, lon, k)
        assert sorted(by_q[qi], key=lambda t: t[2]) == want, f"qid {qi}"


def test_knn_escalation_sparse_region(spark, points, points_np):
    """Queries in empty regions must escalate rings (or brute-force)
    and still return exactly k correct neighbors."""
    ids, lat, lon = points_np
    # corners near the poles are sparse at res 6
    qs = [(0, 899_000, -1_799_000), (1, -899_500, 1_700_000)]
    queries = spark.createDataFrame(qs, "qid long, lat_e4 long, lon_e4 long")
    k = 3
    got = spatial.knn_join(queries, points, k=k, res=6, max_rounds=2).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qid, qlat, qlon in qs:
        want = _knn_oracle(qlat, qlon, ids, lat, lon, k)
        assert sorted(by_q[qid], key=lambda t: t[2]) == want


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
    got = sorted(map(tuple, spatial.box_overlap_join(a, b, grid=100_000).collect()))

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
    from pyspark.sql import functions as F

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
