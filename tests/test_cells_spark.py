"""Three-way parity: Catalyst Column exprs == numpy kernels == Arrow
pandas UDF for cell assignment and point derivation. This is the
engine's core guarantee (the SQL-oracle gate depends on it).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from inputosm_spark import geo
from inputosm_spark.functions import cells


def test_point_exprs_match_numpy(spark):
    lat, lon = cells.point_exprs("id")
    rows = spark.range(5000).select("id", lat, lon).orderBy("id").collect()
    ids = np.array([r.id for r in rows])
    glat, glon = geo.point_from_id(ids)
    assert np.array_equal(np.array([r.lat_e4 for r in rows]), glat)
    assert np.array_equal(np.array([r.lon_e4 for r in rows]), glon)


def test_cell_expr_matches_numpy_and_udf(spark):
    lat, lon = cells.point_exprs("id")
    df = spark.range(5000).select("id", lat, lon)
    for res in (0, 3, 7, 11, 15, 20):
        c_expr = cells.cell_id_expr("lat_e4", "lon_e4", res)
        uy, ux = cells.unpack_expr(c_expr)
        out = (
            df.select(
                "id",
                "lat_e4",
                "lon_e4",
                c_expr.alias("c_expr"),
                cells.make_cell_id_udf(res)("lat_e4", "lon_e4").alias("c_udf"),
                uy.alias("uy"),
                ux.alias("ux"),
            )
            .orderBy("id")
            .collect()
        )
        want = geo.cell_id(
            np.array([r.lat_e4 for r in out]), np.array([r.lon_e4 for r in out]), res
        )
        got_expr = np.array([r.c_expr for r in out])
        got_udf = np.array([r.c_udf for r in out])
        assert np.array_equal(got_expr, want), f"expr mismatch at res {res}"
        assert np.array_equal(got_udf, want), f"udf mismatch at res {res}"
        _, want_y, want_x = geo.unpack_cell(want)
        assert np.array_equal(np.array([r.uy for r in out]), want_y), f"unpack y at res {res}"
        assert np.array_equal(np.array([r.ux for r in out]), want_x), f"unpack x at res {res}"


def test_cell_boundary_values(spark):
    # poles, antimeridian, origin — exact corner semantics
    pts = [(geo.LAT_MAX_E4, 0), (-geo.LAT_MAX_E4, 0), (0, -geo.LON_MAX_E4),
           (0, geo.LON_MAX_E4 - 1), (0, 0)]
    df = spark.createDataFrame(pts, "lat_e4 long, lon_e4 long")
    res = 9
    out = df.select("lat_e4", "lon_e4",
                    cells.cell_id_expr("lat_e4", "lon_e4", res).alias("c")).collect()
    for r in out:
        assert r.c == int(geo.cell_id(r.lat_e4, r.lon_e4, res))


def test_kring_expr_matches_numpy(spark):
    lat, lon = cells.point_exprs("id")
    res, k = 8, 1
    df = spark.range(300).select("id", lat, lon)
    rows = (
        df.select(
            "id",
            cells.cell_id_expr("lat_e4", "lon_e4", res).alias("cell"),
            cells.kring_expr("lat_e4", "lon_e4", res, k).alias("ring"),
        )
        .orderBy("id")
        .collect()
    )
    for r in rows:
        want = geo.kring(np.int64(r.cell), k)[0]
        want = sorted(want[want >= 0].tolist())
        assert sorted(r.ring) == want


def test_dist2_expr_matches_numpy(spark):
    df = spark.createDataFrame(
        [(0, 0, 3, 4), (100, -200, -300, 400)],
        "a long, b long, c long, d long",
    )
    out = df.select(cells.dist2_expr("a", "b", "c", "d").alias("d2")).collect()
    assert out[0].d2 == 25
    assert out[1].d2 == int(geo.dist2_e4(100, -200, -300, 400))
