"""Spatial operators: cell-bucketed point-in-polygon join, k-ring kNN
join, raster<->vector tiling (north_star core).

The reference has no general joins — its two-pass ID join
(/root/reference/test/integration/extract_ferries.cpp:43-107) is the
pattern these generalize: *bucket first, exact-match second*. Here the
bucket is a grid cell, the exact phase is integer column arithmetic in
Catalyst, and Catalyst/AQE picks broadcast vs shuffle.

Scale design (100 TB corpus, 1000 executors):
* PIP: one Arrow UDF (polygon_cells) splits each ring at the
  antimeridian and covers it with classified cells; the cover — when
  small (the common case: polygon sets are dimension tables) —
  broadcast, so the point table is never shuffled at all; with a huge
  polygon side the join is a shuffled equi-join on cell where AQE
  splits skewed cells (dense metro cells are the known hot keys). The
  points are scanned and joined once: interior cells keep their rows
  untested, boundary cells run the exact ray cast as one Catalyst
  aggregate over the ring arrays (`_ray_cast`) — no Python per point.
* kNN: k-ring expansion multiplies the small QUERY side (9x, 25x, …),
  which is broadcast, never the big point side. The query side is read
  to the driver once and each ring round is one job: the unfinished
  queries go out as an Arrow local relation and their top-k comes back
  to pandas, where the proven-exact test runs. The ring schedule is
  fixed (ring 1, doubling), so no statistic job runs first and nothing
  derived from the data is memoized; the final fallback brute-forces
  only stragglers.
* raster tiles: one Exchange on tile, then one numpy kernel call per
  partition (mapInArrow) — no per-tile Python call.

Cell ids are built and taken apart only through functions.cells
(`cell_x_expr`/`cell_y_expr`, `pack_expr`/`unpack_expr`); no operator
here spells out the packed bit layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from inputosm_spark import geo, metrics
from inputosm_spark.functions import cells

#: knn_join's grid resolution and its ring rounds (ring 1, 2, 4, 8)
#: before the stragglers are brute-forced.
_KNN_RES = 6
_KNN_MAX_ROUNDS = 4

# ---------------------------------------------------------------------------
# polygon covering cells (polyfill) — one Arrow UDF over numpy
# ---------------------------------------------------------------------------


_COVER = ArrayType(StructType([
    StructField("ring_lat_e4", ArrayType(LongType()), False),
    StructField("ring_lon_e4", ArrayType(LongType()), False),
    StructField("cells", ArrayType(StructType([
        StructField("cell", LongType(), False),
        StructField("full", BooleanType(), False),
    ])), False),
]))


def polygon_cells(polygons: DataFrame, res: int) -> DataFrame:
    """polygons -> (poly_id, ring_lat_e4, ring_lon_e4, cell, full)
    exploded covering-cell rows; the ring is the seam-free sub-ring
    that the cell covers.

    One pandas UDF does the whole cover. Per ring,
    geo.split_antimeridian cuts a ring crossing lon ±180 into one
    sub-ring per 360° band (a point in ANY sub-ring joins to the
    original poly_id), then geo.polyfill_classified covers each
    sub-ring; a ring with no vertices has no sub-ring and no cell.
    `full` cells lie entirely inside the polygon (no test needed);
    non-full cells are boundary cells that the exact ray cast
    (`_ray_cast`) resolves after the equi-join. The UDF returns each
    sub-ring once with its cell array and both explodes run in the
    JVM, so the ring arrays never cross Arrow once per cell. The UDF
    is built per call so it binds to the current SparkContext.
    """

    @F.pandas_udf(_COVER)
    def _cover(ring_lat: pd.Series, ring_lon: pd.Series) -> pd.Series:
        out = []
        for la, lo in zip(ring_lat, ring_lon):
            subs = []
            for sla, slo in geo.split_antimeridian(np.asarray(la), np.asarray(lo)):
                cells_, full = geo.polyfill_classified(sla, slo, res)
                subs.append({
                    "ring_lat_e4": sla.tolist(),
                    "ring_lon_e4": slo.tolist(),
                    "cells": [{"cell": int(c), "full": bool(f)}
                              for c, f in zip(cells_, full)],
                })
            out.append(subs)
        return pd.Series(out)

    rings = polygons.select(
        "poly_id", F.explode(_cover("ring_lat_e4", "ring_lon_e4")).alias("r")
    ).select("poly_id", "r.ring_lat_e4", "r.ring_lon_e4",
             F.explode("r.cells").alias("cf"))
    return rings.select("poly_id", "ring_lat_e4", "ring_lon_e4", "cf.cell", "cf.full")


def _ray_cast(lat: str, lon: str, ring_lat: str, ring_lon: str) -> Column:
    """geo.point_in_polygon's even-odd ray cast as one Catalyst
    `aggregate` over sequence(0, n-1): edge i runs from vertex i's
    predecessor j to vertex i, and flips the parity when it straddles
    the point's latitude and crosses the ray east of it. The straddle
    test and the cross-multiplied crossing test are the numpy
    kernel's, in int64: e4 coordinate differences stay below 3.6e6, so
    every product stays below about 6.5e12 and is exact, as numpy's
    float64 products are. A closed ring's repeated first vertex adds a
    zero-length edge, which never straddles. The ring must have a
    vertex (polygon_cells emits no cell for an empty ring)."""
    py, px = F.col(lat), F.col(lon)
    vy, vx = F.col(ring_lat), F.col(ring_lon)
    n = F.size(vy)

    def flip(inside: Column, i: Column) -> Column:
        j = F.when(i == 0, n - 1).otherwise(i - 1)
        yi, yj, xi, xj = vy[i], vy[j], vx[i], vx[j]
        lhs, rhs = (px - xi) * (yj - yi), (py - yi) * (xj - xi)
        crosses = F.when(yj > yi, lhs < rhs).otherwise(lhs > rhs)
        return inside != (((yi > py) != (yj > py)) & crosses)

    return F.aggregate(F.sequence(F.lit(0), n - 1), F.lit(False), flip)


# exploded polygon covering-cell rows at or below which pip_join
# broadcasts the polygon side
_PIP_BROADCAST_MAX_CELLS = 100_000


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    force_broadcast: bool | None = None,
) -> DataFrame:
    """Cell-bucketed point-in-polygon join.

    points: (id, lat_e4, lon_e4) — any extra columns pass through.
    polygons: schemas.POLYGONS.
    Returns points' columns + poly_id for every (point, polygon)
    containment pair (half-open boundary rule, see geo.point_in_polygon).

    Antimeridian-safe: rings crossing lon +/-180 are split into
    seam-free sub-rings per 360-degree band before polyfill
    (polygon_cells / geo.split_antimeridian), so coverage and
    containment hold on both sides of the seam.

    The points are scanned and equi-joined on cell once, against the
    whole cover (cell, poly_id, full, sub-ring arrays), and filtered on
    `full OR _ray_cast(...)`: rows in interior cells are kept untested,
    rows in boundary cells get the exact ray cast in Catalyst.

    Physical strategy: polygon covering cells are counted; up to
    _PIP_BROADCAST_MAX_CELLS exploded rows the cover is broadcast
    (point table untouched by shuffle — the 100 TB plan), otherwise a
    shuffled equi-join on cell with AQE skew splitting.
    `force_broadcast=True/False` picks the strategy without the count.
    The choice is logged through metrics.log as
    `pip_join strategy=broadcast|shuffle cells=N` (N is `uncounted`
    when forced).
    """
    # cache the exploded covering cells: the count() below and the join
    # both consume them — without the cache the cover UDF runs twice
    pcells = polygon_cells(polygons, res).cache()
    from inputosm_spark.operators import ensure_parallelism

    pts = ensure_parallelism(points).withColumn(
        "__cell", cells.cell_id_expr("lat_e4", "lon_e4", res)
    )

    # plan choice: measured (count) unless the caller already knows the
    # build side's size class — `force_broadcast` skips the measuring
    # job entirely (one fewer serial driver-side barrier per run; at
    # high parallelism these sync points are what Amdahl eats first)
    n_cells = "uncounted"
    if force_broadcast is None:
        n_cells = pcells.count()  # tiny aggregate; drives the plan choice
        do_broadcast = n_cells <= _PIP_BROADCAST_MAX_CELLS
    else:
        do_broadcast = force_broadcast
    metrics.log("info", f"pip_join strategy={'broadcast' if do_broadcast else 'shuffle'} "
                        f"cells={n_cells}")
    cover = pcells.select(F.col("cell").alias("__cell"), "poly_id", "full",
                          "ring_lat_e4", "ring_lon_e4")
    if do_broadcast:
        cover = F.broadcast(cover)
    return (
        pts.join(cover, "__cell")
        .filter(F.col("full") | _ray_cast("lat_e4", "lon_e4", "ring_lat_e4", "ring_lon_e4"))
        .drop("__cell", "full", "ring_lat_e4", "ring_lon_e4")
    )


# ---------------------------------------------------------------------------
# k-ring kNN join
# ---------------------------------------------------------------------------


_KNN_SCHEMA = "qid long, neighbor_id long, dist2 long, rank int"


def knn_join(queries: DataFrame, points: DataFrame, k: int) -> DataFrame:
    """k nearest points for each query row, exact.

    queries: (qid, lat_e4, lon_e4); points: (id, lat_e4, lon_e4).
    Distance = exact integer squared planar e4 distance (dist2_e4),
    ties broken by point id — a total order, so the result set is
    engine-independent and oracle-checkable.

    Algorithm (grid kNN at res `_KNN_RES`): explode each query's
    ring-r neighborhood -> equi-join points on cell -> window top-k. A
    result is PROVEN exact when the k-th distance is <= the minimum
    possible distance to any cell outside the ring. The ring starts at
    1 and unfinished queries escalate to 2r; after `_KNN_MAX_ROUNDS`
    rounds the few stragglers are finished by a broadcast brute-force
    pass. The schedule reads nothing from the data: no statistic job
    runs before the first round. Only the (small) query side is ever
    replicated; the big point side is scanned with an equi-join.

    The query side is read to the driver once (it is broadcast anyway,
    so it is assumed small) and each round is one job: the unfinished
    queries go out as an Arrow local relation, the round's top-k (at
    most |remaining| * k rows) comes back with toPandas, and the
    proven-exact test runs in pandas. The finished rows return as one
    Arrow local relation, unioned with the lazy brute-force pass when
    stragglers remain. One `key=value` line goes through metrics.log:
    `knn_join res=6 rings=1,2 remaining=200,100,0 brute=0` (queries
    left before the first round and after each one, and the number
    brute-forced).
    """
    res = _KNN_RES
    nx, ny = 2 ** (res + 1), 2**res
    # conservative min separation to outside-of-ring cells (e4 units)
    w_lon = (2 * geo.LON_MAX_E4) // nx
    w_lat = (2 * geo.LAT_MAX_E4) // ny
    w_min = min(w_lon, w_lat)

    from inputosm_spark.operators import ensure_parallelism

    spark = points.sparkSession
    pts = ensure_parallelism(points).select(
        F.col("id").alias("__pid"),
        F.col("lat_e4").alias("__plat"),
        F.col("lon_e4").alias("__plon"),
        cells.cell_id_expr("lat_e4", "lon_e4", res).alias("__cell"),
    )
    remaining = queries.select(
        F.col("qid").alias("__qid"),
        F.col("lat_e4").alias("__qlat"),
        F.col("lon_e4").alias("__qlon"),
    ).toPandas()
    w = Window.partitionBy("__qid").orderBy("__d2", "__pid")
    done = [pd.DataFrame({c: [] for c in ("__qid", "__pid", "__d2", "__rn")},
                         dtype="int64")]
    rings, left = [], [len(remaining)]
    for ring in (1 << r for r in range(_KNN_MAX_ROUNDS)):
        if remaining.empty:
            break
        # the exploded query side is broadcast explicitly, so the point
        # scan is never the build side whatever the planner estimates
        probes = spark.createDataFrame(remaining).withColumn(
            "__cell", F.explode(cells.kring_expr("__qlat", "__qlon", res, ring))
        )
        topk = (
            F.broadcast(probes)
            .join(pts, "__cell")
            .select(
                "__qid",
                "__pid",
                cells.dist2_expr("__qlat", "__qlon", "__plat", "__plon").alias("__d2"),
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .toPandas()
        )
        # proven-exact iff k found AND kth dist fits inside the ring bound
        per_q = topk.groupby("__qid")["__d2"].agg(["size", "max"])
        ok = per_q.index[(per_q["size"] == k) & (per_q["max"] <= (ring * w_min) ** 2)]
        done.append(topk[topk["__qid"].isin(ok)])
        remaining = remaining[~remaining["__qid"].isin(ok)]
        rings.append(ring)
        left.append(len(remaining))
    metrics.log("info", f"knn_join res={res} rings={','.join(map(str, rings))} "
                        f"remaining={','.join(map(str, left))} brute={len(remaining)}")

    results = spark.createDataFrame(pd.concat(done), _KNN_SCHEMA)
    if not remaining.empty:
        # brute-force the stragglers: tiny query side x full point scan
        cand = (
            F.broadcast(spark.createDataFrame(remaining))
            .crossJoin(pts.drop("__cell"))
            .select(
                "__qid",
                "__pid",
                cells.dist2_expr("__qlat", "__qlon", "__plat", "__plon").alias(
                    "__d2"
                ),
            )
        )
        brute = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("__qid", "__pid", "__d2", "__rn")
        )
        results = results.unionAll(brute)
    return results


# ---------------------------------------------------------------------------
# raster <-> vector tiling
# ---------------------------------------------------------------------------


def _tile_pixel(tile_res: int, pixel_res: int) -> tuple[Column, Column, Column, int]:
    """(tile, px, py, side) of a point's (lat_e4, lon_e4): its tile
    cell at tile_res, its pixel's column and row within the tile, and
    the tile's side in pixels (2^d, d = pixel_res - tile_res)."""
    if pixel_res <= tile_res:
        raise ValueError("pixel_res must exceed tile_res")
    d = pixel_res - tile_res
    side = 1 << d
    x = cells.cell_x_expr("lon_e4", pixel_res)
    y = cells.cell_y_expr("lat_e4", pixel_res)
    tile = cells.pack_expr(tile_res, F.shiftright(y, d), F.shiftright(x, d))
    return tile.alias("tile"), F.pmod(x, F.lit(side)), F.pmod(y, F.lit(side)), side


def tile_counts(points: DataFrame, tile_res: int, pixel_res: int) -> DataFrame:
    """Flat raster: per-tile per-pixel point counts.

    A "tile" is a grid cell at tile_res; its pixels are the
    2^(d) x 2^(d) sub-cells at pixel_res (d = pixel_res - tile_res).
    Pure column math -> fully oracle-checkable.
    """
    tile, px, py, _ = _tile_pixel(tile_res, pixel_res)
    return (
        points.select(tile, px.cast("int").alias("px"), py.cast("int").alias("py"))
        .groupBy("tile", "px", "py")
        .agg(F.count("*").alias("cnt"))
    )


_RASTER_SCHEMA = StructType(
    [
        StructField("tile", LongType(), False),
        StructField("pixels", ArrayType(LongType()), False),
    ]
)


def rasterize(points: DataFrame, tile_res: int, pixel_res: int) -> DataFrame:
    """Dense raster tiles: (tile, pixels row-major array of counts).

    Each point is projected to its tile and its row-major pixel index
    `py * side + px` in the JVM, the rows are hash-partitioned on tile
    (the one Exchange), and one mapInArrow kernel call per partition
    counts every tile of the partition with a single numpy bincount
    and emits the dense arrays as one Arrow ListArray — no per-tile
    Python call, no pandas, no Python lists (the data shape SQL can't
    express: fixed-size dense arrays).
    """
    tile, px, py, side = _tile_pixel(tile_res, pixel_res)
    n_pix = side * side

    def _raster(batches):
        cols = [(b.column(0).to_numpy(), b.column(1).to_numpy()) for b in batches]
        if not sum(len(t) for t, _ in cols):
            return
        tile_ids, pix = (np.concatenate(c) for c in zip(*cols))
        tiles, inv = np.unique(tile_ids, return_inverse=True)
        counts = np.bincount(inv * n_pix + pix, minlength=len(tiles) * n_pix)
        offsets = pa.array(np.arange(len(tiles) + 1, dtype=np.int32) * n_pix)
        yield pa.RecordBatch.from_arrays(
            [pa.array(tiles), pa.ListArray.from_arrays(offsets, pa.array(counts))],
            ["tile", "pixels"],
        )

    return (
        points.select(tile, (py * side + px).alias("i"))
        .repartition("tile")
        .mapInArrow(_raster, _RASTER_SCHEMA)
    )


def vectorize(raster: DataFrame, tile_res: int, pixel_res: int) -> DataFrame:
    """Inverse of rasterize: dense tiles -> (cell at pixel_res, cnt)
    rows for non-zero pixels. rasterize ∘ vectorize is the identity on
    non-zero pixel counts (tested).
    """
    d = pixel_res - tile_res
    side = 1 << d
    ty, tx = cells.unpack_expr("tile")
    exploded = raster.select(
        tx.alias("__tx"), ty.alias("__ty"), F.posexplode("pixels").alias("i", "cnt")
    ).filter(F.col("cnt") > 0)
    px = F.pmod("i", F.lit(side))
    py = (F.col("i") / side).cast("long")
    return exploded.select(
        cells.pack_expr(
            pixel_res, F.col("__ty") * side + py, F.col("__tx") * side + px
        ).alias("cell"),
        "cnt",
    )


# ---------------------------------------------------------------------------
# box-overlap (rectangle-intersection) spatial join
# ---------------------------------------------------------------------------


#: grid-cell edge (e4 units) of the box-overlap and segment joins —
#: a tuning value only (the exact test makes results grid-independent);
#: near the typical box / segment size most rows hit 1-4 cells
_JOIN_GRID = 100_000


def _grid_cells(df: DataFrame) -> DataFrame:
    """Explode each closed-open box [lat0,lat1) x [lon0,lon1) into the
    (ci, cj) grid cells it intersects — pure sequence/explode column
    math, no UDF. Boxes must be non-empty (lat1 > lat0, lon1 > lon0):
    enforced with an in-plan assert_true (the engine's loud-failure
    pattern, r4 ADVICE) — an inverted box would otherwise make
    F.sequence generate a DESCENDING cell range, silently fanning the
    bad row across cells before the exact interval filter drops it.
    """
    g = F.lit(_JOIN_GRID)
    guard = F.assert_true(
        (F.col("lat1") > F.col("lat0")) & (F.col("lon1") > F.col("lon0")),
        F.lit("box_overlap_join: empty or inverted box (need lat1>lat0 "
              "and lon1>lon0)"),
    )
    out = df.withColumn(
        "__ci",
        F.explode(
            F.sequence(
                # assert_true is NULL when the predicate holds, so the
                # guard is a free +0 on the happy path
                F.floor(F.col("lat0") / g)
                + F.coalesce(guard.cast("long"), F.lit(0)),
                F.floor((F.col("lat1") - 1) / g),
            )
        ),
    )
    return out.withColumn(
        "__cj",
        F.explode(
            F.sequence(
                F.floor(F.col("lon0") / g), F.floor((F.col("lon1") - 1) / g)
            )
        ),
    )


def box_overlap_join(a_boxes: DataFrame, b_boxes: DataFrame) -> DataFrame:
    """Rectangle-intersection JOIN: all (a_id, b_id) pairs whose
    closed-open boxes [lat0,lat1) x [lon0,lon1) overlap, with the exact
    integer intersection area — the polygon-overlap primitive (bbox
    phase of any polygon-polygon join).

    Shape: *bucket first, exact-match second* (the engine's PIP/kNN
    pattern). Both sides explode into covering grid cells and
    equi-join on (ci, cj) — never a cross join: two overlapping boxes
    both cover their intersection's cell, so the cell join is a
    guaranteed candidate SUPERSET; the exact closed-open interval test
    + area are then plain column arithmetic, and duplicates from
    multi-cell overlaps collapse with one distinct.

    Sizing: fan-out per box = ceil(h/_JOIN_GRID) * ceil(w/_JOIN_GRID).
    A giant box (continental outlier) fans out proportionally — cap or
    split such boxes upstream, same guardrail as lsh_candidate_pairs'
    max_bucket.
    """
    a = _grid_cells(a_boxes.select("a_id", "lat0", "lat1", "lon0", "lon1")).select(
        "a_id", "__ci", "__cj",
        F.col("lat0").alias("alat0"), F.col("lat1").alias("alat1"),
        F.col("lon0").alias("alon0"), F.col("lon1").alias("alon1"),
    )
    b = _grid_cells(b_boxes.select("b_id", "lat0", "lat1", "lon0", "lon1")).select(
        "b_id", "__ci", "__cj",
        F.col("lat0").alias("blat0"), F.col("lat1").alias("blat1"),
        F.col("lon0").alias("blon0"), F.col("lon1").alias("blon1"),
    )
    ilat = F.least("alat1", "blat1") - F.greatest("alat0", "blat0")
    ilon = F.least("alon1", "blon1") - F.greatest("alon0", "blon0")
    return (
        a.join(b, ["__ci", "__cj"])
        .filter((ilat > 0) & (ilon > 0))
        .select(
            "a_id", "b_id",
            (ilat * ilon).cast("long").alias("inter_area"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# segment-intersection (proper-crossing) spatial join
# ---------------------------------------------------------------------------


def _seg_cells(df: DataFrame) -> DataFrame:
    """Explode each segment (x0,y0)-(x1,y1) into the grid cells of its
    bounding box — INCLUSIVE floor-divided ranges over least/greatest,
    so degenerate (axis-parallel or zero-length) segments cover their
    single row/column of cells rather than tripping an emptiness guard
    (unlike `_grid_cells`, whose closed-open boxes must be non-empty).
    The bbox cover is a proven superset of the cells the segment
    touches; the exact crossing test prunes the slack."""
    g = F.lit(_JOIN_GRID)
    out = df.withColumn(
        "__ci",
        F.explode(
            F.sequence(
                F.floor(F.least("y0", "y1") / g),
                F.floor(F.greatest("y0", "y1") / g),
            )
        ),
    )
    return out.withColumn(
        "__cj",
        F.explode(
            F.sequence(
                F.floor(F.least("x0", "x1") / g),
                F.floor(F.greatest("x0", "x1") / g),
            )
        ),
    )


def segment_intersection_join(a_segs: DataFrame, b_segs: DataFrame) -> DataFrame:
    """PROPER-CROSSING segment intersection join: all (a_id, b_id)
    pairs whose open segments (x0, y0)-(x1, y1) strictly cross — the computational-geometry
    core of road/boundary overlay analytics (reference analog: the way
    geometry assembly feeding `extract_ferries`-style pipelines,
    /root/reference/examples/; the reference itself never intersects
    geometries — engine extension).

    Exactness: integer orientation tests only. With d1,d2 the cross
    products of segment CD against A and B, and d3,d4 of AB against C
    and D, a strict crossing is (d1,d2 opposite signs) AND (d3,d4
    opposite signs). Collinear overlaps and endpoint touches are
    EXCLUDED by contract (no epsilon anywhere; the DuckDB oracle
    replays the identical integer formula). Coordinates up to ~2^30
    are safe: cross products stay < 2^62.

    Scale shape: candidates come from an equi-join on covering grid
    cells of each segment's bbox (never a cartesian / theta join —
    same plan contract as box_overlap_join); DISTINCT dedups pairs
    found in several cells. Long diagonal segments inflate the bbox
    cover quadratically once they outgrow `_JOIN_GRID`.
    """
    a = _seg_cells(
        a_segs.select(
            "a_id",
            F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
            F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
        ),
    ).drop("x0", "y0", "x1", "y1")
    b = _seg_cells(
        b_segs.select(
            "b_id",
            F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
            F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
        ),
    ).drop("x0", "y0", "x1", "y1")

    def cross(ox, oy, px, py, qx, qy):
        return (F.col(px) - F.col(ox)) * (F.col(qy) - F.col(oy)) - (
            F.col(py) - F.col(oy)
        ) * (F.col(qx) - F.col(ox))

    d1 = cross("bx0", "by0", "bx1", "by1", "ax0", "ay0")
    d2 = cross("bx0", "by0", "bx1", "by1", "ax1", "ay1")
    d3 = cross("ax0", "ay0", "ax1", "ay1", "bx0", "by0")
    d4 = cross("ax0", "ay0", "ax1", "ay1", "bx1", "by1")
    opposite = lambda u, v: ((u > 0) & (v < 0)) | ((u < 0) & (v > 0))  # noqa: E731
    return (
        a.join(b, ["__ci", "__cj"])
        .filter(opposite(d1, d2) & opposite(d3, d4))
        .select("a_id", "b_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# polyline simplification (perpendicular-deviation vertex filter)
# ---------------------------------------------------------------------------


def simplify_polyline(
    points: DataFrame,
    eps: int,
    way_col: str = "way_id",
    order_cols: tuple[str, ...] = ("pos",),
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """One-pass polyline simplification: an interior vertex survives
    iff its perpendicular deviation from the chord of its immediate
    neighbors exceeds `eps` (endpoints always survive) — the windowed,
    oracle-replayable member of the simplification family (Douglas-
    Peucker is inherently sequential-recursive; this is the standard
    streaming approximation used when one pass over sorted vertices is
    all a 100 TB corpus affords).

    Exactness: |cross((next-prev), (p-prev))| > eps * floor(sqrt(
    |next-prev|^2)) — all integer except the floor-sqrt, which is
    correctly rounded in both engines at these magnitudes (same
    argument as way_length's segment lengths), so the DuckDB oracle
    replays the verdict bit-for-bit. The comparison uses
    floor(|chord|), biasing at most one deviation unit toward KEEPING
    a vertex — documented contract, never engine-divergent.

    Scale shape: one window per way, partitioned on the way key.
    Way vertex counts are bounded (OSM caps ways at 2000 nodes), so a
    per-way window partition never concentrates unbounded rows on one
    reducer — the situation asof_join's bucketed windows exist for
    does not arise here.
    """
    w = Window.partitionBy(way_col).orderBy(*order_cols)
    px, py = F.lag(x_col).over(w), F.lag(y_col).over(w)
    nx, ny = F.lead(x_col).over(w), F.lead(y_col).over(w)
    dx, dy = nx - px, ny - py
    cross = dx * (F.col(y_col) - py) - dy * (F.col(x_col) - px)
    chord = F.floor(F.sqrt(dx * dx + dy * dy))
    keep = (
        px.isNull()
        | nx.isNull()
        | (F.abs(cross) > F.lit(eps) * chord)
    )
    # window expressions can't sit in a filter directly
    return points.withColumn("__keep", keep).filter("__keep").drop("__keep")


# ---------------------------------------------------------------------------
# density clustering (grid-partitioned DBSCAN) + trajectory stay-points
# ---------------------------------------------------------------------------


def dbscan(points: DataFrame, eps: int, min_pts: int) -> DataFrame:
    """Grid-partitioned DBSCAN over integer-e4 points — the density
    clustering step of spatial curation (POI conflation, settlement
    detection, hot-spot grouping). Input (id, lat_e4, lon_e4);
    output (id, cluster, role) with role in core|border|noise,
    cluster = min core id density-reachable (-1 for noise). Border
    points that reach several clusters take the MIN cluster label —
    a deterministic refinement of textbook DBSCAN's arrival-order
    tie-break (which is not replayable by any oracle).

    Scale shape (the MR-DBSCAN cell decomposition): the plane is cut
    into eps-sized cells, so every eps-neighbor of a point lies in its
    3x3 cell block — the neighbor join is ONE equi-join on cell key
    (probe side exploded x9, base side untouched), never an all-pairs
    product; dense metro cells are AQE's skew problem, not a plan
    problem. Neighbor counting, core flagging and border attachment
    are single aggregations of the cached pair stream; core-core
    transitive closure reuses the engine's log-round star CC. All
    arithmetic is integer (dist2 in e4^2 units), so a brute-force SQL
    twin replays every label bit-for-bit. No antimeridian wrap: the
    eps grid is a flat cut of [-180,180] (documented; both dialects
    agree). Eps-squared stays < 2^53 for any eps <= LON span, so the
    integer dist2 is exact in both engines.
    """
    from inputosm_spark.operators.graph import connected_components

    base = points.select(
        "id",
        "lat_e4",
        "lon_e4",
        F.floor((F.col("lon_e4") + F.lit(geo.LON_MAX_E4)) / F.lit(eps)).alias("gx"),
        F.floor((F.col("lat_e4") + F.lit(geo.LAT_MAX_E4)) / F.lit(eps)).alias("gy"),
    )
    # ONE explode fans the probe side to its 9 candidate cells
    # (explode-vs-unionAll rule); the base side joins unexploded
    offs = F.array(
        *[
            F.struct(
                (F.col("gx") + F.lit(dx)).alias("gx"),
                (F.col("gy") + F.lit(dy)).alias("gy"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = base.select(
        F.col("id").alias("a"),
        F.col("lat_e4").alias("la"),
        F.col("lon_e4").alias("lo"),
        F.explode(offs).alias("__g"),
    ).select("a", "la", "lo", "__g.gx", "__g.gy")
    dla = F.col("la") - F.col("lat_e4")
    dlo = F.col("lo") - F.col("lon_e4")
    # integer squares (** would be double pow); both fit int64 easily
    d2 = dla * dla + dlo * dlo
    # (a, b) for every b within eps of a, INCLUDING a itself (so the
    # neighbor count below matches DBSCAN's |N_eps| convention); the
    # pair stream feeds three consumers (count, core edges, border
    # attach) -> cache it (no cross-branch subplan sharing)
    pairs = (
        probe.join(base.select(F.col("id").alias("b"), "lat_e4", "lon_e4", "gx", "gy"),
                   ["gx", "gy"])
        .filter(d2 <= F.lit(int(eps) * int(eps)).cast("long"))
        .select("a", "b")
        .cache()
    )
    core = (
        pairs.groupBy("a")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= F.lit(min_pts))
        .select(F.col("a").alias("id"))
    )
    ca = core.select(F.col("id").alias("a"))
    cb = core.select(F.col("id").alias("b"))
    core_edges = (
        pairs.join(ca, "a").join(cb, "b")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    comp = connected_components(core_edges)
    core_lab = (
        core.join(comp.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("component", "id").alias("cluster"))
    )
    border = (
        pairs.join(core_lab.select(F.col("id").alias("b"), "cluster"), "b")
        .join(core_lab.select(F.col("id").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("id"), "cluster")
    )
    labeled = core_lab.select("id", "cluster", F.lit("core").alias("role")).unionAll(
        border.select("id", "cluster", F.lit("border").alias("role"))
    )
    return (
        base.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("cluster", F.lit(-1)).cast("long").alias("cluster"),
            F.coalesce("role", F.lit("noise")).alias("role"),
        )
    )


def staypoints(events: DataFrame, res: int, min_points: int) -> DataFrame:
    """Trajectory stay-point detection: maximal runs of CONSECUTIVE
    per-user observations inside one grid cell, kept when the run has
    >= min_points observations — the trajectory-mining primitive
    behind home/work detection, POI dwell models and visit extraction.
    events: (user_id, ts_sec, lat_e4, lon_e4), as for od_flows and
    colocation_pairs.

    Gaps-and-islands over per-user windows: flag cell changes with
    lag(), prefix-sum the flags into a run id, aggregate runs. Two
    window passes and one aggregation, all partitioned by user — at
    100 TB this is ONE shuffle of the event stream on user_id (user
    histories are bounded; no partition-less window anywhere, the
    token_shards rule). Timestamps stay integer epoch seconds end to
    end (the engine's pure-epoch convention), so the oracle replays
    enter/exit/dwell bit-for-bit under any session timezone.
    """
    cell = cells.cell_id_expr("lat_e4", "lon_e4", res)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "__cell")
    seq = events.select("user_id", "ts_sec", cell.alias("__cell")).withColumn(
        "__chg",
        F.when(
            F.lag("__cell").over(w).isNull()
            | (F.lag("__cell").over(w) != F.col("__cell")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__run", F.sum("__chg").over(w))
    return (
        seq.groupBy("user_id", "__run")
        .agg(
            F.first("__cell").alias("cell"),
            F.min("ts_sec").alias("enter_sec"),
            F.max("ts_sec").alias("exit_sec"),
            F.count("*").alias("n_points"),
        )
        .filter(F.col("n_points") >= F.lit(min_points))
        .select(
            "user_id",
            "cell",
            "enter_sec",
            "exit_sec",
            (F.col("exit_sec") - F.col("enter_sec")).alias("dwell_sec"),
            "n_points",
        )
    )


def od_flows(events: DataFrame, res: int) -> DataFrame:
    """Origin->destination flow matrix: for every CONSECUTIVE pair of
    per-user observations that lands in two different grid cells,
    count one movement from_cell -> to_cell, plus the distinct movers
    — the aggregate-mobility primitive behind commute matrices, tile
    demand models and flow maps (reference scope: per-entity tag
    aggregation, `/root/reference/src/inputosmpbf.cpp` way/relation
    iteration; the OD rollup is the trajectory analogue).

    One lag() window partitioned by user (bounded per-user history,
    ONE shuffle of the stream on user_id — same shape as
    `staypoints`), then a groupBy on the (from, to) pair with a
    partial-aggregating count and a distinct-user count. Self-loops
    (consecutive points in the same cell) are excluded: they are
    dwell, not movement. At 100 TB the pair-key aggregation is
    hash-partitioned; hot corridors (metro cell pairs) stay one
    reducer each but carry only counters, and AQE skew-split handles
    the shuffle read side.
    """
    cell = cells.cell_id_expr("lat_e4", "lon_e4", res)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "__cell")
    seq = events.select("user_id", "ts_sec", cell.alias("__cell")).withColumn(
        "__prev", F.lag("__cell").over(w)
    )
    return (
        seq.filter(
            F.col("__prev").isNotNull() & (F.col("__prev") != F.col("__cell"))
        )
        .groupBy(
            F.col("__prev").alias("from_cell"),
            F.col("__cell").alias("to_cell"),
        )
        .agg(
            F.count("*").alias("n_moves"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def colocation_pairs(
    obs: DataFrame,
    res: int,
    bucket_s: int,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Co-location pairs: users observed in the SAME grid cell within
    the SAME time bucket, kept when they share >= min_shared distinct
    (cell, bucket) co-presences — the contact-graph / companionship
    primitive (proximity tracing, co-travel detection, duplicate-actor
    linking).

    Shape: per-user presence set (user, cell, time-bucket) DISTINCT
    (map-side array_distinct-style dedup of repeat pings — a user
    pinging 100x in one bucket is ONE presence), then a self-equi-join
    on the (cell, bucket) key with an a<b mask and a pair-count
    aggregation. Never a cartesian: the join key is the bucket, and
    `max_bucket` drops buckets with more than that many distinct users
    entirely (the LSH skew-guard rule — a transit-hub cell-hour with
    thousands of users is all-pairs quadratic at 100 TB and carries no
    pairwise signal; the rule is a plain count predicate, so oracles
    replay the drop). Time buckets are integer floor-division epochs —
    engine-neutral and replayable.
    """
    cell = cells.cell_id_expr("lat_e4", "lon_e4", res)
    presence = (
        obs.select(
            "user_id",
            F.floor(F.col("ts_sec") / F.lit(bucket_s)).cast("long").alias("tb"),
            cell.alias("cell"),
        )
        .distinct()
    )
    if max_bucket is not None:
        wb = Window.partitionBy("cell", "tb")
        presence = (
            presence.withColumn("__bn", F.count("*").over(wb))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    # the presence table feeds both join sides; cache it (no
    # cross-branch subplan sharing) so the distinct runs once
    presence = presence.cache()
    a, b = presence.alias("a"), presence.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.tb") == F.col("b.tb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
    )


def areal_interpolation(boxes: DataFrame, res: int) -> DataFrame:
    """Area-weighted vector->raster allocation (areal interpolation):
    each axis-aligned box distributes its integer value over every
    res-`res` grid cell it intersects, proportional to the EXACT
    integer intersection area, with floor division — the population /
    demand-surface downscaling primitive (census block -> tile),
    complementing `tile_counts` (point counting) and `rasterize`
    (membership). Per-cell output: sum of allocations + contributing
    box count.

    Boxes carry closed-open integer rects (lat0 <= lat < lat1,
    lon0 <= lon < lon1 in e4 degrees) and an integer `value`. The covering-cell fan-out is
    two `sequence()` explodes (map-side Generate, no join); the
    allocation `value * inter_area div box_area` stays in int64 under
    an in-plan assert_true guard (value bounded by 2^62 / box_area,
    compared WITHOUT multiplying — the priority_sample overflow-safe
    guard shape), and every arithmetic step is engine-neutral integer
    math a SQL oracle replays bit-for-bit. Requires a res whose cell
    edges divide the e4 grid exactly (res 5: 56250 x 56250); raises
    otherwise — a non-integral cell edge would silently shear the
    allocation.

    At 100 TB the fan-out is bounded by box perimeter / cell size per
    row (choose res so typical boxes cover O(1..100) cells) and the
    per-cell rollup is one map-side-combined shuffle.
    """
    nx, ny = 2 ** (res + 1), 2**res
    w_lon = 2 * geo.LON_MAX_E4 // nx
    w_lat = 2 * geo.LAT_MAX_E4 // ny
    if w_lon * nx != 2 * geo.LON_MAX_E4 or w_lat * ny != 2 * geo.LAT_MAX_E4:
        raise ValueError(
            f"res {res}: cell edges {2*geo.LON_MAX_E4}/{nx}, "
            f"{2*geo.LAT_MAX_E4}/{ny} are not integral"
        )
    v = F.col("value").cast("long")
    area = (F.col("lat1") - F.col("lat0")) * (F.col("lon1") - F.col("lon0"))
    # loud int64 guard: value * inter_area <= value * box_area < 2^62
    guard = F.assert_true(
        v <= F.lit(1 << 62) / area,
        F.lit("areal_interpolation: value * box_area would overflow int64"),
    )
    x0 = F.floor((F.col("lon0") + F.lit(geo.LON_MAX_E4)) / F.lit(w_lon))
    x1 = F.floor((F.col("lon1") - 1 + F.lit(geo.LON_MAX_E4)) / F.lit(w_lon))
    y0 = F.floor((F.col("lat0") + F.lit(geo.LAT_MAX_E4)) / F.lit(w_lat))
    y1 = F.floor((F.col("lat1") - 1 + F.lit(geo.LAT_MAX_E4)) / F.lit(w_lat))
    fan = (
        boxes.select(
            "lat0", "lat1", "lon0", "lon1",
            (v + F.coalesce(guard.cast("long"), F.lit(0))).alias("__v"),
            area.alias("__area"),
            F.explode(F.sequence(x0, x1)).alias("x"),
            y0.alias("__y0"), y1.alias("__y1"),
        )
        .select(
            "*", F.explode(F.sequence(F.col("__y0"), F.col("__y1"))).alias("y")
        )
    )
    cell_lon0 = F.col("x") * F.lit(w_lon) - F.lit(geo.LON_MAX_E4)
    cell_lat0 = F.col("y") * F.lit(w_lat) - F.lit(geo.LAT_MAX_E4)
    iw = F.least(F.col("lon1"), cell_lon0 + F.lit(w_lon)) - F.greatest(
        F.col("lon0"), cell_lon0
    )
    ih = F.least(F.col("lat1"), cell_lat0 + F.lit(w_lat)) - F.greatest(
        F.col("lat0"), cell_lat0
    )
    cell = cells.pack_expr(res, F.col("y"), F.col("x"))
    return (
        fan.select(
            cell.alias("cell"),
            (F.col("__v") * (iw * ih)).alias("__num"),
            F.col("__area"),
        )
        # int64 `div`, never double floor(): __num reaches ~2^62 where
        # float64 division mis-floors
        .select("cell", F.expr("__num div __area").alias("alloc"))
        .groupBy("cell")
        .agg(
            F.sum("alloc").cast("long").alias("alloc_sum"),
            F.count("*").cast("long").alias("n_boxes"),
        )
    )
