"""Deterministic hierarchical grid index + vectorized geometry kernels.

h3-py / s2 / shapely are not installed in this environment, so the
engine ships its own grid system with the same *shape* of API an
H3/S2 indexer exposes (cell assignment at resolutions 0..MAX_RES,
parent/child traversal, k-ring neighborhoods, polygon covering /
"polyfill", cell centroids). The scheme:

* Coordinates are **fixed-point integers**, `lat_e4 = round(lat_deg*1e4)`,
  `lon_e4 = round(lon_deg*1e4)` — the direct analog of the reference's
  raw nanodegree coordinates (`raw_latitude/raw_longitude`,
  /root/reference/include/inputosm/inputosm.h:31-41, consumers scale
  by 1e-7 per README.md:444). Integer coords make every cell operation
  exact and engine-independent (Spark == DuckDB == numpy bit-for-bit).
* At resolution ``r`` the world is an equirectangular grid of
  ``ny = 2**r`` rows x ``nx = 2**(r+1)`` columns
  (lat in [-90, 90], lon in [-180, 180)).
* ``cell_id`` packs ``(r, y, x)`` into one int64:
  ``(r << 58) | (y << 29) | x`` — r in [0, 28], y < 2**28, x < 2**29.

All kernels are numpy-vectorized (never per-row Python) so they drop
straight into Arrow pandas UDFs; the integer formulas are also emitted
as Spark Column expressions / ANSI SQL by
`inputosm_spark.functions.cells` so Catalyst can codegen the hot path
and DuckDB can replay it as the correctness oracle.
"""

from __future__ import annotations

import numpy as np

# Finest meaningful resolution for e4 fixed-point coords: at res 20 a
# cell is ~1.7 e4-units (~19 m at the equator), finer than H3 res 11
# (~25 m edge) — so the north_star's res 7-11 band maps inside [0, 20].
MAX_RES = 20
LAT_SCALE = 10_000  # e4 fixed point
LAT_MAX_E4 = 900_000
LON_MAX_E4 = 1_800_000

_RES_SHIFT = 58
_Y_SHIFT = 29
_XY_MASK = (1 << 29) - 1


def _check_res(res: int) -> None:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}], got {res}")


# ---------------------------------------------------------------------------
# cell assignment (vectorized)
# ---------------------------------------------------------------------------

def cell_xy(lat_e4, lon_e4, res: int):
    """(x, y) grid coordinates at `res` for fixed-point e4 coords.

    Exact integer math: x = ((lon+180deg) * nx) // 360deg with the
    north-pole row clamped (lat == +90 belongs to the top row).
    """
    _check_res(res)
    lat = np.asarray(lat_e4, dtype=np.int64)
    lon = np.asarray(lon_e4, dtype=np.int64)
    nx = np.int64(2 ** (res + 1))
    ny = np.int64(2**res)
    x = ((lon + LON_MAX_E4) * nx) // (2 * LON_MAX_E4)
    x = np.remainder(x, nx)  # lon == +180 wraps to the antimeridian column 0
    y = ((lat + LAT_MAX_E4) * ny) // (2 * LAT_MAX_E4)
    y = np.minimum(y, ny - 1)  # clamp the +90 pole into the top row
    return x, y


def pack_cell(res, y, x):
    """Pack (res, y, x) into an int64 cell id."""
    return (
        (np.asarray(res, dtype=np.int64) << _RES_SHIFT)
        | (np.asarray(y, dtype=np.int64) << _Y_SHIFT)
        | np.asarray(x, dtype=np.int64)
    )


def cell_id(lat_e4, lon_e4, res: int):
    x, y = cell_xy(lat_e4, lon_e4, res)
    return pack_cell(res, y, x)


def unpack_cell(cell):
    """cell id -> (res, y, x) arrays."""
    c = np.asarray(cell, dtype=np.int64)
    return c >> _RES_SHIFT, (c >> _Y_SHIFT) & _XY_MASK, c & _XY_MASK


def cell_parent(cell, parent_res: int):
    """Coarsen a cell to an ancestor resolution (child x,y >> dr)."""
    res, y, x = unpack_cell(cell)
    dr = res - parent_res
    if np.any(dr < 0):
        raise ValueError("parent_res must be <= cell resolution")
    return pack_cell(parent_res, y >> dr, x >> dr)


def cell_center_e4(cell):
    """Centroid of a cell in e4 fixed point (float64 midpoint, exact *2)."""
    res, y, x = unpack_cell(cell)
    nx = 2.0 ** (res + 1)
    ny = 2.0**res
    lon = (x + 0.5) / nx * (2 * LON_MAX_E4) - LON_MAX_E4
    lat = (y + 0.5) / ny * (2 * LAT_MAX_E4) - LAT_MAX_E4
    return lat, lon


def _ceil_div(a, b):
    return -((-a) // b)


def cell_bounds_e4(cell):
    """(lat_lo, lat_hi, lon_lo, lon_hi) exact integer e4 bounds.

    Half-open on integers: an integer coord p is in cell x iff
    lo <= p < hi, which for the flooring assignment rule means the
    bounds are CEILING divisions of the fractional cell edges.
    """
    res, y, x = unpack_cell(cell)
    nx = np.int64(1) << (res + 1)
    ny = np.int64(1) << res
    lon_lo = _ceil_div(x * (2 * LON_MAX_E4), nx) - LON_MAX_E4
    lon_hi = _ceil_div((x + 1) * (2 * LON_MAX_E4), nx) - LON_MAX_E4
    lat_lo = _ceil_div(y * (2 * LAT_MAX_E4), ny) - LAT_MAX_E4
    lat_hi = _ceil_div((y + 1) * (2 * LAT_MAX_E4), ny) - LAT_MAX_E4
    return lat_lo, lat_hi, lon_lo, lon_hi


# ---------------------------------------------------------------------------
# k-ring neighborhoods
# ---------------------------------------------------------------------------

def kring(cell, k: int):
    """All cells within Chebyshev distance k (the (2k+1)^2 block).

    Longitude wraps (mod nx); latitude rows beyond the poles are
    dropped. Returns a 2-D int64 array (n_cells, <= (2k+1)**2) padded
    with -1 where a neighbor fell off the pole — callers filter >= 0.
    Mirrors H3's k_ring contract: includes the origin cell.
    """
    c = np.asarray(cell, dtype=np.int64).ravel()
    res, y, x = unpack_cell(c)
    nx = (np.int64(1) << (res + 1))[:, None]
    ny = (np.int64(1) << res)[:, None]
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dy, dx = np.meshgrid(offs, offs, indexing="ij")
    dy = dy.ravel()[None, :]
    dx = dx.ravel()[None, :]
    yy = y[:, None] + dy
    xx = np.remainder(x[:, None] + dx, nx)
    valid = (yy >= 0) & (yy < ny)
    out = pack_cell(np.broadcast_to(res[:, None], yy.shape), np.where(valid, yy, 0), xx)
    return np.where(valid, out, -1)


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------

def dist2_e4(lat1, lon1, lat2, lon2):
    """Exact integer squared planar distance in e4 units.

    Used for kNN ordering: deterministic across engines (no floats).
    Max |dlat| 1.8e6, |dlon| 3.6e6 -> dist2 <= 1.6e13, safely int64.
    """
    dlat = np.asarray(lat1, np.int64) - np.asarray(lat2, np.int64)
    dlon = np.asarray(lon1, np.int64) - np.asarray(lon2, np.int64)
    return dlat * dlat + dlon * dlon


# ---------------------------------------------------------------------------
# polygons: ray-cast PIP + covering cells ("polyfill")
# ---------------------------------------------------------------------------

def point_in_polygon(lat_e4, lon_e4, poly_lat_e4, poly_lon_e4):
    """Vectorized even-odd ray cast of n points against ONE polygon.

    Boundary rule (documented, deterministic): a point exactly on an
    edge follows the half-open crossing rule below — identical in the
    engine and every oracle, so parity holds. Polygon is a closed or
    open ring (closure is implied); integer e4 coords; the crossing
    test is done in int64/float64 with exact integer comparisons on
    the y-straddle test, so results are reproducible.
    """
    px = np.asarray(lon_e4, np.int64)
    py = np.asarray(lat_e4, np.int64)
    vx = np.asarray(poly_lon_e4, np.int64)
    vy = np.asarray(poly_lat_e4, np.int64)
    if vx[0] == vx[-1] and vy[0] == vy[-1] and len(vx) > 1:
        vx, vy = vx[:-1], vy[:-1]
    n = len(vx)
    inside = np.zeros(px.shape, dtype=bool)
    j = n - 1
    for i in range(n):  # loop over polygon vertices (small), not points
        yi, yj = vy[i], vy[j]
        xi, xj = vx[i], vx[j]
        straddles = (yi > py) != (yj > py)
        if np.any(straddles):
            # exact rational comparison: px < xi + (py-yi)*(xj-xi)/(yj-yi)
            lhs = (px - xi).astype(np.float64) * (yj - yi)
            rhs = (py - yi).astype(np.float64) * (xj - xi)
            cross = np.where((yj - yi) > 0, lhs < rhs, lhs > rhs)
            inside ^= straddles & cross
        j = i
    return inside


def polygon_bbox_e4(poly_lat_e4, poly_lon_e4):
    vy = np.asarray(poly_lat_e4, np.int64)
    vx = np.asarray(poly_lon_e4, np.int64)
    return int(vy.min()), int(vy.max()), int(vx.min()), int(vx.max())


def _segment_intersects_rect(x1, y1, x2, y2, lo_x, hi_x, lo_y, hi_y):
    """Liang-Barsky clip test, vectorized over (edges, cells).

    x1..y2: (n_edges, 1) segment endpoints; lo/hi: (1, n_cells) closed
    rect bounds. Returns bool (n_edges, n_cells). Closed-rect test —
    conservatively counts touching edges as intersecting, which only
    routes a few extra boundary cells to the exact refine.
    """
    x1 = x1.astype(np.float64); y1 = y1.astype(np.float64)
    dx = x2.astype(np.float64) - x1
    dy = y2.astype(np.float64) - y1
    t0 = np.zeros(np.broadcast_shapes(x1.shape, lo_x.shape))
    t1 = np.ones_like(t0)
    ok = np.ones(t0.shape, dtype=bool)
    for p, q in (
        (-dx, x1 - lo_x),
        (dx, hi_x - x1),
        (-dy, y1 - lo_y),
        (dy, hi_y - y1),
    ):
        p = np.broadcast_to(p, t0.shape)
        q = np.broadcast_to(q, t0.shape)
        par = p == 0
        ok &= ~(par & (q < 0))  # parallel and fully outside this side
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(par, 0.0, q / np.where(par, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, t), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, t), t1)
    return ok & (t0 <= t1)


def polyfill_classified(poly_lat_e4, poly_lon_e4, res: int):
    """True polyfill with interior/boundary classification.

    Returns (cells, full) where `full[i]` is True iff cell i lies
    entirely inside the polygon: no polygon edge intersects the cell
    rectangle AND the cell center is inside (continuity then puts the
    whole rectangle inside). Cells with no edge crossing and center
    outside are wholly outside and are DROPPED from the cover.

    This is the 100 TB join plan: interior ("full") candidate pairs
    bypass the exact ray cast entirely — only boundary cells pay it,
    so the exact work scales with polygon perimeter, not area.
    """
    _check_res(res)
    vy = np.asarray(poly_lat_e4, np.int64)
    vx = np.asarray(poly_lon_e4, np.int64)
    if vx[0] == vx[-1] and vy[0] == vy[-1] and len(vx) > 1:
        vx, vy = vx[:-1], vy[:-1]
    cand = polyfill(vy, vx, res)
    lat_lo, lat_hi, lon_lo, lon_hi = cell_bounds_e4(cand)
    # closed-rect bounds: the half-open integer hi edge is hi - 1
    lo_x = lon_lo[None, :].astype(np.float64)
    hi_x = (lon_hi - 1)[None, :].astype(np.float64)
    lo_y = lat_lo[None, :].astype(np.float64)
    hi_y = (lat_hi - 1)[None, :].astype(np.float64)
    x1 = vx[:, None]; y1 = vy[:, None]
    x2 = np.roll(vx, -1)[:, None]; y2 = np.roll(vy, -1)[:, None]
    crossed = _segment_intersects_rect(x1, y1, x2, y2, lo_x, hi_x, lo_y, hi_y).any(
        axis=0
    )
    c_lat, c_lon = cell_center_e4(cand)
    center_in = point_in_polygon(
        c_lat.astype(np.int64), c_lon.astype(np.int64), vy, vx
    )
    keep = crossed | center_in
    full = center_in & ~crossed
    return cand[keep], full[keep]


def polyfill(poly_lat_e4, poly_lon_e4, res: int) -> np.ndarray:
    """Covering cells of a polygon at `res` (H3 polyfill analog).

    Conservative cover: every grid cell whose bbox intersects the
    polygon bbox AND (center inside OR any polygon vertex inside the
    cell OR the cell is crossed by an edge, approximated by sampling
    edge midpoints at cell granularity). Guaranteed superset of the
    cells containing any polygon point when used for join bucketing —
    candidates are exactness-refined by `point_in_polygon` afterwards,
    so over-covering only costs a few extra candidate pairs.
    """
    _check_res(res)
    lat_lo, lat_hi, lon_lo, lon_hi = polygon_bbox_e4(poly_lat_e4, poly_lon_e4)
    # a seam-split ring may have vertices exactly at +180 (see
    # split_antimeridian); clamp the bbox corner so cell_xy doesn't
    # wrap it to column 0 and empty the cover
    lon_hi = min(lon_hi, LON_MAX_E4 - 1)
    x_lo, y_lo = cell_xy(np.int64(lat_lo), np.int64(lon_lo), res)
    x_hi, y_hi = cell_xy(np.int64(lat_hi), np.int64(lon_hi), res)
    xs = np.arange(int(x_lo), int(x_hi) + 1, dtype=np.int64)
    ys = np.arange(int(y_lo), int(y_hi) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack_cell(np.full(gx.size, res, dtype=np.int64), gy.ravel(), gx.ravel())


def split_antimeridian(poly_lat_e4, poly_lon_e4):
    """Split a ring that crosses the antimeridian into seam-free rings.

    Longitudes are unwrapped edge-by-edge (each step takes the short
    way around), then the unwrapped ring is clipped to each 360-degree
    band it touches (Sutherland–Hodgman against the band's two
    meridians) and shifted back into [-180, 180). Rings that never
    leave the band are returned unchanged. Seam-interpolated vertices
    are rounded to the e4 grid (≤ 1 unit drift along the seam only).

    Returns a list of (lat_e4, lon_e4) int64 array pairs (open rings),
    empty for a ring with no vertices.
    """
    vy = np.asarray(poly_lat_e4, np.int64)
    vx = np.asarray(poly_lon_e4, np.int64)
    if not len(vx):
        return []
    if len(vx) > 1 and vx[0] == vx[-1] and vy[0] == vy[-1]:
        vx, vy = vx[:-1], vy[:-1]
    world = 2 * LON_MAX_E4
    # unwrap: consecutive steps take the short way
    d = np.diff(vx.astype(np.float64))
    d -= np.round(d / world) * world
    ux = np.concatenate([[float(vx[0])], float(vx[0]) + np.cumsum(d)])
    if ux.min() >= -LON_MAX_E4 and ux.max() < LON_MAX_E4:
        return [(vy.copy(), vx.copy())]

    def clip_halfplane(pts, keep):
        """Sutherland–Hodgman against one half-plane. pts: list of
        (x, y) float; keep(x) -> bool; edge crossings interpolated."""
        out = []
        n = len(pts)
        for i in range(n):
            cur, prev = pts[i], pts[i - 1]
            cin, pin = keep(cur[0]), keep(prev[0])
            if cin != pin:
                # boundary value of x where keep flips is supplied by
                # the caller through keep.boundary
                bx = keep.boundary
                t = (bx - prev[0]) / (cur[0] - prev[0])
                out.append((bx, prev[1] + t * (cur[1] - prev[1])))
            if cin:
                out.append(cur)
        return out

    bands = range(
        int(np.floor((ux.min() + LON_MAX_E4) / world)),
        int(np.floor((ux.max() + LON_MAX_E4) / world)) + 1,
    )
    pts0 = list(zip(ux.tolist(), vy.astype(np.float64).tolist()))
    rings = []
    for k in bands:
        lo, hi = k * world - LON_MAX_E4, k * world + LON_MAX_E4

        def keep_lo(x, _lo=lo):
            return x >= _lo

        keep_lo.boundary = float(lo)

        def keep_hi(x, _hi=hi):
            return x <= _hi

        keep_hi.boundary = float(hi)

        clipped = clip_halfplane(clip_halfplane(pts0, keep_lo), keep_hi)
        if len(clipped) < 3:
            continue
        cx = np.array([p[0] for p in clipped]) - k * world
        cy = np.array([p[1] for p in clipped])
        # vertices ON the +180 meridian stay at +LON_MAX: geometry is
        # plain integer space (no wrap); no POINT has lon == +LON_MAX
        # (points live in [-LON_MAX, LON_MAX)), so coverage is intact
        rings.append(
            (np.rint(cy).astype(np.int64), np.rint(cx).astype(np.int64))
        )
    return rings


# ---------------------------------------------------------------------------
# deterministic point derivation (shared Spark/DuckDB formula)
# ---------------------------------------------------------------------------

HASH_MOD = 100_000_007
HASH_MUL_LAT = 2_654_435_761
HASH_MUL_LON = 40_503
HASH_ADD_LON = 98_764_321
HASH_MOD_LON = 1_000_000_007


def point_from_id(ids):
    """Deterministic pseudo-random point for an int id.

    Pure modular arithmetic — identical formula is emitted as Spark
    Column math and DuckDB SQL (see functions.cells.point_exprs /
    point_sql), so the three engines agree bit-for-bit. Intermediate
    products stay < 2**63 (FIXTURES.md §5 contract).
    """
    i = np.remainder(np.asarray(ids, dtype=np.int64), HASH_MOD)
    lat = np.remainder(i * HASH_MUL_LAT, 2 * LAT_MAX_E4) - LAT_MAX_E4
    lon = (
        np.remainder(np.remainder(i * HASH_MUL_LON + HASH_ADD_LON, HASH_MOD_LON), 2 * LON_MAX_E4)
        - LON_MAX_E4
    )
    return lat, lon
