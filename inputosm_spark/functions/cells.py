"""Grid-cell functions in two synchronized dialects.

1. **Spark Column expressions** (`*_expr`) — pure integer Catalyst
   expressions, whole-stage-codegen'd; this is the hot path for cell
   assignment at 100 TB (no Python at all).
2. **ANSI SQL strings** (`*_sql`) — the *same* formulas for the DuckDB
   correctness oracle.

Each dialect states the packed-cell layout once: `pack_expr` /
`unpack_expr` and `pack_sql` (bit layout), `cell_x_expr` /
`cell_y_expr` and `cell_xy_sql` (x/y quantization). Every other cell
formula here, in `operators.spatial` and in the catalog oracles builds
on them. `make_cell_id_udf` is the Arrow pandas-UDF twin that the
parity test checks the expression path against.

Both implement the identical integer math in `inputosm_spark.geo`,
whose numpy `pack_cell` / `unpack_cell` are the reference.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from inputosm_spark import geo

# ---------------------------------------------------------------------------
# Column expressions (Catalyst / codegen path)
# ---------------------------------------------------------------------------


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def cell_x_expr(lon_e4: Column | str, res: int) -> Column:
    nx = 2 ** (res + 1)
    x = F.floor(
        ((_col(lon_e4) + F.lit(geo.LON_MAX_E4)) * F.lit(nx)) / F.lit(2 * geo.LON_MAX_E4)
    )
    return F.pmod(x, F.lit(nx)).cast("long")


def cell_y_expr(lat_e4: Column | str, res: int) -> Column:
    ny = 2**res
    y = F.floor(
        ((_col(lat_e4) + F.lit(geo.LAT_MAX_E4)) * F.lit(ny)) / F.lit(2 * geo.LAT_MAX_E4)
    )
    return F.least(y, F.lit(ny - 1)).cast("long")


def pack_expr(res: int, y: Column, x: Column) -> Column:
    """Packed (res, y, x) cell id — geo.pack_cell."""
    return (
        F.lit(res).cast("long") * F.lit(1 << geo._RES_SHIFT)
        + y * F.lit(1 << geo._Y_SHIFT)
        + x
    ).cast("long")


def unpack_expr(cell: Column | str) -> tuple[Column, Column]:
    """(y, x) Columns of a packed cell id — geo.unpack_cell[1:]."""
    c = _col(cell)
    return (
        F.shiftright(c, geo._Y_SHIFT).bitwiseAND(F.lit(geo._XY_MASK)),
        c.bitwiseAND(F.lit(geo._XY_MASK)),
    )


def cell_id_expr(lat_e4: Column | str, lon_e4: Column | str, res: int) -> Column:
    """Packed cell id — mirrors geo.cell_id exactly."""
    return pack_expr(res, cell_y_expr(lat_e4, res), cell_x_expr(lon_e4, res))


def point_exprs(id_col: Column | str) -> tuple[Column, Column]:
    """(lat_e4, lon_e4) Columns from an integer id — geo.point_from_id."""
    i = F.pmod(_col(id_col).cast("long"), F.lit(geo.HASH_MOD))
    lat = F.pmod(i * F.lit(geo.HASH_MUL_LAT), F.lit(2 * geo.LAT_MAX_E4)) - F.lit(
        geo.LAT_MAX_E4
    )
    lon = F.pmod(
        F.pmod(i * F.lit(geo.HASH_MUL_LON) + F.lit(geo.HASH_ADD_LON), F.lit(geo.HASH_MOD_LON)),
        F.lit(2 * geo.LON_MAX_E4),
    ) - F.lit(geo.LON_MAX_E4)
    return lat.cast("long").alias("lat_e4"), lon.cast("long").alias("lon_e4")


def kring_expr(lat_e4: Column | str, lon_e4: Column | str, res: int, k: int = 1) -> Column:
    """Array of (2k+1)^2 neighbor cell ids (lon wraps, pole rows dropped).

    Pure Catalyst: builds the offset grid with `sequence` + `transform`
    + `flatten`, filters pole fall-off with `filter`. No Python.
    """
    nx, ny = 2 ** (res + 1), 2**res
    x = cell_x_expr(lon_e4, res)
    y = cell_y_expr(lat_e4, res)
    offs = F.sequence(F.lit(-k), F.lit(k))
    pairs = F.flatten(
        F.transform(offs, lambda dy: F.transform(offs, lambda dx: F.struct(dy.alias("dy"), dx.alias("dx"))))
    )
    valid = F.filter(pairs, lambda p: ((y + p.dy) >= 0) & ((y + p.dy) < ny))
    return F.transform(
        valid, lambda p: pack_expr(res, y + p.dy, F.pmod(x + p.dx, F.lit(nx)))
    )


def morton_expr(lat_e4: Column | str, lon_e4: Column | str,
                res: int) -> Column:
    """Z-order (Morton) code: bit-interleave of the res-grid (x, y) —
    the layout-clustering key that keeps spatially near cells near in
    FILE order, so parquet min/max stats prune 2-D regions from a 1-D
    sort. Pure integer Catalyst expression (res+1 x-bits interleaved
    with res y-bits, unrolled at plan-build time — no UDF, no loop at
    runtime)."""
    x = cell_x_expr(lon_e4, res)
    y = cell_y_expr(lat_e4, res)
    code: Column = F.lit(0).cast("long")
    for i in range(res + 1):
        code = code + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i
        )
        if i < res:
            code = code + F.shiftleft(
                F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
    return code.cast("long")


def morton_sql(lat_sql: str, lon_sql: str, res: int) -> str:
    """The same interleave, unrolled in ANSI SQL for the oracle."""
    x, y = cell_xy_sql(lat_sql, lon_sql, res)
    terms = []
    for i in range(res + 1):
        terms.append(f"((({x}) // {1 << i}) % 2) * {1 << (2 * i)}")
        if i < res:
            terms.append(f"((({y}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_quant(v: Column, vmax_e4: int, bits: int) -> Column:
    """floor((v + vmax) * 2^bits / (2*vmax)), clamped to the top bin —
    binary-subdivision geohash quantization on e4 fixed-point ints.
    Products stay < 2^41 and double division cannot cross an integer
    boundary at these magnitudes, so Spark's double-floor equals the
    oracle's integer floor-div exactly."""
    q = F.floor((v + F.lit(vmax_e4)) * F.lit(1 << bits) / F.lit(2 * vmax_e4))
    return F.least(q, F.lit((1 << bits) - 1)).cast("long")


def geohash_expr(lat_e4: Column | str, lon_e4: Column | str,
                 precision: int = 6) -> Column:
    """Standard base32 geohash string of an e4 fixed-point point —
    pure integer Catalyst (quantize, MSB-first bit interleave with
    longitude on even positions, 5-bit base32 chars), unrolled at
    plan-build time like morton_expr. `precision` must be even so lat
    and lon carry equal bits (6 chars ~ +-0.6 km)."""
    if precision % 2 != 0:
        raise ValueError("geohash precision must be even")
    half = 5 * precision // 2
    lonq = _gh_quant(_col(lon_e4), geo.LON_MAX_E4, half)
    latq = _gh_quant(_col(lat_e4), geo.LAT_MAX_E4, half)
    total = 5 * precision
    code: Column = F.lit(0).cast("long")
    for j in range(half):
        code = code + F.shiftleft(
            F.shiftright(lonq, half - 1 - j).bitwiseAND(F.lit(1)),
            total - 1 - 2 * j,
        )
        code = code + F.shiftleft(
            F.shiftright(latq, half - 1 - j).bitwiseAND(F.lit(1)),
            total - 2 - 2 * j,
        )
    chars = [
        F.substring(
            F.lit(_GH32),
            (
                F.shiftright(code, total - 5 * (c + 1)).bitwiseAND(F.lit(31))
                + 1
            ).cast("int"),
            1,
        )
        for c in range(precision)
    ]
    return F.concat(*chars)


def geohash_code_sql(lat_sql: str, lon_sql: str, precision: int = 6) -> str:
    """The interleaved integer CODE as an ANSI fragment (oracle twin of
    geohash_expr's internals); wrap it in a CTE column and emit chars
    with geohash_chars_sql."""
    if precision % 2 != 0:
        raise ValueError("geohash precision must be even")
    half = 5 * precision // 2
    total = 5 * precision
    lonq = (
        f"least((({lon_sql}) + {geo.LON_MAX_E4}) * {1 << half}"
        f" // {2 * geo.LON_MAX_E4}, {(1 << half) - 1})"
    )
    latq = (
        f"least((({lat_sql}) + {geo.LAT_MAX_E4}) * {1 << half}"
        f" // {2 * geo.LAT_MAX_E4}, {(1 << half) - 1})"
    )
    terms = []
    for j in range(half):
        terms.append(
            f"((({lonq}) // {1 << (half - 1 - j)}) % 2)"
            f" * {1 << (total - 1 - 2 * j)}"
        )
        terms.append(
            f"((({latq}) // {1 << (half - 1 - j)}) % 2)"
            f" * {1 << (total - 2 - 2 * j)}"
        )
    return "(" + " + ".join(terms) + ")"


def geohash_chars_sql(code_col: str, precision: int = 6) -> str:
    """concat of base32 chars from an integer code column."""
    total = 5 * precision
    parts = [
        f"substr('{_GH32}', CAST((({code_col}) // {1 << (total - 5 * (c + 1))})"
        f" % 32 + 1 AS INT), 1)"
        for c in range(precision)
    ]
    return " || ".join(parts)


def dist2_expr(lat1, lon1, lat2, lon2) -> Column:
    dlat = _col(lat1) - _col(lat2)
    dlon = _col(lon1) - _col(lon2)
    return (dlat * dlat + dlon * dlon).cast("long")


# ---------------------------------------------------------------------------
# SQL dialect (DuckDB oracle) — same math as the expressions above
# ---------------------------------------------------------------------------


def point_sql(id_expr: str) -> tuple[str, str]:
    """(lat_e4, lon_e4) SQL fragments for DuckDB — geo.point_from_id."""
    i = f"(({id_expr}) % {geo.HASH_MOD})"
    lat = f"(({i} * {geo.HASH_MUL_LAT}) % {2 * geo.LAT_MAX_E4} - {geo.LAT_MAX_E4})"
    lon = (
        f"((({i} * {geo.HASH_MUL_LON} + {geo.HASH_ADD_LON}) % {geo.HASH_MOD_LON})"
        f" % {2 * geo.LON_MAX_E4} - {geo.LON_MAX_E4})"
    )
    return lat, lon


def pack_sql(res: int, y: str, x: str) -> str:
    """Packed (res, y, x) cell id as an ANSI fragment — geo.pack_cell."""
    return f"({res} * {1 << geo._RES_SHIFT} + {y} * {1 << geo._Y_SHIFT} + {x})"


def cell_xy_sql(lat_sql: str, lon_sql: str, res: int) -> tuple[str, str]:
    nx, ny = 2 ** (res + 1), 2**res
    x = f"(((({lon_sql}) + {geo.LON_MAX_E4}) * {nx}) // {2 * geo.LON_MAX_E4} % {nx})"
    y = f"least(((({lat_sql}) + {geo.LAT_MAX_E4}) * {ny}) // {2 * geo.LAT_MAX_E4}, {ny - 1})"
    return x, y


def cell_id_sql(lat_sql: str, lon_sql: str, res: int) -> str:
    x, y = cell_xy_sql(lat_sql, lon_sql, res)
    return pack_sql(res, y, x)


# ---------------------------------------------------------------------------
# Arrow pandas UDF (parity twin of cell_id_expr)
# ---------------------------------------------------------------------------


def make_cell_id_udf(res: int):
    """pandas UDF: (lat_e4, lon_e4) -> cell id. numpy inside, Arrow I/O."""

    @F.pandas_udf(LongType())
    def _cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(geo.cell_id(lat.to_numpy(), lon.to_numpy(), res))

    return _cell

