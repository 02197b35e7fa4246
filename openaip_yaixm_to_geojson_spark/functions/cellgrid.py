"""Deterministic hierarchical spatial cell grid (H3/S2-style API).

Neither `h3` nor `s2` is available in this environment, so the engine ships
its own hierarchical lat/lon grid with the same API shape: `encode`,
`cover`, `disk`, `parent`. Resolution r has square cells of
``360 / 2^r`` degrees; a cell id packs ``(res, y, x)`` into one BIGINT:

    id = ((res * 2^29) + y) * 2^29 + x        (fits int64 for res <= 26)

Every operation is plain arithmetic on doubles/ints, so the exact same
expression evaluates bit-identically in Spark SQL, DuckDB SQL, and NumPy —
that is what lets the DuckDB oracle reproduce the engine's cell
assignments exactly.

Design note (100 TB posture): cell ids are uniformly hashed by Spark's
HashPartitioner, res 7-9 gives ~0.7-2.8 degree cells for the polygon
cover, and point encode is a codegen'd column expression (no UDF on the
fact table).

Known limitation (documented, matching the reference's domain): polygons
that cross the antimeridian are not supported — their lon bbox spans the
whole world, so `cover` degenerates (the reference converts UK airspace
and never encounters this; a wrap-aware cover would split the ring at
+-180 first). Points at exactly lat=90 / lon=180 fold into the next cell
index — harmless for uniqueness, but a polygon cover touching the exact
top edge should use closed-top bounds.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .geodesy import points_in_ring_winding

_SHIFT = 1 << 29  # 536870912

# A point's cell comes from rounding (lon + 180) / size, so a point within
# ~1e-13 deg of a cell's west or south bound can land in that cell while
# lying just outside its exact rectangle. `cover` therefore widens its bbox
# range and every cell rectangle by this pad (operators/spatial.py widens
# its band-edge tests by the same pad, for the same reason).
EDGE_PAD_DEG = 1e-9


def cell_size_deg(res: int) -> float:
    return 360.0 / float(1 << res)


def encode(lon: float, lat: float, res: int) -> int:
    size = cell_size_deg(res)
    x = int(math.floor((lon + 180.0) / size))
    y = int(math.floor((lat + 90.0) / size))
    return (res * _SHIFT + y) * _SHIFT + x


def encode_np(lons: np.ndarray, lats: np.ndarray, res: int) -> np.ndarray:
    size = cell_size_deg(res)
    x = np.floor((np.asarray(lons) + 180.0) / size).astype(np.int64)
    y = np.floor((np.asarray(lats) + 90.0) / size).astype(np.int64)
    return (res * _SHIFT + y) * _SHIFT + x


def decode(cell: int) -> tuple[int, int, int]:
    """cell id -> (res, x, y)."""
    x = cell % _SHIFT
    rest = cell // _SHIFT
    y = rest % _SHIFT
    res = rest // _SHIFT
    return int(res), int(x), int(y)


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a cell."""
    res, x, y = decode(cell)
    size = cell_size_deg(res)
    min_lon = x * size - 180.0
    min_lat = y * size - 90.0
    return min_lon, min_lat, min_lon + size, min_lat + size


def parent(cell: int) -> int:
    res, x, y = decode(cell)
    if res == 0:
        raise ValueError("res-0 cell has no parent")
    return ((res - 1) * _SHIFT + (y >> 1)) * _SHIFT + (x >> 1)


def disk(cell: int, k: int) -> list[int]:
    """All cells within grid-distance k (the (2k+1)^2 block)."""
    res, x, y = decode(cell)
    return [
        (res * _SHIFT + (y + dy)) * _SHIFT + (x + dx)
        for dy in range(-k, k + 1)
        for dx in range(-k, k + 1)
    ]


def _rect_intersects_ring(bounds: tuple[float, float, float, float], ring_xy: np.ndarray) -> bool:
    """Exact cell-rectangle vs polygon intersection (sound + tight)."""
    min_lon, min_lat, max_lon, max_lat = bounds
    # any polygon vertex inside the rectangle?
    inside = (
        (ring_xy[:, 0] >= min_lon)
        & (ring_xy[:, 0] <= max_lon)
        & (ring_xy[:, 1] >= min_lat)
        & (ring_xy[:, 1] <= max_lat)
    )
    if inside.any():
        return True
    # any rectangle corner inside the polygon?
    corners_x = np.array([min_lon, max_lon, max_lon, min_lon])
    corners_y = np.array([min_lat, min_lat, max_lat, max_lat])
    if points_in_ring_winding(corners_x, corners_y, ring_xy).any():
        return True
    # any edge crossing? segment-vs-rectangle-side test, vectorized over edges
    ex1, ey1 = ring_xy[:-1, 0], ring_xy[:-1, 1]
    ex2, ey2 = ring_xy[1:, 0], ring_xy[1:, 1]
    sides = [
        (min_lon, min_lat, max_lon, min_lat),
        (max_lon, min_lat, max_lon, max_lat),
        (max_lon, max_lat, min_lon, max_lat),
        (min_lon, max_lat, min_lon, min_lat),
    ]
    for sx1, sy1, sx2, sy2 in sides:
        d1x, d1y = ex2 - ex1, ey2 - ey1
        d2x, d2y = sx2 - sx1, sy2 - sy1
        denom = d1x * d2y - d1y * d2x
        # over=: subnormal denom can overflow the divide to +-inf — an
        # intended sentinel (inf/nan fail the [0,1] interval tests), not a
        # numerical bug.
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = ((sx1 - ex1) * d2y - (sy1 - ey1) * d2x) / denom
            u = ((sx1 - ex1) * d1y - (sy1 - ey1) * d1x) / denom
        hit = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
        if hit.any():
            return True
    return False


def cover(ring_xy: np.ndarray, res: int) -> list[int]:
    """Cell cover of a polygon ring: every res-r cell whose rectangle,
    widened by EDGE_PAD_DEG, intersects the polygon (sound — a point inside
    the polygon is always in one of these cells, whatever the rounding of
    its cell id; tight — bbox candidates are refined with an exact
    rectangle/polygon test)."""
    size = cell_size_deg(res)
    pad = EDGE_PAD_DEG
    min_x = int(math.floor((float(ring_xy[:, 0].min()) - pad + 180.0) / size))
    max_x = int(math.floor((float(ring_xy[:, 0].max()) + pad + 180.0) / size))
    min_y = int(math.floor((float(ring_xy[:, 1].min()) - pad + 90.0) / size))
    max_y = int(math.floor((float(ring_xy[:, 1].max()) + pad + 90.0) / size))
    cells = []
    for y in range(min_y, max_y + 1):
        for x in range(min_x, max_x + 1):
            bounds = (
                x * size - 180.0 - pad,
                y * size - 90.0 - pad,
                (x + 1) * size - 180.0 + pad,
                (y + 1) * size - 90.0 + pad,
            )
            if _rect_intersects_ring(bounds, ring_xy):
                cells.append((res * _SHIFT + y) * _SHIFT + x)
    return cells


# ---------------------------------------------------------------------------
# Column-expression / SQL builders (identical arithmetic on both engines)
# ---------------------------------------------------------------------------


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """Spark column: cell id of a point — pure arithmetic, codegen'd."""
    size = cell_size_deg(res)
    x = F.floor((lon + F.lit(180.0)) / F.lit(size)).cast("bigint")
    y = F.floor((lat + F.lit(90.0)) / F.lit(size)).cast("bigint")
    return (F.lit(res).cast("bigint") * F.lit(_SHIFT) + y) * F.lit(_SHIFT) + x


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The same cell id as ANSI SQL (DuckDB oracle side)."""
    size = repr(cell_size_deg(res))
    return (
        f"((CAST({res} AS BIGINT) * {_SHIFT} + "
        f"CAST(FLOOR(({lat_expr} + 90.0) / {size}) AS BIGINT)) * {_SHIFT} + "
        f"CAST(FLOOR(({lon_expr} + 180.0) / {size}) AS BIGINT))"
    )


def morton_terms(x_expr: str, y_expr: str, res: int, intdiv: str) -> str:
    """Z-order (Morton) bit interleave as dialect-shared integer
    arithmetic: bit i of x lands at position 2i, bit i of y at 2i+1 —
    expressed with integer division / modulo / multiply only, so the SAME
    formula (modulo the integer-division spelling: Spark `div`, DuckDB
    `//`) evaluates bit-identically in both engines on non-negative
    coordinates. 2*res terms, all codegen."""
    parts = []
    for i in range(res):
        parts.append(f"((({x_expr}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        parts.append(f"((({y_expr}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(parts)


def morton_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """NumPy twin of morton_terms (test reference)."""
    out = np.zeros(len(x), dtype=np.int64)
    for i in range(res):
        out += ((x >> i) & 1) << (2 * i)
        out += ((y >> i) & 1) << (2 * i + 1)
    return out
