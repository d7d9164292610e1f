"""Hierarchical lat/lng grid tiler — the engine's H3-equivalent tiling.

The north rule requires an "H3/S2 index". S2 is implemented natively
(geo/s2.py). For the H3 role this module provides a multi-resolution
rectangular grid with the same API shape as the public `h3` package
(latlng_to_cell / cell_to_parent / grid_disk / grid_ring /
cell_to_boundary), deterministic, and — crucially — every function
here is expressible in ANSI SQL floor arithmetic, which gives the
driver's DuckDB oracle an exact independent check (FIXTURES.md §6).

Cell id layout (int64): res * 2^52 + x * 2^26 + y, with
x = floor((lng+180)/w), w = 360/2^res (wrapped), and
y = floor((lat+90)/h), h = 180/2^res (clamped). res <= 26.
"""

from __future__ import annotations

import numpy as np

RES_MULT = 1 << 52
X_MULT = 1 << 26
MAX_RES = 26
DEFAULT_RES = 7


def cell_width(res: int) -> float:
    return 360.0 / (1 << res)


def cell_height(res: int) -> float:
    return 180.0 / (1 << res)


def latlng_to_cell(lat, lng, res: int):
    """Vectorized lat/lng -> grid cell id (int64 ndarray)."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = np.int64(1 << res)
    x = np.floor((lng + 180.0) / cell_width(res)).astype(np.int64) % n
    y = np.clip(np.floor((lat + 90.0) / cell_height(res)).astype(np.int64), 0, n - 1)
    return np.int64(res) * np.int64(RES_MULT) + x * np.int64(X_MULT) + y


def cell_res(cell):
    return (np.asarray(cell, dtype=np.int64) // RES_MULT).astype(np.int64)


def cell_xy(cell):
    cell = np.asarray(cell, dtype=np.int64)
    rem = cell % RES_MULT
    return rem // X_MULT, rem % X_MULT


def cell_to_parent(cell, parent_res: int):
    """Vectorized parent at a coarser resolution."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res(cell)
    x, y = cell_xy(cell)
    shift = res - parent_res
    return (
        np.int64(parent_res) * np.int64(RES_MULT)
        + (x >> shift) * np.int64(X_MULT)
        + (y >> shift)
    )


def grid_disk(cell: int, k: int):
    """All cells within Chebyshev distance k (lng wraps, lat clamps).
    Scalar cell -> sorted list of int64 ids; the kNN ring-expansion
    primitive (SURVEY.md §2.3 kNN join)."""
    cell = int(cell)
    res = cell // RES_MULT
    rem = cell % RES_MULT
    x, y = rem // X_MULT, rem % X_MULT
    n = 1 << res
    out = set()
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            yy = y + dy
            if yy < 0 or yy >= n:
                continue
            xx = (x + dx) % n
            out.add(res * RES_MULT + xx * X_MULT + yy)
    return sorted(out)


def grid_ring(cell: int, k: int):
    """Cells at exactly Chebyshev distance k."""
    if k == 0:
        return [int(cell)]
    inner = set(grid_disk(cell, k - 1))
    return sorted(set(grid_disk(cell, k)) - inner)


def cell_bounds(cell):
    """Vectorized (lng0, lat0, lng1, lat1) of each cell."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res(cell)
    x, y = cell_xy(cell)
    w = 360.0 / np.power(2.0, res)
    h = 180.0 / np.power(2.0, res)
    lng0 = -180.0 + x * w
    lat0 = -90.0 + y * h
    return lng0, lat0, lng0 + w, lat0 + h


def cell_to_boundary(cell: int):
    """Closed 5-point ring [[lng,lat],...] (first == last), CCW,
    mirroring the reference's cell->GeoJSON raster->vector primitive
    (server/debug/web.go:47-77)."""
    lng0, lat0, lng1, lat1 = (float(a[0]) for a in cell_bounds(np.array([cell])))
    return [[lng0, lat0], [lng1, lat0], [lng1, lat1], [lng0, lat1], [lng0, lat0]]


def sql_cell_expr(lat_expr: str, lng_expr: str, res: int) -> str:
    """ANSI-SQL (DuckDB-compatible) expression computing the same cell id
    — the single source of truth for oracle SQL generation."""
    n = 1 << res
    w = f"(360.0 / {n})"
    h = f"(180.0 / {n})"
    x = f"(CAST(FLOOR(({lng_expr} + 180.0) / {w}) AS BIGINT) % {n} + {n}) % {n}"
    y = f"LEAST(GREATEST(CAST(FLOOR(({lat_expr} + 90.0) / {h}) AS BIGINT), 0), {n - 1})"
    return f"(CAST({res} AS BIGINT) * {RES_MULT} + ({x}) * {X_MULT} + ({y}))"
