"""Dual S2 cell covering (interior + exterior) of polygon rings.

This reimplements — from scratch, via conservative recursive cell
subdivision — the role of `s2.RegionCoverer.Covering` /
`.InteriorCovering` used by the reference (tools.go:112-131,
storage/bbolt/storage.go:345-359):

* **interior cover**: cells whose entire extent lies strictly inside
  the ring. A query point in such a cell is a definite hit with no
  exact PIP test (reference server/server.go:185-229).
* **exterior (full) cover**: cells whose union contains the whole
  ring. A point outside the exterior cover is a definite miss; a point
  in the exterior cover but not the interior cover is a candidate
  (reference server/server.go:233-284).

The exact cell *sets* differ from the Go RegionCoverer (different
search heuristics), but the semantic contract above — which is all the
join relies on — is preserved by construction and property-tested
against the exact PIP oracle on thousands of random points
(tests/test_cover.py). The interior/boundary split as a join-time
filter-refinement approximation follows the published "Raster
Intervals" idea (SIGMOD 2023, see PAPERS.md): precompute a raster
approximation whose fully-inside cells skip exact geometry. Classification is done in (lng,lat) space with
an inflated conservative bounding rect per cell, so a cell is only
called INSIDE/OUTSIDE when that holds with margin; anything borderline
is BOUNDARY and recursed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import pip, s2

INSIDE = 1
OUTSIDE = 2
BOUNDARY = 3

# matches the reference test coverers (index/treeindex/index_test.go:120-129)
DEFAULT_INTERIOR = (10, 16, 24)
DEFAULT_EXTERIOR = (10, 15, 16)


@dataclass(frozen=True)
class CoverParams:
    min_level: int = 10
    max_level: int = 16
    max_cells: int = 24


_FACE_CELLS = [np.uint64((f << 61) | (1 << 60)) for f in range(6)]

# per-edge sample count for the conservative latlng bbox of a cell
_EDGE_SAMPLES = 4


def normalize_cells(cells):
    """Sort, dedup, and drop cells contained in another cell of the set."""
    if not cells:
        return []
    arr = np.unique(np.array(cells, dtype=np.uint64))
    rmin = s2.range_min(arr)
    rmax = s2.range_max(arr)
    # ranges are nested or disjoint: sweep by (range_min asc, coarser first)
    order = np.lexsort((s2.level(arr), rmin))
    keep = []
    cur_max = None
    for k in order:
        if cur_max is not None and rmax[k] <= cur_max:
            continue  # contained in a previously kept cell
        keep.append(arr[k])
        cur_max = rmax[k]
    return [np.uint64(c) for c in sorted(keep)]


def _coarsen_covering(cells, min_level, max_cells):
    """Reduce a covering to <= max_cells by replacing the deepest cells
    with their parents (keeps the covering property, like the
    RegionCoverer's budget behavior)."""
    cells = normalize_cells(cells)
    while len(cells) > max_cells:
        arr = np.array(cells, dtype=np.uint64)
        levels = s2.level(arr)
        deepest = int(levels.max())
        if deepest <= min_level:
            break
        promote = arr[levels == deepest]
        keep = arr[levels != deepest]
        parents = s2.parent(promote, deepest - 1)
        cells = normalize_cells(list(keep) + list(parents))
    return cells


def _shrink_interior(cells, max_cells):
    """Reduce an interior cover to <= max_cells by dropping the smallest
    cells (dropping preserves the interior property)."""
    cells = normalize_cells(cells)
    if len(cells) <= max_cells:
        return cells
    arr = np.array(cells, dtype=np.uint64)
    levels = s2.level(arr)
    order = np.lexsort((arr, levels))  # coarsest (lowest level) first
    return [np.uint64(c) for c in arr[order][:max_cells]]


def _ring_cap(ring):
    """Conservative spherical cap (center xyz, max angular radius) of a
    ring — used as a level-independent quick reject that also works for
    polar / antimeridian cells where a lat/lng rect is meaningless."""
    x, y, z = s2.latlng_to_xyz(ring[:, 1], ring[:, 0])
    cx, cy, cz = x.mean(), y.mean(), z.mean()
    n = np.sqrt(cx * cx + cy * cy + cz * cz)
    cx, cy, cz = cx / n, cy / n, cz / n
    cosang = np.clip(x * cx + y * cy + z * cz, -1.0, 1.0)
    return (cx, cy, cz), float(np.arccos(cosang.min()))


def _cells_geo(cells):
    """Fused conservative geometry for N UNIQUE cells in ONE pass:
    (cap_cx, cap_cy, cap_cz, cap_rad, valid, lng0, lng1, lat0, lat1).
    Computes to_face_ij once (the profile's hot primitive) and shares
    the boundary samples between the rect and the cap."""
    cells = np.asarray(cells, dtype=np.uint64)
    n = len(cells)
    face, i, j, _ = s2.to_face_ij(cells)
    lvl = s2.level(cells)
    size = np.int64(1) << (s2.MAX_LEVEL - lvl)
    scale = 1.0 / (1 << s2.MAX_LEVEL)
    i0 = (i // size) * size
    j0 = (j // size) * size
    u0 = s2.st_to_uv(i0 * scale)
    u1 = s2.st_to_uv((i0 + size) * scale)
    v0 = s2.st_to_uv(j0 * scale)
    v1 = s2.st_to_uv((j0 + size) * scale)

    def _bounds(sel, ts, inflate):
        # boundary samples for the selected cells at the given per-edge
        # resolution; returns lng/lat box + cap over those samples
        su0, su1 = u0[sel], u1[sel]
        sv0, sv1 = v0[sel], v1[sel]
        us = su0[:, None] + (su1 - su0)[:, None] * ts[None, :]
        vs = sv0[:, None] + (sv1 - sv0)[:, None] * ts[None, :]
        cu1 = np.broadcast_to(su1[:, None], us.shape)
        cu0 = np.broadcast_to(su0[:, None], us.shape)
        cv0 = np.broadcast_to(sv0[:, None], vs.shape)
        cv1 = np.broadcast_to(sv1[:, None], vs.shape)
        bu = np.concatenate([us, cu1, us[:, ::-1], cu0], axis=1)
        bv = np.concatenate([cv0, vs, cv1, vs[:, ::-1]], axis=1)
        m = bu.shape[1]
        ns = bu.shape[0]
        bface = np.broadcast_to(face[sel][:, None], bu.shape)
        x, y, z = s2.face_uv_to_xyz(bface.ravel(), bu.ravel(), bv.ravel())
        nrm = np.sqrt(x * x + y * y + z * z)
        x, y, z = x / nrm, y / nrm, z / nrm
        lat, lng = s2.xyz_to_latlng(x, y, z)
        lat = lat.reshape(ns, m)
        lng = lng.reshape(ns, m)
        lng0, lng1 = lng.min(axis=1), lng.max(axis=1)
        lat0, lat1 = lat.min(axis=1), lat.max(axis=1)
        valid = (lng1 - lng0 <= 180.0) & (lat1 <= 89.9) & (lat0 >= -89.9)
        dl = (lng1 - lng0) * inflate + 1e-12
        dt = (lat1 - lat0) * inflate + 1e-12
        cx, cy, cz = s2.face_uv_to_xyz(
            face[sel],
            s2.st_to_uv((i0[sel] + size[sel] * 0.5) * scale),
            s2.st_to_uv((j0[sel] + size[sel] * 0.5) * scale),
        )
        cn = np.sqrt(cx * cx + cy * cy + cz * cz)
        cx, cy, cz = cx / cn, cy / cn, cz / cn
        cosang = np.clip(
            x.reshape(ns, m) * cx[:, None]
            + y.reshape(ns, m) * cy[:, None]
            + z.reshape(ns, m) * cz[:, None],
            -1.0,
            1.0,
        )
        rad = np.arccos(cosang.min(axis=1)) * 1.5
        return cx, cy, cz, rad, valid, lng0 - dl, lng1 + dl, lat0 - dt, lat1 + dt

    out = [np.zeros(n) for _ in range(4)] + [np.zeros(n, dtype=bool)] + [
        np.zeros(n) for _ in range(4)
    ]
    # two-tier sampling: deep cells (level > 4) have near-straight edges
    # in lat/lng — 4 corner samples + the 2% inflation stay conservative
    # (max relative edge sagitta at level 5 is ~0.6%, shrinking
    # linearly with depth; measured corner-box under-coverage vs dense
    # sampling is 0 across levels 2-11); coarse cells keep the full
    # per-edge sampling
    deep = lvl > 4
    for sel, ts, inflate in (
        (np.flatnonzero(deep), np.array([0.0, 1.0]), 0.02),
        (np.flatnonzero(~deep), np.linspace(0.0, 1.0, _EDGE_SAMPLES + 1), 0.02),
    ):
        if len(sel) == 0:
            continue
        parts = _bounds(sel, ts, inflate)
        for k in range(9):
            out[k][sel] = parts[k]
    return tuple(out)


def cover_rings(rings, params: CoverParams, interior: bool):
    """Coverings for a BATCH of rings in one level-synchronous BFS.

    The geometry work per level runs over the np.unique of all alive
    cells across every ring (at shallow levels thousands of rings share
    a handful of cells), and the fused _cells_geo pass computes
    face/i/j once — together ~8x faster per ring than the round-1
    per-ring BFS at communes scale. Only the exact ring tests
    (edge-vs-rect, point-in-ring) group per ring, and only at classify
    levels over surviving candidates. Returns a list of normalized
    uint64 cell-id lists, one per input ring."""
    R = len(rings)
    results = [[] for _ in range(R)]
    norm = [pip.normalize_ring(np.asarray(r, dtype=np.float64)) for r in rings]
    ok = [i for i in range(R) if len(norm[i]) >= 3]
    if not ok:
        return results
    rcx = np.zeros(R)
    rcy = np.zeros(R)
    rcz = np.zeros(R)
    rrad = np.zeros(R)
    bx0 = np.zeros(R)
    bx1 = np.zeros(R)
    by0 = np.zeros(R)
    by1 = np.zeros(R)
    for i in ok:
        ring = norm[i]
        (rcx[i], rcy[i], rcz[i]), rrad[i] = _ring_cap(ring)
        bx0[i], bx1[i] = float(ring[:, 0].min()), float(ring[:, 0].max())
        by0[i], by1[i] = float(ring[:, 1].min()), float(ring[:, 1].max())
    alive_r = np.repeat(np.array(ok, dtype=np.int64), 6)
    alive_c = np.tile(np.array(_FACE_CELLS, dtype=np.uint64), len(ok))
    out_r: list = []
    out_c: list = []
    for lvl in range(0, params.max_level + 1):
        if len(alive_c) == 0:
            break
        ucells, inv = np.unique(alive_c, return_inverse=True)
        gcx, gcy, gcz, grad, valid, rx0, rx1, ry0, ry1 = _cells_geo(ucells)
        # level-independent spherical-cap reject (handles poles/wrap)
        cosd = np.clip(
            rcx[alive_r] * gcx[inv] + rcy[alive_r] * gcy[inv] + rcz[alive_r] * gcz[inv],
            -1.0,
            1.0,
        )
        keep = np.arccos(cosd) <= rrad[alive_r] + grad[inv] + 1e-9
        alive_r, alive_c, inv = alive_r[keep], alive_c[keep], inv[keep]
        if len(alive_c) == 0:
            break
        code = np.full(len(alive_c), BOUNDARY, dtype=np.int8)
        if lvl >= params.min_level:
            cm = valid[inv]
            crx0, crx1 = rx0[inv], rx1[inv]
            cry0, cry1 = ry0[inv], ry1[inv]
            disjoint = cm & (
                (crx1 < bx0[alive_r])
                | (crx0 > bx1[alive_r])
                | (cry1 < by0[alive_r])
                | (cry0 > by1[alive_r])
            )
            code[disjoint] = OUTSIDE
            todo = np.flatnonzero(cm & ~disjoint)
            if len(todo):
                order = todo[np.argsort(alive_r[todo], kind="stable")]
                runs = np.flatnonzero(
                    np.r_[True, alive_r[order][1:] != alive_r[order][:-1]]
                )
                for s_i, start in enumerate(runs):
                    end = runs[s_i + 1] if s_i + 1 < len(runs) else len(order)
                    sel = order[start:end]
                    ring = norm[int(alive_r[sel[0]])]
                    sx0, sx1 = crx0[sel], crx1[sel]
                    sy0, sy1 = cry0[sel], cry1[sel]
                    edge_hit = pip.segments_intersect_rects(ring, sx0, sx1, sy0, sy1)
                    vert_in = pip.vertices_in_rects(ring, sx0, sx1, sy0, sy1)
                    plain = ~edge_hit & ~vert_in
                    if np.any(plain):
                        center_in = pip.points_in_ring(
                            (sx0[plain] + sx1[plain]) * 0.5,
                            (sy0[plain] + sy1[plain]) * 0.5,
                            ring,
                        )
                        code[sel[plain]] = np.where(center_in, INSIDE, OUTSIDE)
                    # edge_hit or vert_in stay BOUNDARY
        ins = code == INSIDE
        if np.any(ins):
            out_r.append(alive_r[ins])
            out_c.append(alive_c[ins])
        if lvl == params.max_level:
            if not interior:
                b = code == BOUNDARY
                if np.any(b):
                    out_r.append(alive_r[b])
                    out_c.append(alive_c[b])
            break
        rec = code == BOUNDARY
        rr, rc = alive_r[rec], alive_c[rec]
        if len(rc):
            alive_c = s2.children(rc).T.ravel()
            alive_r = np.repeat(rr, 4)
        else:
            alive_r, alive_c = rr, rc
    if out_r:
        out_r = np.concatenate(out_r)
        out_c = np.concatenate(out_c)
        order = np.argsort(out_r, kind="stable")
        runs = np.flatnonzero(np.r_[True, out_r[order][1:] != out_r[order][:-1]])
        for s_i, start in enumerate(runs):
            end = runs[s_i + 1] if s_i + 1 < len(runs) else len(order)
            sel = order[start:end]
            i = int(out_r[sel[0]])
            cells = list(out_c[sel])
            if interior:
                results[i] = _shrink_interior(cells, params.max_cells)
            else:
                results[i] = _coarsen_covering(cells, params.min_level, params.max_cells)
    return results


def cover_ring(ring, params: CoverParams, interior: bool):
    """Compute the covering (interior=False) or interior covering
    (interior=True) of one ring. Returns a normalized list of uint64
    cell ids. Delegates to the batched BFS."""
    return cover_rings([ring], params, interior)[0]


def params_from_median_diag(med: float, max_cells: int = 32):
    """(interior, exterior) CoverParams from the median loop bbox
    diagonal (plans.index_build._auto_params_df): min_level ~ the cell
    size of that diagonal, max_level finer.

    Interior one level deeper with a 3x budget: measured at 35k
    communes-scale loops, this converts ~44% of the exact-test
    candidate rows into sure hits for ~20% extra build time — the
    right trade when one build serves 10^12 queries (exterior stays
    shallow: its depth multiplies build cost fastest). Levels cap at
    28 (fij stab-key injectivity)."""
    import math

    # S2 level whose cell edge (~90deg / 2^level on a face) matches med
    lvl = int(np.clip(round(math.log2(90.0 / max(med, 1e-6))), 0, 18))
    min_l = max(lvl - 1, 0)
    return (
        CoverParams(min_l, min(min_l + 5, 28), max_cells * 3),
        CoverParams(min_l, min(min_l + 3, 28), max_cells),
    )


def dual_cover(ring, interior_params: CoverParams, exterior_params: CoverParams):
    """(interior_cells, exterior_cells) for one ring — the reference's
    per-loop `CellsIn` / `CellsOut` (storage.go:34-40)."""
    return (
        cover_ring(ring, interior_params, interior=True),
        cover_ring(ring, exterior_params, interior=False),
    )
