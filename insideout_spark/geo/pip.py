"""Vectorized open-boundary point-in-polygon (ray casting) in numpy.

Replaces the reference's exact containment test `Loop.ContainsPoint`
(reference server/server.go:246-249) and the shapeindex strategy's
`ContainsPointQuery(VertexModelOpen)` (reference index/shapeindex/
index.go:57-81). Semantics:

* planar even-odd ray casting in (lng, lat) degree space — the fixture
  geometries are small enough that planar and spherical containment
  agree on all golden points (tests assert this);
* OPEN boundary: a point exactly on an edge or vertex is NOT contained,
  matching `s2.VertexModelOpen` (reference index/shapeindex/index.go:66);
* the duplicated closing vertex of GeoJSON rings is dropped before
  testing, matching reference tools.go:145-148.

Everything is vectorized over numpy arrays: `points_in_ring` broadcasts
N points against one ring's M edges; `points_in_rings` tests N points,
and `rings_cross_rects` N rects, each against its own ring of a flat
`ring_store`, in one pass over all (pair, edge) rows. All work in blocks
that keep every temporary under RAY_CAST_MAX_ELEMS elements.
"""

from __future__ import annotations

import numpy as np

# element budget of one block of (point, edge) pairs in the ray cast:
# each float64 temporary of a block stays under 512 KiB, whatever the
# ring size. Cache-sized: points_in_rings ran ~2.5x faster with 2^16
# than with 2^21 blocks (40k points over 3k rings, 4-core VM)
RAY_CAST_MAX_ELEMS = 1 << 16


def normalize_ring(ring):
    """ring: (M,2) array of [lng, lat] pairs -> ring without the
    duplicated closing vertex (reference tools.go:145-148)."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and ring[0][0] == ring[-1][0] and ring[0][1] == ring[-1][1]:
        ring = ring[:-1]
    return ring


def points_in_ring(lng, lat, ring):
    """Open-boundary even-odd containment of N points in one ring.

    lng, lat: (N,) arrays in degrees. ring: (M,2) [lng,lat] pairs
    (closing vertex optional). Returns (N,) bool — True iff strictly
    inside. Points exactly on an edge/vertex return False.

    The points are tested in chunks of at most RAY_CAST_MAX_ELEMS // M
    (at least one), so memory stays bounded on many-vertex rings.
    """
    ring = normalize_ring(ring)
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if len(ring) < 3:
        return np.zeros(lng.shape, dtype=bool)
    step = max(1, RAY_CAST_MAX_ELEMS // len(ring))
    if len(lng) <= step:
        return _points_in_ring_block(lng, lat, ring)
    return np.concatenate(
        [
            _points_in_ring_block(lng[i : i + step], lat[i : i + step], ring)
            for i in range(0, len(lng), step)
        ]
    )


def _points_in_ring_block(lng, lat, ring):
    """points_in_ring on one block: every point against every edge."""
    x1 = ring[:, 0]  # (M,)
    y1 = ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    crosses, on_edge = _edge_terms(lng[:, None], lat[:, None], x1, y1, x2, y2)
    return (np.sum(crosses, axis=1) % 2 == 1) & ~np.any(on_edge, axis=1)


def _edge_terms(px, py, x1, y1, x2, y2):
    """Per (point, edge) pair, numpy-broadcast: (the horizontal ray from
    the point crosses the edge, the point lies on the edge)."""
    # --- exact on-boundary detection (open boundary => not contained) ---
    # collinear (cross == 0) and within the segment's bbox
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    within = (
        (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )
    on_edge = (cross == 0.0) & within

    # --- even-odd crossing (half-open rule handles vertices) ---
    cond = (y1 <= py) != (y2 <= py)  # edge straddles the horizontal ray
    # x coordinate of edge/ray intersection, only meaningful where cond
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return cond & (px < xint), on_edge


def ring_store(rings):
    """Flat vertex store of many rings for `points_in_rings` and
    `rings_cross_rects`: `flat_ring_store` over a list of (M, 2)
    [lng, lat] rings; a None ring stores no vertex."""
    parts = [np.asarray(r, dtype=np.float64)[:, :2] for r in rings if r is not None and len(r)]
    lens = [0 if r is None else len(r) for r in rings]
    return flat_ring_store(np.concatenate(parts) if parts else np.empty((0, 2)), lens)


def flat_ring_store(xy, lens):
    """Flat vertex store of R rings given as (V, 2) [lng, lat] vertices,
    ring r the next lens[r] rows: (x, y, start), ring r's vertices at
    [start[r], start[r+1]). Its closing duplicate is dropped (reference
    tools.go:145-148); a ring left with fewer than 3 vertices stores
    none and contains nothing."""
    lens = np.asarray(lens, dtype=np.int64)
    beg = np.cumsum(lens) - lens
    closed = np.zeros(len(lens), dtype=bool)
    two = np.flatnonzero(lens >= 2)
    closed[two] = (xy[beg[two]] == xy[beg[two] + lens[two] - 1]).all(axis=1)
    n = lens - closed
    n[n < 3] = 0
    ring = np.repeat(np.arange(len(lens)), lens)
    keep = np.arange(len(ring)) - beg[ring] < n[ring]
    start = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(n, out=start[1:])
    return np.ascontiguousarray(xy[keep, 0]), np.ascontiguousarray(xy[keep, 1]), start


def _ring_pairs(ring_of, store):
    """The one (pair, edge) expansion over a ring store: pair k against
    every edge of ring ring_of[k], the closing edge included. Yields
    (slice of pairs, pair of each row relative to the slice, x1, y1,
    x2, y2) per block of pairs whose edge total stays under
    RAY_CAST_MAX_ELEMS (a pair whose ring alone exceeds it gets a block
    of its own)."""
    x, y, start = store
    ring_of = np.asarray(ring_of, dtype=np.int64)
    s = start[ring_of]
    n = start[ring_of + 1] - s
    cum = np.cumsum(n)
    i = 0
    while i < len(n):
        base = cum[i - 1] if i else 0
        j = max(i + 1, int(np.searchsorted(cum, base + RAY_CAST_MAX_ELEMS, side="right")))
        bs, bn = s[i:j], n[i:j]
        k = np.repeat(np.arange(j - i), bn)
        e = np.arange(len(k)) - np.repeat(np.cumsum(bn) - bn, bn)  # edge in ring
        i1 = bs[k] + e
        i2 = np.where(e + 1 == bn[k], bs[k], i1 + 1)  # the last edge closes
        yield slice(i, j), k, x[i1], y[i1], x[i2], y[i2]
        i = j


def points_in_rings(lng, lat, ring_of, store):
    """Open-boundary even-odd containment of N points, point k in ring
    ring_of[k] of a ring store. The verdicts of `points_in_ring`, in
    one vectorized pass over all (point, edge) pairs instead of one call
    per ring."""
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    out = np.zeros(len(lng), dtype=bool)
    for sl, k, x1, y1, x2, y2 in _ring_pairs(ring_of, store):
        m = sl.stop - sl.start
        crosses, on_edge = _edge_terms(lng[sl][k], lat[sl][k], x1, y1, x2, y2)
        crossings = np.bincount(k, weights=crosses, minlength=m)
        on_boundary = np.bincount(k, weights=on_edge, minlength=m) > 0
        out[sl] = (crossings % 2 == 1) & ~on_boundary
    return out


def rings_cross_rects(rx0, rx1, ry0, ry1, ring_of, store):
    """True where an edge of ring ring_of[k] of a ring store meets rect
    k, [rx0[k], rx1[k]] x [ry0[k], ry1[k]] (closed): an endpoint inside
    the rect, or a proper or touching crossing of one of its four
    sides. A ring lying wholly inside its rect crosses it; a rect wholly
    inside its ring does not. The coverer's BOUNDARY test."""
    rx0, rx1, ry0, ry1 = (np.asarray(a, dtype=np.float64) for a in (rx0, rx1, ry0, ry1))
    out = np.zeros(len(rx0), dtype=bool)
    for sl, k, x1, y1, x2, y2 in _ring_pairs(ring_of, store):
        a0, a1, b0, b1 = rx0[sl][k], rx1[sl][k], ry0[sl][k], ry1[sl][k]
        # quick reject per (rect, edge) on the edge's bbox
        cand = np.flatnonzero(
            ~(
                (np.maximum(x1, x2) < a0)
                | (np.minimum(x1, x2) > a1)
                | (np.maximum(y1, y2) < b0)
                | (np.minimum(y1, y2) > b1)
            )
        )
        k, x1, y1, x2, y2 = k[cand], x1[cand], y1[cand], x2[cand], y2[cand]
        a0, a1, b0, b1 = a0[cand], a1[cand], b0[cand], b1[cand]
        # endpoint inside the rect
        hit = ((x1 >= a0) & (x1 <= a1) & (y1 >= b0) & (y1 <= b1)) | (
            (x2 >= a0) & (x2 <= a1) & (y2 >= b0) & (y2 <= b1)
        )
        # segment-segment tests against the 4 rect sides
        sides = ((a0, b0, a1, b0), (a1, b0, a1, b1), (a1, b1, a0, b1), (a0, b1, a0, b0))
        for ax0, ay0, ax1, ay1 in sides:
            d1 = (x2 - x1) * (ay0 - y1) - (y2 - y1) * (ax0 - x1)
            d2 = (x2 - x1) * (ay1 - y1) - (y2 - y1) * (ax1 - x1)
            d3 = (ax1 - ax0) * (y1 - ay0) - (ay1 - ay0) * (x1 - ax0)
            d4 = (ax1 - ax0) * (y2 - ay0) - (ay1 - ay0) * (x2 - ax0)
            hit |= (d1 * d2 <= 0) & (d3 * d4 <= 0)
        out[sl] = np.bincount(k, weights=hit, minlength=sl.stop - sl.start) > 0
    return out


def ring_contains_point(ring, lng, lat):
    """Scalar convenience wrapper."""
    return bool(points_in_ring(np.array([lng]), np.array([lat]), ring)[0])
