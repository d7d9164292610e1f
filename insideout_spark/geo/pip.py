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
N points against one ring's M edges; `points_in_rings` tests N points
each against its own ring of a flat `ring_store`, in one pass over all
(point, edge) pairs. Both work in blocks that keep every temporary under
RAY_CAST_MAX_ELEMS elements.
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
    """Flat vertex store of many rings for `points_in_rings`: (x, y,
    start), ring r's vertices (closing duplicate dropped) at
    [start[r], start[r+1]). A None ring, or one of fewer than 3
    vertices, stores no vertex and contains nothing."""
    none = np.empty((0, 2))
    parts = []
    for r in rings:
        r = none if r is None else normalize_ring(r)
        parts.append(r if len(r) >= 3 else none)
    start = np.zeros(len(parts) + 1, dtype=np.int64)
    np.cumsum([len(p) for p in parts], out=start[1:])
    v = np.concatenate(parts) if parts else none
    return np.ascontiguousarray(v[:, 0]), np.ascontiguousarray(v[:, 1]), start


def points_in_rings(lng, lat, ring_of, store):
    """Open-boundary even-odd containment of N points, point k in ring
    ring_of[k] of a `ring_store`. The verdicts of `points_in_ring`, in
    one vectorized pass over all (point, edge) pairs instead of one call
    per ring. Points are cut into blocks whose edge total stays under
    RAY_CAST_MAX_ELEMS (a point whose ring alone exceeds it gets a block
    of its own)."""
    x, y, start = store
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ring_of = np.asarray(ring_of, dtype=np.int64)
    s = start[ring_of]
    n = start[ring_of + 1] - s
    out = np.zeros(len(lng), dtype=bool)
    cum = np.cumsum(n)
    i = 0
    while i < len(lng):
        base = cum[i - 1] if i else 0
        j = max(i + 1, int(np.searchsorted(cum, base + RAY_CAST_MAX_ELEMS, side="right")))
        out[i:j] = _points_in_rings_block(lng[i:j], lat[i:j], s[i:j], n[i:j], x, y)
        i = j
    return out


def _points_in_rings_block(lng, lat, s, n, x, y):
    """points_in_rings on one block: point k against the n[k] edges of
    the ring whose vertices start at s[k]."""
    k = np.repeat(np.arange(len(n)), n)  # the point of each pair
    e = np.arange(len(k)) - np.repeat(np.cumsum(n) - n, n)  # edge in ring
    i1 = s[k] + e
    i2 = np.where(e + 1 == n[k], s[k], i1 + 1)  # the last edge closes
    crosses, on_edge = _edge_terms(lng[k], lat[k], x[i1], y[i1], x[i2], y[i2])
    crossings = np.bincount(k, weights=crosses, minlength=len(n))
    on_boundary = np.bincount(k, weights=on_edge, minlength=len(n)) > 0
    return (crossings % 2 == 1) & ~on_boundary


def ring_contains_point(ring, lng, lat):
    """Scalar convenience wrapper."""
    return bool(points_in_ring(np.array([lng]), np.array([lat]), ring)[0])


def segments_intersect_rects(ring, rx0, rx1, ry0, ry1):
    """Vectorized over N rects: True where any ring edge intersects the
    rect [rx0,rx1]x[ry0,ry1]. rx0.. are (N,) arrays. Used by the
    coverer's batched cell classification."""
    ring = normalize_ring(ring)
    x1 = ring[:, 0][None, :]  # (1,M)
    y1 = ring[:, 1][None, :]
    x2 = np.roll(ring[:, 0], -1)[None, :]
    y2 = np.roll(ring[:, 1], -1)[None, :]
    rx0 = np.asarray(rx0, dtype=np.float64)[:, None]  # (N,1)
    rx1 = np.asarray(rx1, dtype=np.float64)[:, None]
    ry0 = np.asarray(ry0, dtype=np.float64)[:, None]
    ry1 = np.asarray(ry1, dtype=np.float64)[:, None]
    # quick reject per (rect, edge)
    cand = ~(
        (np.maximum(x1, x2) < rx0)
        | (np.minimum(x1, x2) > rx1)
        | (np.maximum(y1, y2) < ry0)
        | (np.minimum(y1, y2) > ry1)
    )  # (N,M)
    # endpoint inside rect
    inside1 = (x1 >= rx0) & (x1 <= rx1) & (y1 >= ry0) & (y1 <= ry1)
    inside2 = (x2 >= rx0) & (x2 <= rx1) & (y2 >= ry0) & (y2 <= ry1)
    hit = np.any(cand & (inside1 | inside2), axis=1)
    todo = np.any(cand, axis=1) & ~hit
    if not np.any(todo):
        return hit
    # proper segment-segment tests against the 4 rect edges
    corners = (
        (rx0, ry0, rx1, ry0),
        (rx1, ry0, rx1, ry1),
        (rx1, ry1, rx0, ry1),
        (rx0, ry1, rx0, ry0),
    )
    for ax0, ay0, ax1, ay1 in corners:
        d1 = (x2 - x1) * (ay0 - y1) - (y2 - y1) * (ax0 - x1)
        d2 = (x2 - x1) * (ay1 - y1) - (y2 - y1) * (ax1 - x1)
        d3 = (ax1 - ax0) * (y1 - ay0) - (ay1 - ay0) * (x1 - ax0)
        d4 = (ax1 - ax0) * (y2 - ay0) - (ay1 - ay0) * (x2 - ax0)
        hit |= np.any(cand & (d1 * d2 <= 0) & (d3 * d4 <= 0), axis=1)
    return hit


def vertices_in_rects(ring, rx0, rx1, ry0, ry1):
    """Vectorized over N rects: True where any ring vertex lies in the
    rect."""
    ring = normalize_ring(ring)
    vx = ring[:, 0][None, :]
    vy = ring[:, 1][None, :]
    rx0 = np.asarray(rx0, dtype=np.float64)[:, None]
    rx1 = np.asarray(rx1, dtype=np.float64)[:, None]
    ry0 = np.asarray(ry0, dtype=np.float64)[:, None]
    ry1 = np.asarray(ry1, dtype=np.float64)[:, None]
    return np.any((vx >= rx0) & (vx <= rx1) & (vy >= ry0) & (vy <= ry1), axis=1)


def segments_intersect_rect(ring, rx0, rx1, ry0, ry1):
    """True if any ring edge intersects the axis-aligned rect
    [rx0,rx1]x[ry0,ry1] (in lng/lat). Vectorized over edges —
    used by the coverer's cell classification."""
    ring = normalize_ring(ring)
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    # quick reject: edge bbox vs rect
    reject = (
        (np.maximum(x1, x2) < rx0)
        | (np.minimum(x1, x2) > rx1)
        | (np.maximum(y1, y2) < ry0)
        | (np.minimum(y1, y2) > ry1)
    )
    cand = ~reject
    if not np.any(cand):
        return False
    x1, y1, x2, y2 = x1[cand], y1[cand], x2[cand], y2[cand]
    # endpoint inside rect => intersects
    if np.any((x1 >= rx0) & (x1 <= rx1) & (y1 >= ry0) & (y1 <= ry1)):
        return True
    if np.any((x2 >= rx0) & (x2 <= rx1) & (y2 >= ry0) & (y2 <= ry1)):
        return True
    # segment crosses any of the 4 rect edges
    rect_edges = (
        (rx0, ry0, rx1, ry0),
        (rx1, ry0, rx1, ry1),
        (rx1, ry1, rx0, ry1),
        (rx0, ry1, rx0, ry0),
    )
    for ax0, ay0, ax1, ay1 in rect_edges:
        d1 = (x2 - x1) * (ay0 - y1) - (y2 - y1) * (ax0 - x1)
        d2 = (x2 - x1) * (ay1 - y1) - (y2 - y1) * (ax1 - x1)
        d3 = (ax1 - ax0) * (y1 - ay0) - (ay1 - ay0) * (x1 - ax0)
        d4 = (ax1 - ax0) * (y2 - ay0) - (ay1 - ay0) * (x2 - ax0)
        if np.any((d1 * d2 <= 0) & (d3 * d4 <= 0)):
            return True
    return False
