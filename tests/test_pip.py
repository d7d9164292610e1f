"""Open-boundary ray-casting semantics (reference VertexModelOpen,
index/shapeindex/index.go:66) + golden exact-PIP verdicts."""

import numpy as np

from insideout_spark.geo import pip
from insideout_spark.sources.polygons import load_geojson_loops

SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])


def test_basic_inside_outside():
    lng = np.array([2.0, 5.0, -1.0, 3.9999])
    lat = np.array([2.0, 2.0, 2.0, 3.9999])
    assert pip.points_in_ring(lng, lat, SQUARE).tolist() == [True, False, False, True]


def test_open_boundary_edges_and_vertices():
    # on-edge and on-vertex points are NOT contained (VertexModelOpen)
    lng = np.array([0.0, 2.0, 4.0, 0.0, 4.0])
    lat = np.array([2.0, 0.0, 2.0, 0.0, 4.0])
    assert not pip.points_in_ring(lng, lat, SQUARE).any()


def test_closing_vertex_dropped():
    open_ring = SQUARE[:-1]
    lng = np.array([2.0])
    lat = np.array([2.0])
    assert pip.points_in_ring(lng, lat, open_ring)[0]
    assert pip.points_in_ring(lng, lat, SQUARE)[0]


def test_concave_polygon():
    # U-shape: notch from above
    ring = np.array(
        [[0, 0], [6, 0], [6, 4], [4, 4], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]],
        dtype=float,
    )
    lng = np.array([3.0, 3.0, 1.0, 5.0])
    lat = np.array([1.0, 3.0, 3.0, 3.0])
    assert pip.points_in_ring(lng, lat, ring).tolist() == [True, False, True, True]


def test_degenerate_ring():
    assert not pip.points_in_ring(np.array([0.0]), np.array([0.0]), SQUARE[:2]).any()


def test_golden_exact_pip(houat_loops=None):
    """The 5 distinct golden points' exact verdicts (FIXTURES.md §4)."""
    import os

    loops = load_geojson_loops(
        os.path.join(os.path.dirname(__file__), "golden", "houat.geojson")
    )
    cases = [
        (47.39444367083928, -2.992874768945723, True),
        (47.39650628189986, -2.9876390969486524, True),
        (47.38297924900667, -2.961873380366456, False),
        (47.37616957736262, -3.004367209321472, False),
        (47.3944602327291, -2.9924373872714556, True),
    ]
    for lat, lng, want in cases:
        got = any(
            pip.ring_contains_point(np.array(r["ring"]), lng, lat) for r in loops
        )
        assert got == want, (lat, lng)


def test_segments_intersect_rect():
    # crosses the right edge; fully inside; far away; ring inside the
    # rect (its edges lie within)
    got = pip.segments_intersect_rects(
        SQUARE,
        np.array([3.5, 1.0, 10.0, -1.0]),
        np.array([5.0, 3.0, 12.0, 5.0]),
        np.array([1.0, 1.0, 1.0, -1.0]),
        np.array([2.0, 3.0, 2.0, 5.0]),
    )
    assert got.tolist() == [True, False, False, True]


def test_chunked_ray_cast_matches_one_block(monkeypatch):
    """A tiny element budget splits the points into many blocks; the
    verdicts equal the single-block answer, boundary points included."""
    rng = np.random.default_rng(5)
    ang = np.linspace(0.0, 2 * np.pi, 301)[:-1]
    ring = np.column_stack([np.cos(ang), np.sin(ang)])
    lng = np.r_[rng.uniform(-1.2, 1.2, 997), ring[:3, 0], 0.0]
    lat = np.r_[rng.uniform(-1.2, 1.2, 997), ring[:3, 1], 0.0]
    monkeypatch.setattr(pip, "RAY_CAST_MAX_ELEMS", len(lng) * len(ring))
    whole = pip.points_in_ring(lng, lat, ring)
    monkeypatch.setattr(pip, "RAY_CAST_MAX_ELEMS", 7 * len(ring))
    chunked = pip.points_in_ring(lng, lat, ring)
    assert (chunked == whole).all()
    assert whole.any() and not whole.all()
    assert not whole[997:1000].any() and whole[-1]


def test_points_in_rings_matches_per_ring(monkeypatch):
    """The one-pass ray cast over a ring store gives each point the
    verdict of points_in_ring against its own ring: closed and open
    rings, a None and a degenerate ring (contain nothing), vertices as
    points (open boundary), and a budget that cuts many blocks, one of
    them a single point whose ring alone exceeds it."""
    rng = np.random.default_rng(9)
    rings = []
    for r in range(60):
        m = int(rng.integers(3, 120))
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, m))
        rad = rng.uniform(0.5, 1.0, m)
        cx, cy = rng.uniform(-2.0, 2.0, 2)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        rings.append(np.vstack([ring, ring[:1]]) if r % 2 else ring)
    rings[3] = None
    rings[4] = np.array([[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]])
    store = pip.ring_store(rings)
    n = 3000
    ring_of = rng.integers(0, len(rings), n)
    lng = rng.uniform(-3.2, 3.2, n)
    lat = rng.uniform(-3.2, 3.2, n)
    for k in range(40):  # a vertex of the point's own ring
        r = rings[ring_of[k]]
        if r is not None:
            lng[k], lat[k] = r[1]
    want = np.array(
        [
            rings[r] is not None
            and bool(pip.points_in_ring(lng[k : k + 1], lat[k : k + 1], rings[r])[0])
            for k, r in enumerate(ring_of)
        ]
    )
    assert want.any() and not want[:40].any()
    assert (pip.points_in_rings(lng, lat, ring_of, store) == want).all()
    monkeypatch.setattr(pip, "RAY_CAST_MAX_ELEMS", 50)
    assert (pip.points_in_rings(lng, lat, ring_of, store) == want).all()
