"""Dual-cover semantics: golden stab classifications (reference
index/treeindex/index_test.go:27-78, index/dbindex/index_test.go:25-76)
and the property the whole engine rests on — interior cells are truly
inside, points outside the exterior cover are truly outside."""

import numpy as np
import pytest

from insideout_spark.geo import cover, pip, s2

IP = cover.CoverParams(10, 16, 24)
EP = cover.CoverParams(10, 15, 16)


@pytest.fixture(scope="module")
def houat_covers(request):
    import os

    from insideout_spark.sources.polygons import load_geojson_loops

    loops = load_geojson_loops(
        os.path.join(os.path.dirname(__file__), "golden", "houat.geojson")
    )
    covers = [
        (r, cover.dual_cover(np.array(r["ring"]), IP, EP)) for r in loops
    ]
    return loops, covers


def _classify_point(covers, lat, lng):
    leaf = s2.latlng_to_cell(np.array([lat]), np.array([lng]))[0]
    anc = set(int(a) for a in s2.ancestors(np.array([leaf]), 10, 16)[:, 0])
    hits_sure, hits_cand = set(), set()
    for r, (ic, ec) in covers:
        key = (r["feature_id"], r["loop_pos"])
        if anc & {int(c) for c in ic}:
            hits_sure.add(key)
        elif anc & {int(c) for c in ec}:
            hits_cand.add(key)
    return hits_sure, hits_cand


def test_golden_stab_classification(houat_covers):
    """The reference's 4 dual-cover golden cases, exactly."""
    _, covers = houat_covers
    # inside polygon, boundary cell -> candidate {0,1}
    s, c = _classify_point(covers, 47.39444367083928, -2.992874768945723)
    assert s == set() and c == {(0, 1)}
    # interior-cover hit -> sure {0,1}
    s, c = _classify_point(covers, 47.39650628189986, -2.9876390969486524)
    assert s == {(0, 1)} and c == set()
    # outside polygon but within boundary cover -> candidate {0,1}
    s, c = _classify_point(covers, 47.38297924900667, -2.961873380366456)
    assert s == set() and c == {(0, 1)}
    # far outside -> nothing
    s, c = _classify_point(covers, 47.37616957736262, -3.004367209321472)
    assert s == set() and c == set()


def test_max_cells_budgets(houat_covers):
    _, covers = houat_covers
    for _, (ic, ec) in covers:
        assert len(ic) <= IP.max_cells
        assert len(ec) <= EP.max_cells
        if ic:
            lv = s2.level(np.array(ic, dtype=np.uint64))
            assert lv.min() >= IP.min_level and lv.max() <= IP.max_level
        if ec:
            lv = s2.level(np.array(ec, dtype=np.uint64))
            assert lv.min() >= EP.min_level and lv.max() <= EP.max_level


def test_dual_cover_property_vs_exact_pip(houat_covers):
    """Core safety property over random points: a 'sure' hit implies
    exact containment; 'no cover hit' implies exact non-containment.
    (Candidates can go either way — that's what the PIP residue is for.)
    """
    loops, covers = houat_covers
    rng = np.random.default_rng(1234)
    lat = rng.uniform(47.35, 47.41, 4000)
    lng = rng.uniform(-3.01, -2.94, 4000)
    for la, ln in zip(lat, lng):
        sure, cand = _classify_point(covers, la, ln)
        exact = {
            (r["feature_id"], r["loop_pos"])
            for r in loops
            if pip.ring_contains_point(np.array(r["ring"]), ln, la)
        }
        assert sure <= exact, f"false sure hit at ({la},{ln})"
        missing = exact - sure - cand
        assert not missing, f"containment missed by covers at ({la},{ln})"


def test_normalize_cells():
    base = s2.latlng_to_cell(np.array([47.0]), np.array([2.0]))[0]
    p10 = np.uint64(s2.parent(np.array([base]), 10)[0])
    p14 = np.uint64(s2.parent(np.array([base]), 14)[0])
    other = np.uint64(
        s2.parent(s2.latlng_to_cell(np.array([10.0]), np.array([100.0])), 12)[0]
    )
    out = cover.normalize_cells([p14, p10, other, p10])
    assert sorted(out) == sorted([p10, other])


def test_interior_cover_cells_fully_inside(houat_covers):
    """Sample many points inside each interior cell — all must pass the
    exact PIP (the short-circuit's correctness condition)."""
    loops, covers = houat_covers
    rings = {(r["feature_id"], r["loop_pos"]): np.array(r["ring"]) for r in loops}
    for r, (ic, _) in covers:
        ring = rings[(r["feature_id"], r["loop_pos"])]
        for c in ic:
            # sample the cell's corner hull
            vlat, vlng = s2.cell_vertices_latlng(np.array([c], dtype=np.uint64))
            gl, gt = np.meshgrid(
                np.linspace(vlng.min() + 1e-7, vlng.max() - 1e-7, 5),
                np.linspace(vlat.min() + 1e-7, vlat.max() - 1e-7, 5),
            )
            inside = pip.points_in_ring(gl.ravel(), gt.ravel(), ring)
            assert inside.all(), f"interior cell {s2.token(c)} leaks outside"


def test_twice_closed_rings_keep_covers():
    """A ring whose closing vertex is repeated is covered through its
    once-normalized vertices: the zero-area [a, b, a, a] keeps the
    exterior cover of its two edges, [a, b, c, a, a] its triangle's."""
    a = [-0.9311211361550037, 46.72689056716114]
    b = [-0.9905394982333209, 46.77473652322525]
    c = [-1.0616763836685643, 46.75732378286671]
    ip, ep = cover.CoverParams(8, 14, 96), cover.CoverParams(8, 13, 48)
    for ring, n_in, n_out in (([a, b, a, a], 0, 13), ([a, b, c, a, a], 35, 42)):
        ring = np.array(ring)
        assert len(cover.cover_rings([ring], ip, interior=True)[0]) == n_in
        assert len(cover.cover_rings([ring], ep, interior=False)[0]) == n_out


def test_cover_rings_under_tiny_budget(monkeypatch, houat_covers):
    """A ray-cast budget that gives every (cell, ring) pair a block of
    its own yields the covers of the default budget."""
    loops, _ = houat_covers
    rings = [np.array(r["ring"]) for r in loops]
    sides = ((IP, True), (EP, False))
    want = [cover.cover_rings(rings, p, interior=i) for p, i in sides]
    monkeypatch.setattr(pip, "RAY_CAST_MAX_ELEMS", 8)
    assert [cover.cover_rings(rings, p, interior=i) for p, i in sides] == want
    assert any(want[0]) and all(want[1])
