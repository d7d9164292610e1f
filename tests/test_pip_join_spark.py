"""End-to-end stab join on Spark: golden cases, oracle equivalence of
both physical paths, projections, top-1, and index persistence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from insideout_spark.geo import pip as geo_pip
from insideout_spark.plans.index_build import load_index, save_index
from insideout_spark.plans.pip_join import pip_join
from insideout_spark.sources import pages as src_pages


@pytest.fixture(scope="module")
def golden_points_df(spark):
    pg = src_pages.synth_pages(spark, 400, partitions=4)
    return src_pages.extract_points(pg).cache()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hit_rows(df, id_col="url"):
    return sorted(
        (r[id_col], r["feature_id"], r["loop_pos"], bool(r["is_sure_hit"]))
        for r in df.collect()
    )


def _hits_by_golden_row(rows):
    out = {}
    for r in rows:
        i = int(r["url"].rsplit("/", 1)[1])
        if i < 6:
            out.setdefault(i, set()).add(
                (r["feature_id"], r["loop_pos"], bool(r["is_sure_hit"]))
            )
    return out


def test_golden_e2e(spark, houat_index, golden_points_df):
    """FIXTURES.md §4: rows 0,1,4 inside (0,1); row 1 via interior cover;
    rows 2,3,5 produce nothing."""
    res = pip_join(golden_points_df, houat_index)
    by = _hits_by_golden_row(res.collect())
    assert by.get(0) == {(0, 1, False)}
    assert by.get(1) == {(0, 1, True)}
    assert by.get(4) == {(0, 1, False)}
    assert 2 not in by and 3 not in by and 5 not in by


def test_matches_exact_oracle(spark, houat_index, houat_loops, golden_points_df):
    """Full result set == brute-force exact PIP oracle (the reference
    shapeindex strategy J3, our correctness oracle)."""
    res = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(golden_points_df, houat_index).collect()
    }
    pts = golden_points_df.collect()
    oracle = set()
    for p in pts:
        for lr in houat_loops:
            if geo_pip.ring_contains_point(np.array(lr["ring"]), p["lng"], p["lat"]):
                oracle.add((p["url"], lr["feature_id"], lr["loop_pos"]))
    assert res == oracle


def test_salted_shuffle_path_equivalent(spark, houat_index, golden_points_df):
    """broadcast path and salted shuffle path return identical rows."""
    a = {
        (r["url"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
        for r in pip_join(golden_points_df, houat_index).collect()
    }
    b = {
        (r["url"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
        for r in pip_join(
            golden_points_df, houat_index, strategy="salted", salt_buckets=4
        ).collect()
    }
    assert a == b


def test_properties_and_projection(spark, houat_index, golden_points_df):
    res = pip_join(golden_points_df, houat_index).filter(
        F.col("url") == "https://example.org/00000001"
    )
    row = res.collect()[0]
    assert row["properties"]["nom"] == "Île-d'Houat"
    assert row["properties"]["insee"] == "56086"
    # P1 projection: drop payload
    lean = pip_join(golden_points_df, houat_index, include_properties=False)
    assert "properties" not in lean.columns


def test_stop_on_first(spark, houat_index, golden_points_df):
    res = pip_join(golden_points_df, houat_index, stop_on_first=True)
    counts = res.groupBy("url").count().collect()
    assert all(r["count"] == 1 for r in counts)


def test_index_save_load_roundtrip(spark, houat_index, golden_points_df, tmp_path):
    path = str(tmp_path / "idx")
    save_index(houat_index, path)
    idx2 = load_index(spark, path)
    assert idx2.manifest["min_cover_level"] == 10
    a = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(golden_points_df, houat_index).collect()
    }
    b = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(golden_points_df, idx2).collect()
    }
    assert a == b


def test_broadcast_join_in_plan(spark, houat_index, golden_points_df):
    """The stab join must be a broadcast hash join with no shuffle on the
    probe side before the join (scale contract, SURVEY.md §4)."""
    plan = _plan(pip_join(golden_points_df, houat_index, strategy="jvm"))
    assert "BroadcastHashJoin [fij_key" in plan


def test_cover_guard_per_side(spark, houat_loops, golden_points_df):
    """Per-side cover guard (reference storage/bbolt/storage.go:363-370
    interior / :408-414 exterior): when ONE cover exceeds the guard
    only that side's postings are dropped — the feature stays findable
    through the other cover. Round 1 dropped the whole loop."""
    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import (
        build_index,
        cover_guard_stats,
        features_df,
    )

    ip, ep = CoverParams(10, 16, 24), CoverParams(10, 15, 16)
    feats = features_df(spark, houat_loops)
    stats = {
        (r["feature_id"], r["loop_pos"]): (r["n_inside"], r["n_outside"])
        for r in cover_guard_stats(feats, ip, ep, 100).collect()
    }
    ni, no = stats[(0, 1)]
    assert ni > 0 and no > 0 and ni != no
    guard = min(ni, no)  # drops exactly the larger side
    idx = build_index(spark, houat_loops, ip, ep, warning_cells_cover=guard)
    kinds = {
        bool(r["is_interior"])
        for r in idx.cell_index.select("is_interior").distinct().collect()
    }
    res = pip_join(golden_points_df, idx)
    by = _hits_by_golden_row(res.collect())
    if ni > no:
        # interior postings dropped: all three inside rows still hit,
        # now via exterior candidates + exact test (no sure hits)
        assert kinds == {False}
        assert by.get(0) == {(0, 1, False)}
        assert by.get(1) == {(0, 1, False)}
        assert by.get(4) == {(0, 1, False)}
    else:
        # exterior postings dropped: the interior sure-hit row survives
        assert kinds == {True}
        assert by.get(1) == {(0, 1, True)}
    # guard-stats observability flags the dropped side
    st = {
        (r["feature_id"], r["loop_pos"]): (r["inside_dropped"], r["outside_dropped"])
        for r in cover_guard_stats(feats, ip, ep, guard).collect()
    }
    assert st[(0, 1)] == (ni > guard, no > guard)


def test_antimeridian_ring_rejected(spark):
    """Rings crossing the antimeridian (lng extent > 180°) are rejected
    at build time instead of being indexed with wrong planar PIP
    semantics (ADVICE r01)."""
    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index

    fiji_like = [
        {
            "feature_id": 0,
            "loop_pos": 0,
            "ring": [[179.0, -17.0], [-179.5, -17.0], [-179.5, -18.0],
                      [179.0, -18.0], [179.0, -17.0]],
            "properties": {},
            "admin_level": None,
        }
    ]
    with pytest.raises(Exception, match="antimeridian|lng extent"):
        build_index(
            spark, fiji_like, CoverParams(4, 8, 16), CoverParams(4, 8, 16)
        )


def test_build_rejects_level_above_28(spark, houat_loops):
    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index

    with pytest.raises(ValueError, match="<= 28"):
        build_index(
            spark, houat_loops, CoverParams(10, 30, 24), CoverParams(10, 15, 16)
        )


def test_typed_properties_roundtrip(spark, tmp_path):
    """Typed property fidelity (reference tools.go:253-274:
    bool/int/float64/string/nil survive): values keep their JSON types
    through parse -> features -> save/load -> typed_prop access."""
    import json

    from insideout_spark.geo.geojson import parse_feature_collection
    from insideout_spark.plans.index_build import build_index, load_index, save_index
    from insideout_spark.plans.metrics import get_feature, typed_prop

    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {
                    "name": "zone-a", "population": 12345, "density": 3.25,
                    "urban": True, "note": None, "admin_level": "4",
                },
                "geometry": {"type": "Polygon", "coordinates": [[
                    [0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]
                ]]},
            }
        ],
    }
    rows = parse_feature_collection(json.dumps(fc))
    from insideout_spark.geo.cover import CoverParams

    idx = build_index(spark, rows, CoverParams(4, 8, 16), CoverParams(4, 8, 16))
    path = str(tmp_path / "tidx")
    save_index(idx, path)
    idx2 = load_index(spark, path)
    feat = get_feature(idx2, 0, 0).select(
        typed_prop("population", "long").alias("population"),
        typed_prop("density", "double").alias("density"),
        typed_prop("urban", "boolean").alias("urban"),
        typed_prop("name", "string").alias("name"),
        typed_prop("note", "string").alias("note"),
        typed_prop("missing", "long").alias("missing"),
    ).first()
    assert feat["population"] == 12345 and isinstance(feat["population"], int)
    assert feat["density"] == 3.25
    assert feat["urban"] is True
    assert feat["name"] == "zone-a"
    assert feat["note"] is None and feat["missing"] is None
    # typed numeric filter runs Catalyst-side
    assert get_feature(idx2, 0).filter(typed_prop("population", "long") > 10000).count() == 1
    assert get_feature(idx2, 0).filter(typed_prop("population", "long") > 99999).count() == 0


def test_get_feature_api(spark, houat_index):
    from insideout_spark.plans.metrics import get_feature

    rows = get_feature(houat_index, 0, 1).collect()
    assert len(rows) == 1
    assert rows[0]["properties"]["nom"] == "Île-d'Houat"
    assert get_feature(houat_index, 0).count() >= 1
    assert get_feature(houat_index, 999).count() == 0


def test_nonbroadcast_edges_equivalent(spark, houat_index, golden_points_df):
    """broadcast_edges=False (shuffled edge join for continent-scale
    rings) returns identical rows to the jvm arm's broadcast edges."""
    a = {
        (r["url"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
        for r in pip_join(golden_points_df, houat_index, strategy="jvm").collect()
    }
    b = {
        (r["url"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
        for r in pip_join(
            golden_points_df, houat_index, strategy="jvm", broadcast_edges=False
        ).collect()
    }
    assert a == b and len(a) > 0


def test_bucketed_n_buckets_from_manifest_and_catalog(spark, houat_index, golden_points_df):
    """The bucketed strategy reads the bucket count from the index
    manifest (recorded by save_index_bucketed) and, when the manifest
    lacks the entry (e.g. an index loaded fresh from parquet), from the
    catalog's bucketSpec API — never from parsing DESCRIBE text
    (VERDICT r02 'What's wrong' #4)."""
    from insideout_spark.plans.index_build import save_index_bucketed

    save_index_bucketed(houat_index, "houat_cells_bucketed_t", n_buckets=4)
    assert houat_index.manifest["bucketed_tables"]["houat_cells_bucketed_t"] == 4
    base = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(golden_points_df, houat_index).collect()
    }
    via_manifest = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(
            golden_points_df, houat_index, strategy="bucketed",
            bucketed_table="houat_cells_bucketed_t",
        ).collect()
    }
    assert via_manifest == base
    # catalog fallback: drop the manifest entry
    del houat_index.manifest["bucketed_tables"]["houat_cells_bucketed_t"]
    via_catalog = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(
            golden_points_df, houat_index, strategy="bucketed",
            bucketed_table="houat_cells_bucketed_t",
        ).collect()
    }
    assert via_catalog == base


def test_random_layer_differential(spark):
    """Randomized differential test through the full auto-params path:
    a fresh wobbly multi-polygon layer + random points, every physical
    strategy vs the brute exact-PIP oracle. Guards the whole
    cover->index->join chain (incl. the round-2 deeper auto interior
    covers) against subtle conservativeness regressions."""
    import math

    import pandas as pd

    rng = np.random.default_rng(97)
    loops = []
    for fid in range(30):
        cx = rng.uniform(-3.0, 6.0)
        cy = rng.uniform(44.0, 49.0)
        nv = int(rng.integers(6, 24))
        radii = rng.uniform(0.05, 0.35, nv)
        ring = []
        for k in range(nv):
            ang = 2 * math.pi * k / nv
            ring.append([cx + radii[k] * math.cos(ang), cy + radii[k] * math.sin(ang)])
        ring.append(list(ring[0]))
        loops.append({"feature_id": fid, "loop_pos": 0, "ring": ring,
                      "properties": {}, "admin_level": None})
    from insideout_spark.plans.index_build import build_index

    idx = build_index(spark, loops)  # auto params path
    pts = pd.DataFrame({
        "point_id": np.arange(3000, dtype=np.int64),
        "lat": rng.uniform(43.5, 49.5, 3000),
        "lng": rng.uniform(-3.5, 6.5, 3000),
    })
    pdf = spark.createDataFrame(pts)

    oracle = set()
    rings = {r["feature_id"]: np.asarray(r["ring"]) for r in loops}
    for fid, ring in rings.items():
        inside = geo_pip.points_in_ring(pts["lng"].to_numpy(), pts["lat"].to_numpy(), ring)
        for pid in pts["point_id"].to_numpy()[inside]:
            oracle.add((int(pid), fid, 0))
    assert len(oracle) > 100  # the layer actually covers points

    for strategy in (None, "jvm", "fused", "salted"):
        got = {
            (r["point_id"], r["feature_id"], r["loop_pos"])
            for r in pip_join(
                pdf, idx, id_cols=("point_id",), include_properties=False,
                strategy=strategy,
            ).collect()
        }
        assert got == oracle, strategy


def test_default_is_fused_stab(spark, houat_index, golden_points_df):
    """For an index inside the fused packing, the default plan is the
    one-pass MapInPandas stab (no fij_key join) with the fused rows."""
    default = pip_join(golden_points_df, houat_index)
    plan = _plan(default)
    assert "MapInPandas" in plan and "fij_key" not in plan
    fused = pip_join(golden_points_df, houat_index, strategy="fused")
    assert _hit_rows(default) == _hit_rows(fused)


@pytest.mark.parametrize(
    "remap",
    [
        pytest.param(lambda fid, pos: (fid - 3, pos), id="negative_feature_id"),
        pytest.param(lambda fid, pos: (fid, pos + (1 << 16)), id="wide_loop_pos"),
        pytest.param(
            lambda fid, pos: (fid + (1 << 30), pos - (1 << 20)), id="wide_both"
        ),
    ],
)
def test_default_fused_handles_any_int_ids(
    spark, houat_loops, houat_index, golden_points_df, remap
):
    """The fused stab packs a dense loop ordinal, not the raw ids: for an
    index with negative or wide feature_id / loop_pos the default still
    plans the MapInPandas stab and returns the rows of an explicit jvm
    call, which equal the in-range index's rows with the ids remapped.
    The props cache dies with release()."""
    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index

    loops = []
    for lr in houat_loops:
        fid, pos = remap(lr["feature_id"], lr["loop_pos"])
        loops.append({**lr, "feature_id": fid, "loop_pos": pos})
    idx = build_index(
        spark, loops, CoverParams(10, 16, 24), CoverParams(10, 15, 16),
        warning_cells_cover=100,
    )
    try:
        default = pip_join(golden_points_df, idx)
        plan = _plan(default)
        assert "MapInPandas" in plan and "fij_key" not in plan
        got = _hit_rows(default)
        assert got == _hit_rows(pip_join(golden_points_df, idx, strategy="jvm"))
        want = sorted(
            (url, *remap(fid, pos), sure)
            for url, fid, pos, sure in _hit_rows(
                pip_join(golden_points_df, houat_index, strategy="jvm")
            )
        )
        assert got == want and len(got) > 0
        # every query joins the one cached props projection; release frees it
        props = idx.props()
        assert props.is_cached and idx.props() is props
    finally:
        idx.release()
    assert not props.is_cached


def test_fused_ray_cast_chunks_many_vertex_ring(spark):
    """A 4000-vertex ring leaves the default ray-cast budget room for
    only 16 points per block, so the fused stab tests its boundary
    residue (one batch) in several blocks; the rows equal the jvm edge
    join's."""
    import math

    import pandas as pd

    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index

    n_vert = 4000
    ring = [
        [2.35 + 0.05 * math.cos(2 * math.pi * k / n_vert),
         48.85 + 0.05 * math.sin(2 * math.pi * k / n_vert)]
        for k in range(n_vert)
    ]
    ring.append(list(ring[0]))
    idx = build_index(
        spark,
        [{"feature_id": 0, "loop_pos": 0, "ring": ring, "properties": {},
          "admin_level": None}],
        CoverParams(10, 16, 24), CoverParams(10, 15, 16), warning_cells_cover=100,
    )
    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(2000, dtype=np.int64),
        "lat": rng.uniform(48.79, 48.91, 2000),
        "lng": rng.uniform(2.29, 2.41, 2000),
    })).coalesce(1)

    def rows(strategy):
        return _hit_rows(
            pip_join(pts, idx, id_cols=("point_id",), include_properties=False,
                     strategy=strategy),
            "point_id",
        )

    try:
        fused = rows("fused")
        # every non-sure hit went through the ray cast in one batch
        step = geo_pip.RAY_CAST_MAX_ELEMS // n_vert
        assert sum(not sure for *_, sure in fused) > 2 * step
        assert fused == rows("jvm")
    finally:
        idx.release()


@pytest.fixture(scope="module")
def levels_index(spark):
    """Four overlapping squares near Paris, two of them with a NULL
    admin_level."""
    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index

    loops = []
    for fid, (x0, y0, level) in enumerate(
        [(2.30, 48.80, None), (2.35, 48.82, 6.0), (2.32, 48.85, None), (2.28, 48.78, 8.0)]
    ):
        ring = [[x0, y0], [x0 + 0.08, y0], [x0 + 0.08, y0 + 0.06], [x0, y0 + 0.06], [x0, y0]]
        loops.append({"feature_id": fid, "loop_pos": 0, "ring": ring,
                      "properties": {"name": f"sq{fid}"}, "admin_level": level})
    idx = build_index(
        spark, loops, CoverParams(10, 16, 24), CoverParams(10, 15, 16),
        warning_cells_cover=100,
    )
    yield idx
    idx.release()


@pytest.mark.parametrize("include_properties", [False, True])
@pytest.mark.parametrize(
    "top", [{}, {"stop_on_first": True}, {"ordered": True}], ids=["all", "first", "ordered"]
)
def test_fused_equals_jvm_full_rows(spark, levels_index, include_properties, top):
    """The fused stab returns the jvm arm's rows in full, admin_level
    and properties included, in the same column order. Points with a
    NULL or NaN coordinate hit nothing on either arm."""
    from collections import Counter

    rng = np.random.default_rng(17)
    rows = [
        (i, float(la), float(ln))
        for i, (la, ln) in enumerate(
            zip(rng.uniform(48.77, 48.92, 400), rng.uniform(2.27, 2.44, 400))
        )
    ]
    nan = float("nan")
    bad = [(1000, None, 2.35), (1001, 48.85, None), (1002, nan, 2.35),
           (1003, 48.85, nan), (1004, nan, nan), (1005, None, None)]
    pts = spark.createDataFrame(rows + bad, "point_id long, lat double, lng double")

    def run(strategy):
        df = pip_join(pts, levels_index, id_cols=("point_id",), strategy=strategy,
                      include_properties=include_properties, **top)
        return df.columns, Counter(
            tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
            for r in df.collect()
        )

    fused_cols, fused = run("fused")
    jvm_cols, jvm = run("jvm")
    assert fused_cols == jvm_cols
    assert fused_cols[:7] == [
        "feature_id", "loop_pos", "point_id", "lat", "lng", "is_sure_hit",
        "properties" if include_properties else "admin_level",
    ]
    assert fused == jvm
    levels = {r[fused_cols.index("admin_level")] for r in fused}
    assert None in levels and levels - {None}
    assert not {r[2] for r in fused} & {b[0] for b in bad}


def test_nan_admin_level_is_null_on_every_strategy(spark):
    """A GeoJSON `"admin_level": "nan"` parses to NULL, like an
    unparsable level, so the fused stab (which ships levels as float64
    with NaN for NULL) and the jvm arm return identical rows."""
    import json

    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.geo.geojson import parse_feature_collection
    from insideout_spark.plans.index_build import build_index

    ring = [[2.30, 48.80], [2.38, 48.80], [2.38, 48.86], [2.30, 48.86], [2.30, 48.80]]
    fc = {"type": "FeatureCollection", "features": [{
        "type": "Feature",
        "properties": {"name": "sq", "admin_level": "nan"},
        "geometry": {"type": "Polygon", "coordinates": [ring]},
    }]}
    loops = parse_feature_collection(json.dumps(fc))
    assert loops[0]["admin_level"] is None
    idx = build_index(spark, loops, CoverParams(10, 16, 24), CoverParams(10, 15, 16))
    try:
        pts = spark.createDataFrame([(1, 48.83, 2.34)], "point_id long, lat double, lng double")
        fused, jvm = (
            pip_join(pts, idx, id_cols=("point_id",), strategy=s).collect()
            for s in ("fused", "jvm")
        )
        assert fused == jvm and len(fused) == 1
        assert fused[0]["admin_level"] is None
    finally:
        idx.release()
