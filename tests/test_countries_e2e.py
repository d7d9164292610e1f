"""Countries-scale E2E (SURVEY.md §5): for a 177-feature global layer,
every synthesized point's final feature set must equal the brute-force
exact-PIP oracle; plus the reference result-ordering contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from insideout_spark.geo import pip as geo_pip
from insideout_spark.plans.index_build import build_index
from insideout_spark.plans.pip_join import pip_join
from insideout_spark.sources.polygons import synth_countries_loops


@pytest.fixture(scope="module")
def countries(spark):
    loops = synth_countries_loops(177)
    idx = build_index(spark, loops)  # auto cover params (coarse levels)
    return loops, idx


@pytest.fixture(scope="module")
def global_points(spark):
    import pandas as pd

    rng = np.random.default_rng(2024)
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(2000, dtype=np.int64),
            "lat": rng.uniform(-65.0, 70.0, 2000),
            "lng": rng.uniform(-179.5, 179.5, 2000),
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def test_countries_e2e_matches_oracle(spark, countries, global_points):
    loops, idx = countries
    df, pdf = global_points
    def hits(strategy):
        return {
            (r["point_id"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
            for r in pip_join(
                df, idx, id_cols=("point_id",), include_properties=False,
                strategy=strategy,
            ).collect()
        }

    by_arm = {s: hits(s) for s in (None, "fused", "jvm")}
    assert by_arm[None] == by_arm["fused"] == by_arm["jvm"]
    got = {hit[:3] for hit in by_arm[None]}
    rings = [(r["feature_id"], r["loop_pos"], np.asarray(r["ring"])) for r in loops]
    want = set()
    lats = pdf["lat"].to_numpy()
    lngs = pdf["lng"].to_numpy()
    for fid, pos, ring in rings:
        inside = geo_pip.points_in_ring(lngs, lats, ring)
        for i in np.flatnonzero(inside):
            want.add((int(pdf["point_id"][i]), fid, pos))
    assert got == want
    assert len(want) > 100  # the layer actually covers a chunk of the globe


def test_result_ordering_contract(spark, countries, global_points):
    """ordered=True: per point, admin_level asc nulls last then
    (feature_id, loop_pos) — reference server/server.go:287-294."""
    _, idx = countries
    df, _ = global_points
    res = pip_join(df.limit(500), idx, id_cols=("point_id",), ordered=True).collect()
    # verify sort key is monotone over the collected order
    keys = [
        (
            r["point_id"],
            r["admin_level"] if r["admin_level"] is not None else float("inf"),
            r["feature_id"],
            r["loop_pos"],
        )
        for r in res
    ]
    assert keys == sorted(keys)
