"""Cross-strategy equality gate at realistic layer scale (VERDICT r02
'Next round' #4): the 35k-polygon communes-scale layer (auto cover
params land at levels ~11-16, depths the 400-rect oracle fixture never
touches) must produce IDENTICAL stab rows through every physical
strategy — the default, jvm (Catalyst edge join), fused (single Arrow
pass), shuffled-edges, and bucketed (co-located join, no index
Exchange).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from insideout_spark.plans.index_build import save_index_bucketed
from insideout_spark.plans.pip_join import pip_join
from insideout_spark.sources.polygons import synth_communes_loops

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def idx35(spark):
    from insideout_spark.plans.index_build import build_index

    entry_mod._prepare(spark)
    idx = build_index(spark, synth_communes_loops(35000))
    idx.edges()
    yield idx
    idx.release()


def _rows(df):
    return sorted(
        (r["point_id"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
        for r in df.select(
            "point_id", "feature_id", "loop_pos", "is_sure_hit"
        ).collect()
    )


def test_all_strategies_agree_at_35k(spark, idx35):
    pts = entry_mod._points(spark, SF_DIR)
    jvm = _rows(
        pip_join(pts, idx35, id_cols=("point_id",), include_properties=False,
                 strategy="jvm")
    )
    assert len(jvm) > 0  # the layer tiles the point bbox; hits exist
    default = _rows(pip_join(pts, idx35, id_cols=("point_id",), include_properties=False))
    assert default == jvm
    fused = _rows(
        pip_join(pts, idx35, id_cols=("point_id",), include_properties=False,
                 strategy="fused")
    )
    assert fused == jvm
    shuffled_edges = _rows(
        pip_join(pts, idx35, id_cols=("point_id",), include_properties=False,
                 strategy="jvm", broadcast_edges=False)
    )
    assert shuffled_edges == jvm
    save_index_bucketed(idx35, "communes35k_cells_bucketed", n_buckets=16)
    bucketed = _rows(
        pip_join(pts, idx35, id_cols=("point_id",), include_properties=False,
                 strategy="bucketed", bucketed_table="communes35k_cells_bucketed")
    )
    assert bucketed == jvm
