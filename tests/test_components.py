"""Connected components (dedup closer): randomized differential vs a
python union-find, convergence on long paths, and representative
counts. The cross-engine gate (vs the DuckDB recursive-CTE oracle) is
in test_entry_contract.py / the driver round."""

import numpy as np
import pytest

from insideout_spark.plans import components
from insideout_spark.plans.components import (
    connected_components,
    dedup_cluster_representatives,
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_components_match_union_find(spark, seed):
    rng = np.random.default_rng(seed)
    n_nodes = 300
    pairs = [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, (400, 2))
        if a != b
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component_id"] for r in connected_components(df).collect()
    }
    want = _union_find(pairs)
    assert got == want


def test_components_long_path_converges(spark):
    """A 60-node path is the slow case for min-label propagation (one
    hop per round x geometric double-union actually spreads faster);
    must converge well inside max_iters and label everything 0."""
    pairs = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(61)}


def test_components_star_contraction_fallback(spark, monkeypatch):
    """A tiny round budget (max_iters=3, reach ~14/level) forces the
    star-contraction escape hatch on a 60-node path (diameter beyond
    one level's reach): the composed contracted-graph labels must
    still resolve exactly, proving the declared fallback is real
    (VERDICT r03 'Next round' #6)."""
    pairs = [(i, i + 1) for i in range(60)] + [(500, 501), (501, 502), (700, 900)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    # a zero driver cap forces the distributed loop (r06: small graphs
    # otherwise take the numpy fast path and never hit the budget)
    monkeypatch.setattr(components, "_CC_DRIVER_EDGES", 0)
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(df, max_iters=3).collect()
    }
    want = _union_find(pairs)
    assert got == want


def test_components_fallback_matches_normal_path(spark, monkeypatch):
    """Random graph: the fallback path (tiny budget) and the normal
    path must produce identical labelings."""
    rng = np.random.default_rng(11)
    pairs = [
        (int(a), int(b)) for a, b in rng.integers(0, 200, (250, 2)) if a != b
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    normal = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    monkeypatch.setattr(components, "_CC_DRIVER_EDGES", 0)
    fb = {
        r["node"]: r["component_id"]
        for r in connected_components(df, max_iters=2).collect()
    }
    assert fb == normal


def test_driver_and_distributed_paths_identical(spark, monkeypatch):
    """r06: the size-gated driver-side numpy fast path and the
    distributed label-propagation loop must produce the identical
    labeling (same fixpoint: component_id = min node id)."""
    rng = np.random.default_rng(23)
    pairs = [
        (int(a), int(b)) for a, b in rng.integers(0, 500, (900, 2))
    ] + [(77, 77)]  # self-loop: node must still appear in the output
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    monkeypatch.setattr(components, "_CC_DRIVER_EDGES", 0)
    dist = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    assert fast == dist
    assert 77 in fast


def test_cluster_representatives(spark):
    pairs = [(1, 2), (2, 3), (7, 9), (4, 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    reps = {
        r["component_id"]: r["n_members"]
        for r in dedup_cluster_representatives(df).collect()
    }
    assert reps == {1: 4, 7: 2}
