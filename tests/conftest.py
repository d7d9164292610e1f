"""Shared fixtures.

tests/golden/houat.geojson is the reference's single test fixture
(reference index/testdata/poly.geojson — FIXTURES.md §2 instructs
embedding it verbatim): 1 feature, MultiPolygon of 3 outer-ring-only
polygons, used by all three reference strategy suites
(index/{treeindex,dbindex,shapeindex}/index_test.go).
"""

from __future__ import annotations

import os

import pytest

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="session")
def spark():
    from insideout_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark("insideout-tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def houat_loops():
    from insideout_spark.sources.polygons import load_geojson_loops

    return load_geojson_loops(os.path.join(GOLDEN_DIR, "houat.geojson"))


@pytest.fixture(scope="session")
def houat_index(spark, houat_loops):
    """Index with the exact reference test coverer params
    (index/treeindex/index_test.go:120-129, FIXTURES.md §3)."""
    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index

    return build_index(
        spark,
        houat_loops,
        CoverParams(10, 16, 24),
        CoverParams(10, 15, 16),
        warning_cells_cover=100,
    )


@pytest.fixture
def jobs_started(spark):
    """`jobs_started(build)`: the Spark jobs started while `build()`
    runs, counted by job group."""
    import uuid

    sc = spark.sparkContext

    def count(build) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus, which runs behind
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running suites (the full driver-gate replica, sf1 "
        "dir-gated scale gates); deselect with -m 'not slow' for the "
        "inner loop — CI/driver rounds run everything",
    )
