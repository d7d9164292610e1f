"""The one per-call cache registry (plans/matreg.py): every producer that
persists a frame per call releases the previous call's entries through
it, and an entry whose unpersist raises is dropped, not re-raised."""

from __future__ import annotations

import numpy as np
import pytest

from insideout_spark.plans import matreg


class _StaleEntry:
    """An entry left by a SparkContext that has since been stopped: its
    blocks died with that context, and unpersist on it raises (py4j
    reports a dead JVM object)."""

    def unpersist(self):
        raise RuntimeError("unpersist on an object of a stopped context")


def _minhash(spark):
    from insideout_spark.plans.webtext import minhash_lsh_pairs

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, text), (2, text + " today"), (3, "an unrelated line of words")],
        "doc_id long, text string",
    )
    return minhash_lsh_pairs(docs, threshold=0.35).count()


def _knn(spark):
    from insideout_spark.plans.knn import knn_cell_join

    rng = np.random.default_rng(5)

    def frame(id_col, n):
        rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(
            zip(rng.uniform(44.0, 50.0, n), rng.uniform(-3.0, 6.0, n))
        )]
        return spark.createDataFrame(rows, f"{id_col} long, lat double, lng double")

    return knn_cell_join(frame("point_id", 60), frame("target_id", 20), k=3, res=5).count()


def _ordinals(spark):
    from insideout_spark.plans.ids import global_ordinals

    return global_ordinals(spark.range(50).withColumnRenamed("id", "doc_id")).count()


@pytest.mark.parametrize(
    "key, run",
    [("signatures", _minhash), ("knn_rounds", _knn), ("global_ordinals", _ordinals)],
    ids=["minhash_lsh_pairs", "knn_cell_join", "global_ordinals"],
)
def test_stale_registry_entry_is_dropped(spark, key, run):
    """A producer runs over a stale entry under its key and drops it."""
    stale = matreg.keep(key, _StaleEntry())
    assert run(spark) > 0
    assert not any(o is stale for o in matreg._REG.get(key, []))
    matreg.release(key)
