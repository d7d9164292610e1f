"""Hot-cell skew handling + kNN auto strategy + packaged-zip import."""

import os
import zipfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from insideout_spark.functions.s2_expr import with_fij_keys
from insideout_spark.plans.knn import knn_brute, knn_join
from insideout_spark.sources import pages as src_pages


def test_synth_pages_are_skewed(spark):
    """FIXTURES.md §1: ~30% of pages snap to one hot cell — the skew the
    salted path exists for."""
    pts = src_pages.extract_points(src_pages.synth_pages(spark, 2000, partitions=4))
    keyed = with_fij_keys(pts, "lat", "lng", 10, 10)
    top = keyed.groupBy("fij_key").count().orderBy(F.desc("count")).first()
    assert top["count"] >= 0.25 * 2000


def test_salt_distributes_hot_cell(spark):
    """The salted probe side spreads the hot cell's points across all S
    buckets (xxhash64 of the point id), so no reducer sees the whole
    hot cell."""
    s = 8
    pts = src_pages.extract_points(src_pages.synth_pages(spark, 2000, partitions=4))
    keyed = with_fij_keys(pts, "lat", "lng", 10, 10).withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(s)).cast("int")
    )
    hot = keyed.groupBy("fij_key").count().orderBy(F.desc("count")).first()["fij_key"]
    dist = (
        keyed.filter(F.col("fij_key") == hot)
        .groupBy("salt")
        .count()
        .collect()
    )
    counts = {r["salt"]: r["count"] for r in dist}
    assert len(counts) == s  # every bucket hit
    assert max(counts.values()) < 0.35 * sum(counts.values())  # no bucket dominates


def test_knn_join_auto_matches_cells(spark, monkeypatch):
    """knn_join(auto) takes the brute arm on target sets of at most
    KNN_BROADCAST_TARGETS rows and the cell-ring join past it; both
    return knn_brute's rows."""
    import pandas as pd

    from insideout_spark.plans import knn

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"point_id": np.arange(200), "lat": rng.uniform(44, 50, 200), "lng": rng.uniform(-3, 6, 200)}
        )
    )
    tgt = spark.createDataFrame(
        pd.DataFrame(
            {"target_id": np.arange(25), "lat": rng.uniform(44, 50, 25), "lng": rng.uniform(-3, 6, 25)}
        )
    )
    auto = {(r["point_id"], r["target_id"], r["rank"]) for r in knn_join(pts, tgt, 3).collect()}
    brute = {(r["point_id"], r["target_id"], r["rank"]) for r in knn_brute(pts, tgt, 3).collect()}
    assert auto == brute
    cell_calls = []
    cell_join = knn.knn_cell_join
    monkeypatch.setattr(
        knn, "knn_cell_join", lambda *a, **kw: cell_calls.append(1) or cell_join(*a, **kw)
    )
    for cap, routed in ((25, []), (24, [1])):
        monkeypatch.setattr(knn, "KNN_BROADCAST_TARGETS", cap)
        got = {(r["point_id"], r["target_id"], r["rank"]) for r in knn_join(pts, tgt, 3).collect()}
        assert cell_calls == routed and got == brute


def test_packaged_zip_is_importable(tmp_path):
    """dist/insideout_spark.zip (the --py-files artifact) contains the
    full package and is importable from the zip alone."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(root, "dist", "insideout_spark.zip")
    if not os.path.exists(zip_path):
        subprocess.run(["sh", os.path.join(root, "package.sh")], check=True)
    names = zipfile.ZipFile(zip_path).namelist()
    assert "insideout_spark/geo/s2.py" in names
    assert "insideout_spark/plans/pip_join.py" in names
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "import insideout_spark.geo.s2 as s2; import numpy as np; "
         "print(int(s2.level(s2.latlng_to_cell(np.array([47.0]), np.array([2.0])))[0]))",
         zip_path],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert out.stdout.strip() == "30", out.stderr


def test_bucketed_index_join_no_index_shuffle(spark, houat_index, tmp_path):
    """A bucketed cell-index table joins on fij_key without an Exchange
    on the index side (co-located join for non-broadcastable layers)."""
    from insideout_spark.plans.index_build import save_index_bucketed

    import uuid

    name = f"bidx_cells_{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    save_index_bucketed(houat_index, name, n_buckets=8)
    t = spark.table(name)
    pts = src_pages.extract_points(src_pages.synth_pages(spark, 500, partitions=4))
    keyed = with_fij_keys(pts, "lat", "lng", 10, 16).repartition(8, "fij_key")
    joined = keyed.join(t, "fij_key")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" in plan  # the bucketed table scan
    # only the probe side repartition exchanges; the bucketed index side
    # joins shuffle-free
    assert plan.count("Exchange") <= 2
    assert joined.count() > 0  # golden hits flow through
    spark.sql(f"DROP TABLE IF EXISTS {name}")
