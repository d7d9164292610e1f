"""Tests of the benchmark itself: seeded generators, the event-log fold
and the per-op correctness checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

# ------------------------------------------------------------------ generators


def _read_dir(path):
    import pyarrow.parquet as pq

    return [pq.read_table(os.path.join(path, f)) for f in sorted(os.listdir(path))]


def test_polygon_layer_deterministic_per_seed():
    a, b, c = gen.polygon_layer(7, 50), gen.polygon_layer(7, 50), gen.polygon_layer(8, 50)
    assert np.array_equal(a["rings"], b["rings"])
    assert not np.array_equal(a["rings"], c["rings"])


def test_pages_deterministic_per_seed_and_mix(tmp_path):
    layer = gen.polygon_layer(3, 40)
    a, b = gen.pages(3, 4000, layer), gen.pages(3, 4000, layer)
    assert a["text"] == b["text"] and a["url"] == b["url"]
    assert gen.pages(4, 4000, layer)["text"] != a["text"]
    shares = np.bincount(a["kind"], minlength=len(gen.KINDS)) / 4000
    for k, want in gen.PAGE_MIX.items():
        assert abs(shares[gen.KINDS.index(k)] - want) < 0.03
    gen.write_pages(str(tmp_path / "a"), a)
    gen.write_pages(str(tmp_path / "b"), b)
    assert all(x.equals(y) for x, y in zip(_read_dir(tmp_path / "a"), _read_dir(tmp_path / "b")))


def test_near_dup_corpus_deterministic_per_seed():
    a, b = gen.near_dup_corpus(5, 3000), gen.near_dup_corpus(5, 3000)
    assert a["text"] == b["text"] and np.array_equal(a["cluster"], b["cluster"])
    assert gen.near_dup_corpus(6, 3000)["text"] != a["text"]
    sizes = np.bincount(a["cluster"][a["cluster"] >= 0])
    assert sizes.min() >= 2 and sizes.max() > 2  # skewed cluster sizes


def test_polygons_round_trip(tmp_path):
    layer = gen.polygon_layer(1, 12)
    rows = gen.read_loop_rows(gen.write_polygons(str(tmp_path), layer))
    assert [r["feature_id"] for r in rows] == list(range(12))
    assert np.array_equal(np.asarray(rows[3]["ring"]), layer["rings"][3])


# ------------------------------------------------------------ event-log fold


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_fold_synthetic_log():
    lines = [
        _ev(
            "SparkListenerStageSubmitted",
            **{
                "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000},
                "Properties": {"spark.jobGroup.id": "plans.pip_join"},
            },
        ),
        _ev(
            "SparkListenerStageSubmitted",
            **{
                "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 2000},
                "Properties": {"spark.jobGroup.id": "run-id-1"},
            },
        ),
    ]
    for stage, launch, reason in ((0, 1100, "Success"), (0, 1300, "ExceptionFailure"), (1, 2050, "Success")):
        lines.append(
            _ev(
                "SparkListenerTaskEnd",
                **{
                    "Stage ID": stage,
                    "Stage Attempt ID": 0,
                    "Task End Reason": {"Reason": reason},
                    "Task Info": {
                        "Launch Time": launch,
                        "Accumulables": [
                            {"Name": "data sent to Python workers", "Update": "100"},
                            {"Name": "time to run Python workers", "Update": "250"},
                        ],
                    },
                    "Task Metrics": {
                        "Executor Run Time": 500,
                        "JVM GC Time": 20,
                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                        "Memory Bytes Spilled": 8,
                        "Disk Bytes Spilled": 4,
                    },
                },
            )
        )
    out = tracing.fold_event_log(lines, {"run-id-1": "streaming.stream_pip"})
    pj = out["plans.pip_join"]
    assert pj == {
        "run_s": 1.0,
        "gc_s": 0.04,
        "sched_wait_s": 0.4,
        "shuffle_write_bytes": 128,
        "spill_bytes": 24,
        "py_sent_bytes": 200.0,
        "py_run_s": 0.5,
        "task_failures": 1,
    }
    assert out["streaming.stream_pip"]["sched_wait_s"] == pytest.approx(0.05)
    assert out["streaming.stream_pip"]["task_failures"] == 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """local[2, 2]: two cores, a failed task is retried once."""
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.environ.update(run.host_settings(work))
    from pyspark.sql import SparkSession

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    builder = SparkSession.builder.master("local[2, 2]").config("spark.ui.enabled", "false")
    for k, v in {**tracing.EVENT_LOG_CONF, "spark.eventLog.dir": "file:" + log_dir}.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    s.log_dir = log_dir
    yield s
    s.stop()
    run.stop_jvm()


def test_fold_tiny_tagged_job(spark):
    """One tagged job: a Python stage over 3 partitions whose first task
    fails once, then a shuffle; an untagged job must stay out."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    def flaky(batches):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected task failure")
        yield from batches

    tr = tracing.Tracer(spark.sparkContext)
    with tr.span("plans.tiny.job"):
        rows = (
            spark.range(0, 3000, 1, 3)
            .mapInPandas(flaky, "id long")
            .groupBy((F.col("id") % 5).alias("k"))
            .count()
            .collect()
        )
    spark.range(10).count()  # untagged
    assert sorted(r["count"] for r in rows) == [600] * 5
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert tr.durations("plans.tiny.job")[0] > 0

    sc = spark.sparkContext
    path = os.path.join(spark.log_dir, sc.applicationId + ".inprogress")
    with open(path) as f:
        folded = tracing.fold_event_log(f.readlines())
    acc = folded["plans.tiny"]
    assert acc["task_failures"] == 1
    assert acc["run_s"] > 0 and acc["py_run_s"] > 0
    assert acc["py_sent_bytes"] > 3000 * 8  # every id crossed to Python
    assert acc["shuffle_write_bytes"] > 0
    assert set(folded) == {"plans.tiny"}  # the untagged job is left out


# ------------------------------------------------------ correctness checks


def test_geocode_fingerprint_matches_and_catches_corruption(spark, tmp_path):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from insideout_spark.geo.cover import CoverParams
    from insideout_spark.plans.index_build import build_index
    from insideout_spark.plans.pip_join import pip_join
    from insideout_spark.sources.pages import extract_points

    layer = gen.polygon_layer(9, 12)
    gen.write_pages(str(tmp_path / "pages"), gen.pages(9, 2000, layer))
    rows = gen.read_loop_rows(gen.write_polygons(str(tmp_path / "poly"), layer))
    want = check.expected_geocode(str(tmp_path / "pages" / "*.parquet"), layer["rings"])
    assert want["n"] > 1000

    idx = build_index(spark, rows, CoverParams(6, 12, 64), CoverParams(6, 11, 32), 100_000)
    hits = pip_join(
        extract_points(spark.read.parquet(str(tmp_path / "pages"))), idx, include_properties=False
    )

    def fingerprint(df):
        obs = Observation()
        check.observe_fingerprint(df, obs).write.format("noop").mode("overwrite").save()
        return check.normalize_fingerprint(obs.get)

    assert fingerprint(hits) == want
    one = hits.orderBy("url").first()["url"]
    assert fingerprint(hits.filter(F.col("url") != one)) != want  # a hit lost
    moved = hits.withColumn(
        "feature_id",
        F.when(F.col("url") == one, F.col("feature_id") + 1).otherwise(F.col("feature_id")),
    )
    assert fingerprint(moved) != want  # a hit in the wrong polygon
    idx.release()


def test_stream_hit_set_check_catches_corruption():
    want_frame = pd.DataFrame(
        {"url": ["a", "b", "c"], "feature_id": [1, 2, 2], "loop_pos": [0, 0, 0]}
    )
    want = check.hit_set(want_frame)
    assert check.same_hits(want_frame.iloc[::-1], want)
    assert not check.same_hits(want_frame.iloc[:2], want)  # a hit lost
    assert not check.same_hits(pd.concat([want_frame, want_frame.iloc[:1]]), want)  # duplicated
    wrong = want_frame.assign(feature_id=[1, 2, 3])
    assert not check.same_hits(wrong, want)


def test_cluster_check_catches_corruption():
    planted = check.cluster_sets([0, 1, 2, 3, 4, 5], [0, 0, 1, 1, 1, -1])
    cc = pd.DataFrame({"node": [0, 1, 2, 3, 4], "component_id": [0, 0, 2, 2, 2]})
    assert check.same_clusters(cc, planted)
    assert not check.same_clusters(cc.assign(component_id=[0, 0, 2, 2, 4]), planted)  # split
    assert not check.same_clusters(cc.assign(component_id=[0, 0, 0, 2, 2]), planted)  # merged
    assert not check.same_clusters(cc.iloc[1:], planted)  # a node lost
