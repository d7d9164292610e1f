"""Streaming stab join (availableNow) + GeoJSON export sink."""

import json

import pytest
from pyspark.sql import functions as F

from insideout_spark.plans.export import results_to_geojson, write_results
from insideout_spark.plans.pip_join import pip_join
from insideout_spark.sources import pages as src_pages
from insideout_spark.streaming.stream_pip import run_stream, stream_pages


def test_streaming_matches_batch(spark, houat_index, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    pages = src_pages.synth_pages(spark, 300, partitions=3)
    pages.write.parquet(in_dir)

    q = run_stream(stream_pages(spark, in_dir, max_files=1), houat_index, out_dir, ck_dir)
    q.awaitTermination(120)

    got = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["url"], r["feature_id"], r["loop_pos"])
        for r in pip_join(
            src_pages.extract_points(pages), houat_index, include_properties=False
        ).collect()
    }
    assert got == want and len(want) > 0


def test_geojson_export(spark, houat_index):
    pts = src_pages.extract_points(src_pages.synth_pages(spark, 10, partitions=1))
    res = pip_join(pts, houat_index)
    gj = results_to_geojson(res, houat_index).collect()
    assert len(gj) > 0
    for r in gj:
        feat = json.loads(r["feature_geojson"])
        ring = feat["geometry"]["coordinates"][0]
        assert ring[0] == ring[-1]  # closed, like server/http.go:123
        assert feat["properties"]["insided_fid"] == r["feature_id"]
        assert feat["properties"]["insided_loop_index"] == r["loop_pos"]
        assert feat["properties"]["nom"] == "Île-d'Houat"


def test_write_results(spark, houat_index, tmp_path):
    pts = src_pages.extract_points(src_pages.synth_pages(spark, 50, partitions=2))
    res = pip_join(pts, houat_index)
    path = str(tmp_path / "res")
    write_results(res, path)
    back = spark.read.parquet(path)
    assert back.count() == res.count()
    assert dict(back.dtypes)["properties"] == "string"  # JSON-flattened


def test_get_feature(spark, houat_index):
    from insideout_spark.plans.export import get_feature

    f = get_feature(houat_index, 0, 1)
    assert f["properties"]["nom"] == "Île-d'Houat"
    assert len(f["ring"]) == 56  # ring as stored (closing vertex included in source geojson)
    import pytest as _pytest

    with _pytest.raises(KeyError):
        get_feature(houat_index, 99, 0)
