"""Scan hygiene: filters and projections must reach the parquet reader
(PushedFilters / ReadSchema) — the 'push down and prune' scale contract."""

import datetime as dt
import os

from pyspark.sql import functions as F

from insideout_spark.sources import pages as src_pages
from insideout_spark.sources.iceberg import iceberg_available, read_pages


def test_pages_filter_pushdown(spark, tmp_path):
    path = str(tmp_path / "pages_pq")
    src_pages.synth_pages(spark, 2000, partitions=4).write.parquet(path)

    since = dt.datetime(2024, 1, 1, 0, 10, 0)
    df = read_pages(spark, path, since_ts=since)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "warc_ts" in plan.split("PushedFilters")[1][:200]
    # and the filter is correct
    assert df.count() == 2000 - 600


def test_column_pruning_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "pages_pq2")
    src_pages.synth_pages(spark, 500, partitions=2).write.parquet(path)
    df = spark.read.parquet(path).select("url", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ReadSchema must carry only the projected columns — html (the big
    # binary column) must not be read for a 2-column projection
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in rs and "lang" in rs
    assert "html" not in rs and "text" not in rs


def test_iceberg_gate_reports_absent(spark):
    assert not iceberg_available(spark)  # no Iceberg jars in this container


def test_geojsonl_distributed_parse_matches_list_path(spark, houat_loops, houat_index, tmp_path):
    """load_geojsonl_df (planet-scale parse, no driver geometry) builds
    an index whose stab results equal the list-based path."""
    from insideout_spark.plans.index_build import build_index
    from insideout_spark.plans.pip_join import pip_join
    from insideout_spark.sources.polygons import dump_geojsonl, load_geojsonl_df

    path = str(tmp_path / "houat.geojsonl")
    with open(path, "w") as f:
        f.write(dump_geojsonl(houat_loops))
    feats = load_geojsonl_df(spark, path)
    rows = feats.orderBy("feature_id", "loop_pos").collect()
    assert [(r["feature_id"], r["loop_pos"]) for r in rows] == [(0, 0), (0, 1), (0, 2)]
    assert rows[1]["properties"]["nom"] == "Île-d'Houat"

    from insideout_spark.geo.cover import CoverParams

    idx = build_index(spark, feats, CoverParams(10, 16, 24), CoverParams(10, 15, 16), 100)
    pts = src_pages.extract_points(src_pages.synth_pages(spark, 200, partitions=2))
    a = {(r["url"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
         for r in pip_join(pts, idx, include_properties=False).collect()}
    b = {(r["url"], r["feature_id"], r["loop_pos"], r["is_sure_hit"])
         for r in pip_join(pts, houat_index, include_properties=False).collect()}
    assert a == b and len(a) > 0


def test_auto_params_df(spark, houat_loops):
    """One auto-params path: a row list and the same rows as a features
    DataFrame get the same cover params — an even loop count (the
    median averages the two middle diagonals, 0.9 and 1.05 deg here;
    the upper one alone picks a level one coarser), the houat fixture,
    and an empty layer, which gets the reference test coverers'
    defaults."""
    from insideout_spark.geo.cover import DEFAULT_EXTERIOR, DEFAULT_INTERIOR
    from insideout_spark.plans.index_build import build_index, features_df

    def rect(fid, x0, dx, dy):
        ring = [[x0, 47.0], [x0 + dx, 47.0], [x0 + dx, 47.0 + dy], [x0, 47.0 + dy], [x0, 47.0]]
        return {"feature_id": fid, "loop_pos": 0, "ring": ring, "properties": {}}

    keys = ("interior_params", "exterior_params", "min_cover_level", "max_cover_level")
    for rows in ([rect(1, 1.0, 0.54, 0.72), rect(2, 3.0, 0.63, 0.84)], houat_loops, []):
        a = build_index(spark, rows).manifest
        b = build_index(spark, features_df(spark, rows)).manifest
        assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
    assert (a["interior_params"], a["exterior_params"]) == (
        list(DEFAULT_INTERIOR), list(DEFAULT_EXTERIOR)
    )


def test_geocode_pipeline_end_to_end(spark, houat_index):
    """Full curation pipeline: dedup + lang filter + stab + tiles."""
    import datetime as dt

    from insideout_spark.plans.pipeline import curate_pages, geocode_pipeline

    base = src_pages.synth_pages(spark, 120, partitions=3)
    # plant an exact duplicate of page 1 (the interior-cover golden hit)
    dup = base.filter(F.col("url") == "https://example.org/00000001").withColumn(
        "url", F.lit("https://example.org/zzdup")
    )
    pages = base.unionByName(dup)

    curated = curate_pages(pages)
    urls = {r["url"] for r in curated.select("url").collect()}
    # exactly one of the identical pair survives (the lower url)
    assert ("https://example.org/00000001" in urls) != ("https://example.org/zzdup" in urls)

    out = geocode_pipeline(pages, houat_index)
    rows = out.collect()
    assert len(rows) > 0
    cols = set(out.columns)
    assert {"url", "feature_id", "loop_pos", "is_sure_hit", "s2_cell_l10", "grid_cell_r7"} <= cols
    golden = [r for r in rows if r["url"].endswith("00000001") or r["url"].endswith("zzdup")]
    assert len(golden) == 1 and golden[0]["is_sure_hit"]


def test_postgis_gated_source(spark):
    """S6/J4 parity (runtime-gated like Iceberg): the stab SQL matches
    the reference query shape (index/postgis/postgis.go:40-68), and the
    JDBC paths fail with a clear message when no driver jar exists."""
    import pytest

    from insideout_spark.sources import postgis

    sql = postgis.stab_sql(2.35, 48.85)
    assert sql == (
        "SELECT ogc_fid FROM france WHERE ST_Contains(geom, "
        "ST_SetSRID(ST_MakePoint(2.35, 48.85), 4326))"
    )
    assert "ST_MakePoint(-1.1, 47.0)" in postgis.stab_sql(-1.1, 47.0, table="communes")
    if not postgis.jdbc_postgres_available(spark):
        with pytest.raises(RuntimeError, match="JDBC driver"):
            postgis.read_postgis(spark, "jdbc:postgresql://x/db", "france")
        with pytest.raises(RuntimeError, match="JDBC driver"):
            postgis.stab_postgis(spark, "jdbc:postgresql://x/db", [(2.35, 48.85)])
    # ADVICE r02: interpolated table identifiers are validated, and the
    # per-point UNION ALL stab enforces an explicit point-count bound
    with pytest.raises(ValueError, match="identifier"):
        postgis.stab_sql(2.35, 48.85, table="france; DROP TABLE x--")
    assert "public.communes" in postgis.stab_sql(0.0, 0.0, table="public.communes")
    with pytest.raises((ValueError, RuntimeError)) as ei:
        postgis.stab_postgis(
            spark, "jdbc:postgresql://x/db",
            [(0.0, 0.0)] * (postgis.MAX_STAB_POINTS + 1), table="france",
        )
    # the bound check must fire even where the driver jar gate trips
    # first is acceptable only if the message names one of the two
    assert "points" in str(ei.value) or "JDBC driver" in str(ei.value)
