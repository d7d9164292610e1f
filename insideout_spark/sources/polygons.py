"""Polygon sources: GeoJSON files and deterministic synthetic layers.

The reference ingests a GeoJSON FeatureCollection (cmd/indexer/
main.go:88-140). We add a deterministic synthetic "countries" layer (a
rectangular grid, FIXTURES.md §2) as the scale fixture — the reference
ne_110m layer is demo-only and never asserted.
"""

from __future__ import annotations

import json

from ..geo import geojson as geo_geojson


def load_geojson_loops(path: str):
    """Parse a GeoJSON file (optionally gzipped) into loop rows."""
    with open(path, "rb") as f:
        return geo_geojson.parse_feature_collection(f.read())


def load_geojsonl_df(spark, path: str):
    """Distributed parse of newline-delimited GeoJSON features
    (GeoJSONSeq / .geojsonl — the planet-scale interchange format) into
    the engine's features DataFrame. feature_id is the dense file order
    (zipWithIndex preserves text-file line order), matching the
    reference's order-of-appearance counter
    (storage/bbolt/storage.go:342-445). Parsing runs in mapInPandas, so
    a million-feature layer never touches the driver."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..plans.index_build import FEATURES_SCHEMA

    lines = spark.read.text(path).rdd.map(lambda r: r[0]).zipWithIndex()
    base = lines.toDF(["line", "feature_id"])

    def parse(batches):
        import json as _json

        import pandas as pd

        from ..geo import geojson as geo_geojson

        for pdf in batches:
            out = {
                k: []
                for k in (
                    "feature_id", "loop_pos", "ring", "properties",
                    "properties_json", "admin_level",
                )
            }
            for fid, line in zip(pdf["feature_id"], pdf["line"]):
                line = line.strip()
                if not line:
                    continue
                fc = {"type": "FeatureCollection", "features": [_json.loads(line)]}
                for row in geo_geojson.parse_feature_collection(_json.dumps(fc)):
                    out["feature_id"].append(int(fid))
                    out["loop_pos"].append(row["loop_pos"])
                    out["ring"].append(row["ring"])
                    out["properties"].append(row["properties"])
                    out["properties_json"].append(row["properties_json"])
                    out["admin_level"].append(row["admin_level"])
            yield pd.DataFrame(out)

    return base.mapInPandas(parse, schema=FEATURES_SCHEMA)


def dump_geojsonl(loop_rows) -> str:
    """Features -> newline-delimited GeoJSON (one feature per line,
    loops regrouped into MultiPolygons)."""
    import json as _json

    from ..geo.geojson import ring_to_geojson_feature

    by_fid: dict = {}
    for r in loop_rows:
        by_fid.setdefault(r["feature_id"], []).append(r)
    lines = []
    for fid in sorted(by_fid):
        rows = sorted(by_fid[fid], key=lambda r: r["loop_pos"])
        polys = []
        for r in rows:
            ring = [list(map(float, v)) for v in r["ring"]]
            if ring[0] != ring[-1]:
                ring.append(ring[0])
            polys.append([ring])
        feat = {
            "type": "Feature",
            "properties": rows[0].get("properties") or {},
            "geometry": {"type": "MultiPolygon", "coordinates": polys},
        }
        lines.append(_json.dumps(feat))
    return "\n".join(lines)


def synth_countries_loops(n: int = 177):
    """Deterministic grid of n rectangular 'country' polygons over
    mid-latitudes. Rectangles in lng/lat with a gap between neighbors so
    membership is unambiguous; admin_level cycles 2..8 to exercise the
    result ordering (reference server/server.go:287-294)."""
    rows = []
    cols = 20
    for fid in range(n):
        r, c = divmod(fid, cols)
        lng0 = -178.0 + c * 17.8
        lat0 = -58.0 + r * 12.4
        lng1 = lng0 + 16.0
        lat1 = lat0 + 10.9
        ring = [
            [lng0, lat0],
            [lng1, lat0],
            [lng1, lat1],
            [lng0, lat1],
            [lng0, lat0],
        ]
        rows.append(
            {
                "feature_id": fid,
                "loop_pos": 0,
                "ring": ring,
                "properties": {"name": f"country-{fid:03d}", "admin_level": str(2 + fid % 7)},
                "admin_level": float(2 + fid % 7),
            }
        )
    return rows


def france_rects_loops(n: int = 16):
    """Deterministic rectangles tiling the reference loadtester's France
    bbox (cmd/loadtester/main.go:33-38) with half-cell offsets so no
    synthetic point ever lands exactly on an edge (FIXTURES.md §6).
    Overlapping 'admin levels': one big rect (level 2) + a 4x4 grid
    (level 6) — every grid hit is also a big-rect hit, exercising
    multi-feature results and ordering."""
    lat0, lat1, lng0, lng1 = 46.63, 49.10, -1.10, 5.5
    rows = [
        {
            "feature_id": 0,
            "loop_pos": 0,
            "ring": [
                [lng0 - 0.01, lat0 - 0.01],
                [lng1 + 0.01, lat0 - 0.01],
                [lng1 + 0.01, lat1 + 0.01],
                [lng0 - 0.01, lat1 + 0.01],
                [lng0 - 0.01, lat0 - 0.01],
            ],
            "properties": {"name": "bbox", "admin_level": "2"},
            "admin_level": 2.0,
        }
    ]
    side = 4
    dlat = (lat1 - lat0) / side
    dlng = (lng1 - lng0) / side
    fid = 1
    for r in range(side):
        for c in range(side):
            if fid > n:
                break
            a0 = lat0 + r * dlat + 0.0137
            a1 = lat0 + (r + 1) * dlat - 0.0137
            o0 = lng0 + c * dlng + 0.0159
            o1 = lng0 + (c + 1) * dlng - 0.0159
            rows.append(
                {
                    "feature_id": fid,
                    "loop_pos": 0,
                    "ring": [[o0, a0], [o1, a0], [o1, a1], [o0, a1], [o0, a0]],
                    "properties": {"name": f"dept-{fid:02d}", "admin_level": "6"},
                    "admin_level": 6.0,
                }
            )
            fid += 1
    return rows


def synth_communes_loops(n: int = 400, vertices: int = 48):
    """Deterministic communes-like layer: n wobbly polygons (48 vertices
    each) tiling the reference loadtester's France bbox — a synthetic
    stand-in for the fr-communes dataset the reference benchmarks
    against (README.md:93-95). Non-overlapping wobbled radial polygons
    on a grid; admin_level 8 like French communes."""
    import math

    import numpy as np

    lat0, lat1, lng0, lng1 = 46.63, 49.10, -1.10, 5.5
    cols = int(math.sqrt(n * (lng1 - lng0) / (lat1 - lat0)))
    rows_n = (n + cols - 1) // cols
    dlng = (lng1 - lng0) / cols
    dlat = (lat1 - lat0) / rows_n
    # vectorized ring generation (r06): the per-vertex Python loop cost
    # 2.3 s of the timed 35k index build; one (n, vertices) numpy
    # broadcast computes the identical IEEE doubles (same sin/cos/fma-
    # free expressions, same order) in ~0.1 s
    fids = np.arange(n, dtype=np.float64)
    r_idx, c_idx = np.divmod(np.arange(n), cols)
    cy = lat0 + (r_idx + 0.5) * dlat
    cx = lng0 + (c_idx + 0.5) * dlng
    ang = 2.0 * np.pi * np.arange(vertices, dtype=np.float64) / vertices
    wob = 0.55 + 0.25 * (0.5 + 0.5 * np.sin(7 * ang[None, :] + fids[:, None]))
    xs = cx[:, None] + 0.5 * dlng * wob * np.cos(ang)[None, :]
    ys = cy[:, None] + 0.5 * dlat * wob * np.sin(ang)[None, :]
    # close each ring with its first vertex
    xs = np.concatenate([xs, xs[:, :1]], axis=1)
    ys = np.concatenate([ys, ys[:, :1]], axis=1)
    rings = np.stack([xs, ys], axis=2)  # (n, vertices+1, 2)
    ring_lists = rings.tolist()
    return [
        {
            "feature_id": fid,
            "loop_pos": 0,
            "ring": ring_lists[fid],
            "properties": {"name": f"commune-{fid:04d}", "admin_level": "8"},
            "admin_level": 8.0,
        }
        for fid in range(n)
    ]


def rects_sql_predicates(loop_rows):
    """For rectangle fixtures: list of (feature_id, loop_pos, lng0, lng1,
    lat0, lat1) — lets the DuckDB oracle express PIP as ANSI range
    predicates (FIXTURES.md §6)."""
    out = []
    for r in loop_rows:
        ring = r["ring"]
        lngs = [v[0] for v in ring]
        lats = [v[1] for v in ring]
        out.append(
            (
                r["feature_id"],
                r["loop_pos"],
                min(lngs),
                max(lngs),
                min(lats),
                max(lats),
            )
        )
    return out
