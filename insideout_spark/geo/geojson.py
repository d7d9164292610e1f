"""GeoJSON FeatureCollection parsing and raster->vector export.

Mirrors the reference indexer's ingestion (cmd/indexer/main.go:88-140 +
tools.go:34-67): only Polygon and MultiPolygon geometries are accepted,
only the outer ring of each polygon is used (holes unsupported —
reference tools.go:43,79 "only supports outer ring"), and each polygon
of a MultiPolygon becomes its own (feature_id, loop_pos) row
(reference index.go:20-25).
"""

from __future__ import annotations

import gzip
import json
import math


def parse_feature_collection(data):
    """Parse GeoJSON FeatureCollection (str / bytes, optionally gzip like
    reference cmd/indexer/main.go:100-112) into a list of loop rows:

        {feature_id, loop_pos, ring: [[lng,lat],...], properties: {str:str},
         admin_level: float|None}

    feature_id is dense in order of appearance starting at 0, matching
    the reference's write counter (storage/bbolt/storage.go:342-445).
    """
    if isinstance(data, (bytes, bytearray)):
        if data[:2] == b"\x1f\x8b":
            data = gzip.decompress(bytes(data))
        data = data.decode("utf-8")
    fc = json.loads(data)
    if fc.get("type") != "FeatureCollection":
        raise ValueError("expected FeatureCollection")
    rows = []
    for fid, feat in enumerate(fc.get("features", [])):
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        props = feat.get("properties") or {}
        admin_level = None
        if "admin_level" in props:
            try:
                admin_level = float(props["admin_level"])
            except (TypeError, ValueError):
                pass
            # a NaN level is no level: NULL, as an unparsable one (every
            # strategy then agrees; the fused stab ships NaN as NULL)
            if admin_level is not None and math.isnan(admin_level):
                admin_level = None
        str_props = {str(k): _prop_to_str(v) for k, v in props.items()}
        # typed fidelity (reference tools.go:253-274 keeps
        # bool|int|string|float64|nil): the JSON form preserves every
        # value type; the map<string,string> stays for schema-stable
        # equality filters
        props_json = json.dumps(props, sort_keys=True)
        if gtype == "Polygon":
            polys = [geom["coordinates"]]
        elif gtype == "MultiPolygon":
            polys = geom["coordinates"]
        else:
            # reference tools.go:62-63: "unsupported data type"
            raise ValueError(f"unsupported data type: {gtype}")
        for pos, poly in enumerate(polys):
            outer = poly[0]  # outer ring only (tools.go:43)
            rows.append(
                {
                    "feature_id": fid,
                    "loop_pos": pos,
                    "ring": [[float(c[0]), float(c[1])] for c in outer],
                    "properties": str_props,
                    "properties_json": props_json,
                    "admin_level": admin_level,
                }
            )
    return rows


def _prop_to_str(v):
    # reference tools.go:253-274 keeps bool|int|string|float64|nil
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def ring_to_geojson_feature(ring, properties=None):
    """Closed-ring polygon feature (re-append closing vertex like
    reference tools.go:156-170 / server/http.go:123)."""
    ring = [list(map(float, v)) for v in ring]
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    return {
        "type": "Feature",
        "properties": properties or {},
        "geometry": {"type": "Polygon", "coordinates": [ring]},
    }
