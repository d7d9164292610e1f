"""Independent expected results for the per-op correctness checks.

* batch geocode: a DuckDB even-odd test of every page point against the
  ring edges, reduced to a fingerprint of the whole hit set; the op's
  output is reduced to the same fingerprint by a Spark observation;
* stream geocode: the (url, feature_id, loop_pos) hit set must equal
  the one the batch ``jvm`` strategy returns for the same pages;
* near-dup: the connected components must equal the planted clusters.
"""

from __future__ import annotations

import numpy as np

FINGERPRINT_KEYS = ("n", "fid", "url", "lat", "lng")
GEO_RE = r"geo:([-+]?\d+(?:\.\d+)?),([-+]?\d+(?:\.\d+)?)"


def observe_fingerprint(df, observation):
    """``df`` with a Spark observation that reduces the hit rows (url,
    lat, lng, feature_id) to FINGERPRINT_KEYS sums. A missing, extra or
    moved hit changes at least one sum."""
    from pyspark.sql import functions as F

    fid1 = F.col("feature_id").cast("long") + F.lit(1)
    e7 = F.lit(1e7)
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("feature_id").cast("long")).alias("fid"),
        F.sum(F.substring("url", -9, 9).cast("long") * fid1).alias("url"),
        F.sum(F.round(F.col("lat") * e7).cast("long") * fid1).alias("lat"),
        F.sum(F.round(F.col("lng") * e7).cast("long") * fid1).alias("lng"),
    )


def normalize_fingerprint(values: dict) -> dict:
    return {k: int(values.get(k) or 0) for k in FINGERPRINT_KEYS}


def _d(x: float) -> str:
    """A DOUBLE literal for DuckDB (bare decimals parse as DECIMAL)."""
    return format(float(x), ".17e")


def expected_geocode(pages_glob: str, rings: np.ndarray) -> dict:
    """Fingerprint of the hits of every page point in ``pages_glob``
    against closed ``rings`` (n, m, 2), by a plain even-odd crossing
    count in DuckDB. Coordinates are re-extracted from the page text
    with DuckDB's own regex engine."""
    import duckdb
    import pandas as pd

    n, m, _ = rings.shape
    x, y = rings[:, :, 0], rings[:, :, 1]
    fid = np.repeat(np.arange(n), m - 1)
    edges = pd.DataFrame(
        {
            "fid": fid,
            "x1": x[:, :-1].ravel(), "y1": y[:, :-1].ravel(),
            "x2": x[:, 1:].ravel(), "y2": y[:, 1:].ravel(),
        }
    )
    x0, x1, y0, y1 = x.min(1), x.max(1), y.min(1), y.max(1)
    bbox = pd.DataFrame({"fid": np.arange(n), "x0": x0, "x1": x1, "y0": y0, "y1": y1})
    # uniform bucket grid sized to the median polygon: each polygon is
    # listed under every bucket its bbox touches
    gx, gy = float(np.median(x1 - x0)), float(np.median(y1 - y0))
    bx0, bx1 = np.floor(x0 / gx).astype(int), np.floor(x1 / gx).astype(int)
    by0, by1 = np.floor(y0 / gy).astype(int), np.floor(y1 / gy).astype(int)
    rows = [
        (f, bx, by)
        for f in range(n)
        for bx in range(bx0[f], bx1[f] + 1)
        for by in range(by0[f], by1[f] + 1)
    ]
    buckets = pd.DataFrame(rows, columns=["fid", "bx", "by"])
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, frame in (("edges", edges), ("bbox", bbox), ("buckets", buckets)):
            con.register(name, frame)
        sql = f"""
        WITH p AS (
          SELECT url,
                 CAST(regexp_extract(text, '{GEO_RE}', 1) AS DOUBLE) AS lat,
                 CAST(regexp_extract(text, '{GEO_RE}', 2) AS DOUBLE) AS lng
          FROM read_parquet('{pages_glob}')
          WHERE regexp_matches(text, '{GEO_RE}')
        ), c AS (
          SELECT p.url, p.lat, p.lng, b.fid
          FROM p
          JOIN buckets b
            ON b.bx = CAST(floor(p.lng / {_d(gx)}) AS BIGINT)
           AND b.by = CAST(floor(p.lat / {_d(gy)}) AS BIGINT)
          JOIN bbox USING (fid)
          WHERE p.lng BETWEEN bbox.x0 AND bbox.x1 AND p.lat BETWEEN bbox.y0 AND bbox.y1
        ), h AS (
          SELECT c.url, c.lat, c.lng, c.fid
          FROM c JOIN edges e USING (fid)
          GROUP BY c.url, c.lat, c.lng, c.fid
          HAVING sum(CASE WHEN (e.y1 <= c.lat) <> (e.y2 <= c.lat)
                           AND c.lng < e.x1 + (c.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
                          THEN 1 ELSE 0 END) % 2 = 1
        )
        SELECT count(*) AS n,
               sum(fid) AS fid,
               sum(CAST(right(url, 9) AS BIGINT) * (fid + 1)) AS url,
               sum(CAST(round(lat * 1e7) AS BIGINT) * (fid + 1)) AS lat,
               sum(CAST(round(lng * 1e7) AS BIGINT) * (fid + 1)) AS lng
        FROM h
        """
        row = con.execute(sql).fetchone()
    finally:
        con.close()
    return normalize_fingerprint(dict(zip(FINGERPRINT_KEYS, row)))


def hit_set(frame) -> np.ndarray:
    """Sorted unique (url, feature_id, loop_pos) rows of a pandas frame
    as one string array, for exact set comparison."""
    keys = (
        frame["url"].astype(str)
        + "|" + frame["feature_id"].astype(np.int64).astype(str)
        + "|" + frame["loop_pos"].astype(np.int64).astype(str)
    )
    return np.unique(keys.to_numpy(dtype=str))


def same_hits(got, want: np.ndarray) -> bool:
    got_keys = hit_set(got)
    return len(got) == len(got_keys) and np.array_equal(got_keys, want)


def cluster_sets(ids, labels) -> set:
    """{frozenset(ids sharing a label)} over labels >= 0."""
    groups: dict = {}
    for i, lab in zip(np.asarray(ids).tolist(), np.asarray(labels).tolist()):
        if lab >= 0:
            groups.setdefault(lab, set()).add(i)
    return {frozenset(g) for g in groups.values()}


def same_clusters(cc, planted: set) -> bool:
    """Components (node, component_id) equal the planted clusters."""
    return cluster_sets(cc["node"], cc["component_id"]) == planted
