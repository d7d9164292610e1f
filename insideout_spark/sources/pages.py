"""Synthetic Common-Crawl-style pages source (FIXTURES.md §1).

Deterministic (seed 42) generator for the primary input table
`(url, warc_ts, html, text, lang)`; coordinates ride in the text as a
``geo:{lat:.7f},{lng:.7f}`` token. Rows 0..5 carry the six golden stab
points (reference index/treeindex/index_test.go:27-78 +
index/shapeindex/index_test.go:27-54); the rest are uniform in the
reference loadtester's France bbox (cmd/loadtester/main.go:33-38) with
30% snapped to the first drawn point's cell to exercise hot-cell
salting. Generation is distributed: each Spark partition regenerates
its id range from the seed — no driver-side materialization.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..geo.extract import GEO_RE

# six golden stab points (FIXTURES.md §4; tree cases 1-4, shape cases 5-6)
GOLDEN_POINTS = [
    (47.39444367083928, -2.992874768945723),   # inside polygon, boundary cell
    (47.39650628189986, -2.9876390969486524),  # interior-cover hit
    (47.38297924900667, -2.961873380366456),   # outside polygon, boundary cell
    (47.37616957736262, -3.004367209321472),   # no cover hit
    (47.3944602327291, -2.9924373872714556),   # shapeindex: inside
    (47.38297924900667, -2.961873380366456),   # shapeindex: outside
]

FRANCE_BBOX = (46.63, 49.10, -1.10, 5.5)  # lat0, lat1, lng0, lng1
SEED = 42

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — a counter-based hash so any partition can
    generate any id range independently (distributed, order-free)."""
    x = x.astype(np.uint64)
    x = x + np.uint64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _unit(ids: np.ndarray, stream: int) -> np.ndarray:
    h = _splitmix64(ids.astype(np.uint64) * np.uint64(2654435761) + np.uint64(SEED + stream))
    return h.astype(np.float64) / float(1 << 64)


def _coords_for_ids(ids: np.ndarray):
    """Deterministic (lat, lng) per row id — fully vectorized."""
    lat0, lat1, lng0, lng1 = FRANCE_BBOX
    ids = np.asarray(ids, dtype=np.int64)
    lats = lat0 + _unit(ids, 1) * (lat1 - lat0)
    lngs = lng0 + _unit(ids, 2) * (lng1 - lng0)
    # 30% hot-cell skew: snap to the fixed hot point (id 6's draw)
    six = np.array([6], dtype=np.int64)
    hot_lat = lat0 + _unit(six, 1)[0] * (lat1 - lat0)
    hot_lng = lng0 + _unit(six, 2)[0] * (lng1 - lng0)
    snap = (ids % 10) < 3
    lats[snap] = hot_lat
    lngs[snap] = hot_lng
    for k in np.flatnonzero(ids < len(GOLDEN_POINTS)):
        lats[k], lngs[k] = GOLDEN_POINTS[int(ids[k])]
    return lats, lngs


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table of n rows."""
    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, parts)

    def gen(batches):
        import pandas as pd

        epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            lats, lngs = _coords_for_ids(ids)
            texts = [
                f"page {i} geo:{la:.7f},{ln:.7f}" for i, la, ln in zip(ids, lats, lngs)
            ]
            yield pd.DataFrame(
                {
                    "url": [f"https://example.org/{i:08d}" for i in ids],
                    "warc_ts": [epoch + dt.timedelta(seconds=int(i)) for i in ids],
                    "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
                    "text": texts,
                    "lang": ["fr" if i % 10 < 8 else "en" for i in ids],
                }
            )

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


def synth_skewed_docs(
    spark: SparkSession,
    n: int,
    shared_frac_mod: int = 2,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic documents table for blocking-key skew benches
    (VERDICT r02 'Next round' #8): every id with id % shared_frac_mod
    == 0 (default: 50% of the corpus) OPENS WITH THE SAME BIGRAM —
    ngram_jaccard_pairs' blocking key — so half the corpus lands in one
    block, the documented worst case for bigram blocking. Body words
    are id-unique splitmix-style hashes (true Jaccard between distinct
    docs ~ 0) with varying lengths, so the size-ratio prefilter and the
    exact intersection carry the full load. Ids 2n and 2n+1 of the LAST
    pair are planted near-dups inside the shared block."""
    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, parts)
    mod = int(shared_frac_mod)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy().astype(np.uint64)
            lens = (15 + (ids * np.uint64(2654435761)) % np.uint64(31)).astype(np.int64)
            texts = []
            for i, L in zip(ids, lens):
                j = np.arange(L, dtype=np.uint64)
                vals = ((i * np.uint64(1_000_003) + j) * np.uint64(2654435761)) % np.uint64(
                    1 << 30
                )
                words = ["w%d" % v for v in vals]
                if int(i) % mod == 0:
                    words[:2] = ["le", "monde"]
                texts.append(" ".join(words))
            yield pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})

    docs = base.mapInPandas(gen, schema="doc_id long, text string")
    # planted near-dup pair inside the shared block (ids 10n, 10n+mod —
    # both open with the shared bigram, bodies differ by one word)
    body = " ".join("nd%d" % v for v in range(30))
    planted = spark.createDataFrame(
        [
            (10 * n, f"le monde {body}"),
            (10 * n + mod, f"le monde {body} tail"),
        ],
        "doc_id long, text string",
    )
    return docs.unionByName(planted)


def select_points(pages: DataFrame, *keep: str) -> DataFrame:
    """pages -> (*keep, lat, lng) for the pages whose text carries a geo
    token; pages without one are dropped.

    Pure Catalyst, the DuckDB oracles' own expression:
    `regexp_extract(text, GEO_RE, 1|2)` cast to double. `try_cast`
    because ANSI mode (the Spark 4 default) raises on `CAST('' AS
    DOUBLE)`, which is what `regexp_extract` returns on no match; the
    not-null filter then drops those pages. Spark's cast is correctly
    rounded at any mantissa length, like DuckDB's.

    Built as SQL text, one `selectExpr` and one `where`: each Column
    helper is a py4j round trip, and this plan is rebuilt on every
    geocode op. GEO_RE holds no backslash or quote, so the plain
    literal reads the same whatever
    `spark.sql.parser.escapedStringLiterals` says."""
    ext = "try_cast(regexp_extract(text, '" + GEO_RE + "', {}) AS DOUBLE) AS {}"
    return pages.selectExpr(
        *(f"`{c}`" for c in keep), ext.format(1, "lat"), ext.format(2, "lng")
    ).where("lat IS NOT NULL AND lng IS NOT NULL")


def extract_points(pages: DataFrame) -> DataFrame:
    """pages -> (url, lat, lng) via the deterministic text extractor
    (`select_points`).

    No Python stage on purpose: each Python task carries fixed worker
    set-up, and the extraction itself is ~10 ms per 5k texts. Most of
    that set-up was `setup_spark_files` -> `importlib.invalidate_caches`
    re-reading every zip directory on the worker path (0.25-0.28 s per
    task on a 4-core local[4] VM); `insideout_spark._worker` skips the
    re-read for unchanged archives, so a trivial 4-task `mapInPandas`
    takes 0.22-0.26 s instead of 0.71-0.81 s (median), still more than
    this parse costs in the JVM."""
    return select_points(pages, "url")
