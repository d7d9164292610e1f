"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments and ``seed``: the
same seed gives byte-identical tables. They use numpy and pyarrow only
(no Spark), and the writers put the tables on disk as parquet during
set-up; the program under test reads nothing else.

* ``polygon_layer`` — a communes-style layer: one wobbly star-shaped
  polygon per cell of a grid over the France bbox, with centre, wobble
  phase, amplitude and lobe count jittered by the seed. Neighbours never
  overlap, so every point is inside at most one polygon.
* ``pages`` — Common-Crawl-style pages whose text carries a
  ``geo:lat,lng`` token. Point kinds have fixed shares (``PAGE_MIX``).
* ``near_dup_corpus`` — documents with planted near-duplicate clusters
  of skewed sizes among unrelated singletons.
* stream drops are ``pages`` split over ``PAGE_FILES`` parquet files
  (``write_pages``), one micro-batch each.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRANCE_BBOX = (46.63, 49.10, -1.10, 5.5)  # lat0, lat1, lng0, lng1
VERTICES = 48
# near-dup corpus: share of documents in planted clusters, words per
# document, parquet files
DUP_SHARE = 0.3
DOC_WORDS = 40
CORPUS_FILES = 4
# pages parquet files: the stream backfill reads one per micro-batch
PAGE_FILES = 8

# Share of pages per point kind (perfbench/README.md gives the source or
# the reason for each). interior: well inside a polygon (interior cover
# cells); boundary: within +-10% of a polygon's radius (boundary cells,
# exact test); outside: near grid corners, inside no polygon; hot: one
# fixed interior point (hot-cell skew); nocoord: no geo token at all.
PAGE_MIX = {
    "interior": 0.40,
    "boundary": 0.10,
    "outside": 0.10,
    "hot": 0.30,
    "nocoord": 0.10,
}
KINDS = tuple(PAGE_MIX)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def _grid(n: int):
    lat0, lat1, lng0, lng1 = FRANCE_BBOX
    cols = max(1, int(np.sqrt(n * (lng1 - lng0) / (lat1 - lat0))))
    rows = (n + cols - 1) // cols
    return cols, rows, (lng1 - lng0) / cols, (lat1 - lat0) / rows


def polygon_layer(seed: int, n: int) -> dict:
    """n non-overlapping star-shaped polygons. Returns numpy arrays:
    ``rings`` (n, VERTICES + 1, 2) closed [lng, lat] rings, plus the
    parameters ``pages`` needs to place points relative to them
    (centres, half-cell sizes and the radius function)."""
    lat0, _, lng0, _ = FRANCE_BBOX
    cols, _, dlng, dlat = _grid(n)
    rng = _rng(seed, 1)
    r_idx, c_idx = np.divmod(np.arange(n), cols)
    # centre jitter of +-8% of a cell keeps neighbours disjoint: the
    # radius stays <= 0.8 half-cells, so the gap is >= 0.08 half-cells
    cx = lng0 + (c_idx + 0.5 + rng.uniform(-0.04, 0.04, n)) * dlng
    cy = lat0 + (r_idx + 0.5 + rng.uniform(-0.04, 0.04, n)) * dlat
    phase = rng.uniform(0.0, 2 * np.pi, n)
    amp = rng.uniform(0.10, 0.20, n)
    lobes = rng.integers(5, 8, n)
    ang = 2 * np.pi * np.arange(VERTICES) / VERTICES
    rad = 0.6 + amp[:, None] * np.sin(lobes[:, None] * ang[None, :] + phase[:, None])
    xs = cx[:, None] + 0.5 * dlng * rad * np.cos(ang)[None, :]
    ys = cy[:, None] + 0.5 * dlat * rad * np.sin(ang)[None, :]
    xs = np.concatenate([xs, xs[:, :1]], axis=1)
    ys = np.concatenate([ys, ys[:, :1]], axis=1)
    return {
        "rings": np.stack([xs, ys], axis=2),
        "cx": cx, "cy": cy, "hx": 0.5 * dlng, "hy": 0.5 * dlat,
        "phase": phase, "amp": amp, "lobes": lobes, "cols": cols,
    }


def _radius(layer: dict, fid: np.ndarray, ang: np.ndarray) -> np.ndarray:
    return 0.6 + layer["amp"][fid] * np.sin(layer["lobes"][fid] * ang + layer["phase"][fid])


def pages(seed: int, n: int, layer: dict) -> dict:
    """n pages with PAGE_MIX point kinds placed against ``layer``.
    Coordinates are rounded to the 7 decimals the text carries, so the
    returned ``lat``/``lng`` equal what a parser reads back."""
    rng = _rng(seed, 2)
    n_poly = len(layer["cx"])
    # exact kind counts, so every seed asks for the same work
    counts = np.floor(np.array([PAGE_MIX[k] for k in KINDS]) * n).astype(int)
    counts[0] += n - counts.sum()
    kind = rng.permutation(np.repeat(np.arange(len(KINDS)), counts))
    fid = rng.integers(0, n_poly, n)
    ang = rng.uniform(0.0, 2 * np.pi, n)
    u = rng.uniform(0.0, 1.0, n)
    # interior: radius <= 0.35 half-cells, inside the 0.4 minimum radius
    rho = np.where(kind == KINDS.index("interior"), 0.35 * np.sqrt(u), 0.0)
    band = kind == KINDS.index("boundary")
    rho = np.where(band, _radius(layer, fid, ang) * (0.9 + 0.2 * u), rho)
    lng = layer["cx"][fid] + layer["hx"] * rho * np.cos(ang)
    lat = layer["cy"][fid] + layer["hy"] * rho * np.sin(ang)
    # outside: within 0.2 half-cells of a grid corner, >= 0.9 half-cells
    # from every polygon centre
    out = kind == KINDS.index("outside")
    lat0, _, lng0, _ = FRANCE_BBOX
    ci = np.divmod(fid, layer["cols"])
    lng = np.where(
        out, lng0 + 2 * layer["hx"] * (ci[1] + rng.uniform(-0.1, 0.1, n)), lng
    )
    lat = np.where(
        out, lat0 + 2 * layer["hy"] * (ci[0] + rng.uniform(-0.1, 0.1, n)), lat
    )
    hot_fid = int(rng.integers(0, n_poly))
    hot = kind == KINDS.index("hot")
    lng = np.where(hot, layer["cx"][hot_fid] + 0.1 * layer["hx"], lng)
    lat = np.where(hot, layer["cy"][hot_fid] + 0.1 * layer["hy"], lat)
    lat, lng = np.round(lat, 7), np.round(lng, 7)
    nocoord = kind == KINDS.index("nocoord")
    ids = np.arange(n)
    words = rng.integers(0, len(_FILLER), (n, 6))
    texts = []
    for i in range(n):
        w = [_FILLER[j] for j in words[i]]
        geo = "" if nocoord[i] else f" geo:{lat[i]:.7f},{lng[i]:.7f}"
        texts.append(f"page {ids[i]} {w[0]} {w[1]} {w[2]}{geo} {w[3]} {w[4]} {w[5]}")
    lat = np.where(nocoord, np.nan, lat)
    lng = np.where(nocoord, np.nan, lng)
    return {
        "url": [f"https://bench.example/{i:09d}" for i in ids],
        "text": texts,
        "kind": kind,
        "lat": lat,
        "lng": lng,
    }


_FILLER = (
    "la mairie du village annonce les horaires de la fete locale marche "
    "ecole gare route plage foret riviere pont eglise chateau musee"
).split()


def write_pages(path: str, pg: dict) -> None:
    """Write pages in the program's pages shape (url, warc_ts, html,
    text, lang), split into ``PAGE_FILES`` files named in order."""
    os.makedirs(path, exist_ok=True)
    n = len(pg["url"])
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ts = pa.array(
        [epoch + dt.timedelta(seconds=i) for i in range(n)], pa.timestamp("us", tz="UTC")
    )
    html = pa.array([f"<html><body>{t}</body></html>".encode() for t in pg["text"]], pa.binary())
    table = pa.table(
        {
            "url": pa.array(pg["url"], pa.string()),
            "warc_ts": ts,
            "html": html,
            "text": pa.array(pg["text"], pa.string()),
            "lang": pa.array(["fr"] * n, pa.string()),
        }
    )
    _write_parts(path, table, PAGE_FILES)


def write_polygons(path: str, layer: dict) -> str:
    """Write the layer in the program's features shape (feature_id,
    loop_pos, ring, properties, admin_level)."""
    os.makedirs(path, exist_ok=True)
    n = len(layer["cx"])
    table = pa.table(
        {
            "feature_id": pa.array(np.arange(n, dtype=np.int32)),
            "loop_pos": pa.array(np.zeros(n, dtype=np.int32)),
            "ring": pa.array(layer["rings"].tolist(), pa.list_(pa.list_(pa.float64()))),
            "properties": pa.array(
                [{"name": f"commune-{i:05d}"} for i in range(n)],
                pa.map_(pa.string(), pa.string()),
            ),
            "admin_level": pa.array(np.full(n, 8.0)),
        }
    )
    p = os.path.join(path, "polygons.parquet")
    pq.write_table(table, p)
    return p


def read_loop_rows(path: str) -> list[dict]:
    """Polygons parquet -> the loop-row dicts build_index accepts."""
    t = pq.read_table(path).to_pydict()
    return [
        {
            "feature_id": t["feature_id"][i],
            "loop_pos": t["loop_pos"][i],
            "ring": t["ring"][i],
            "properties": dict(t["properties"][i]),
            "admin_level": t["admin_level"][i],
        }
        for i in range(len(t["feature_id"]))
    ]


def near_dup_corpus(seed: int, n: int) -> dict:
    """n documents: about ``DUP_SHARE`` of them sit in planted clusters
    with skewed sizes (2..60 members, the same sizes for every seed); the
    rest are singletons. Words come uniformly from a 200k-word random vocabulary,
    so unrelated documents share almost no 5-character shingles, while
    each cluster member is the cluster's base text with one letter
    changed (pairwise shingle Jaccard ~0.93). Returns doc_id, text and
    ``cluster`` (-1 for singletons), in a shuffled id order."""
    rng = _rng(seed, 3)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    wlen = rng.integers(4, 10, 200_000)
    raw = letters[rng.integers(0, 26, (200_000, 9))]
    vocab = [bytes(raw[i, : wlen[i]]).decode() for i in range(200_000)]

    # Zipf-like sizes from evenly spaced quantiles: many pairs, a few
    # clusters of dozens
    sizes = []
    budget = int(n * DUP_SHARE)
    i = 0
    while budget >= 2:
        u = ((i * 0.618034) % 1.0) or 0.5
        sizes.append(int(max(2, min(2 * u ** -1.25, 60, budget))))
        budget -= sizes[-1]
        i += 1
    def random_text() -> str:
        return " ".join(vocab[j] for j in rng.integers(0, len(vocab), DOC_WORDS))

    texts: list[str] = []
    labels: list[int] = []
    for c, size in enumerate(sizes):
        base = bytearray(random_text().encode())
        letter_pos = [i for i, ch in enumerate(base) if ch != 32]
        for _ in range(size):
            doc = bytearray(base)
            i = letter_pos[rng.integers(0, len(letter_pos))]
            doc[i] = (doc[i] - 97 + int(rng.integers(1, 26))) % 26 + 97
            texts.append(doc.decode())
            labels.append(c)
    for _ in range(n - len(texts)):
        texts.append(random_text())
        labels.append(-1)
    # shuffle so cluster members do not get adjacent ids
    order = rng.permutation(n)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [texts[i] for i in order],
        "cluster": np.asarray(labels, dtype=np.int64)[order],
    }


def write_corpus(path: str, corpus: dict) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array(corpus["doc_id"]), "text": pa.array(corpus["text"], pa.string())}
    )
    _write_parts(path, table, CORPUS_FILES)


def _write_parts(path: str, table: pa.Table, files: int) -> None:
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for k in range(files):
        pq.write_table(
            table.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )
