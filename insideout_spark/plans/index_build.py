"""Index-build job: polygons -> dual-cover cell index + features table.

Spark-first analog of the reference indexer pipeline
(cmd/indexer/main.go:73-174 + storage/bbolt/storage.go:319-538): instead
of writing bbolt KV postings 'I'/'O' per cover cell, we emit a flat
exploded `cell_index` DataFrame

    (cell_id: long, is_interior: boolean, feature_id: int, loop_pos: int)

and a `features` DataFrame

    (feature_id, loop_pos, ring: array<array<double>>,
     properties: map<string,string>, admin_level: double)

plus a manifest (the reference's IndexInfos, storage.go:43-49) carrying
`min_cover_level` = min of both coverers' MinLevel
(storage/bbolt/storage.go:509-513), which drives the query-side
ancestor explode. The cover computation runs distributed in
`mapInArrow` — one task per polygon batch — so a planet-scale polygon
layer builds in parallel; at query time the (small) cell index is
broadcast.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..geo import cover as geo_cover
from ..geo import s2 as geo_s2

FEATURES_SCHEMA = StructType(
    [
        StructField("feature_id", IntegerType(), False),
        StructField("loop_pos", IntegerType(), False),
        StructField("ring", ArrayType(ArrayType(DoubleType())), False),
        StructField("properties", MapType(StringType(), StringType()), True),
        # typed JSON form of the same properties (reference
        # tools.go:253-274 bool|int|string|float64|nil fidelity); query
        # with typed_prop()
        StructField("properties_json", StringType(), True),
        StructField("admin_level", DoubleType(), True),
    ]
)

CELL_INDEX_SCHEMA = StructType(
    [
        StructField("cell_id", LongType(), False),
        # injective (face, i>>s, j>>s, level) join key for the JVM stab
        # path (functions/s2_expr.py) — same cell, different encoding
        StructField("fij_key", LongType(), False),
        StructField("is_interior", BooleanType(), False),
        StructField("feature_id", IntegerType(), False),
        StructField("loop_pos", IntegerType(), False),
        # loop bbox (denormalized): prunes far-away candidate rows
        # before the edge join's x|ring| expansion
        StructField("bb_lng0", DoubleType(), False),
        StructField("bb_lat0", DoubleType(), False),
        StructField("bb_lng1", DoubleType(), False),
        StructField("bb_lat1", DoubleType(), False),
    ]
)

# reference cmd/indexer/main.go:67 default (tests use 100, FIXTURES.md §3)
DEFAULT_WARNING_CELLS_COVER = 1000


@dataclass
class IndexBundle:
    """In-memory handle on a built index: the two DataFrames + manifest."""

    features: DataFrame
    cell_index: DataFrame
    manifest: dict = field(default_factory=dict)
    _stab_bc: object = None
    _edges_df: DataFrame | None = None
    _props_df: DataFrame | None = None

    def props(self) -> DataFrame:
        """The per-loop payload a stab result joins (feature_id,
        loop_pos, properties, properties_json, admin_level) — no rings:
        in full with include_properties=True, and its admin_level for
        the edge-join arms' P1 projection.
        Cached once per index so a query broadcasts it from memory
        instead of re-scanning and re-shuffling the features."""
        if self._props_df is None:
            self._props_df = self.features.select(
                "feature_id", "loop_pos", "properties", "properties_json", "admin_level"
            ).cache()
        return self._props_df

    def edges(self) -> DataFrame:
        """Ring edges as a DataFrame (feature_id, loop_pos, x1, y1, x2,
        y2) — the geometry operand of the JVM ray-cast (plans/pip_join
        strategy 'jvm'). Built distributed once per index; the closing
        vertex is dropped like reference tools.go:145-148."""
        if self._edges_df is None:

            def explode_edges(batches):
                import numpy as np
                import pyarrow as pa

                from ..geo import pip as geo_pip

                for b in batches:
                    x, y, start = geo_pip.flat_ring_store(*_arrow_xy(b.column("ring")))
                    n = np.diff(start)
                    loop = np.repeat(np.arange(len(n)), n)
                    # successor vertex: the next one, the ring's first
                    # for its last (the closing edge)
                    nxt = np.arange(1, len(x) + 1)
                    nxt[start[1:][n > 0] - 1] = start[:-1][n > 0]
                    yield pa.RecordBatch.from_pydict(
                        {
                            "feature_id": b.column("feature_id").to_numpy()[loop],
                            "loop_pos": b.column("loop_pos").to_numpy()[loop],
                            "x1": x, "y1": y, "x2": x[nxt], "y2": y[nxt],
                        }
                    )

            df = self.features.select("feature_id", "loop_pos", "ring").mapInArrow(
                explode_edges,
                schema="feature_id int, loop_pos int, x1 double, y1 double, x2 double, y2 double",
            )
            self._edges_df = df.cache()
            self._edges_df.count()
        return self._edges_df

    def release(self) -> None:
        """Free everything this index pinned: cached cell/edge/props
        DataFrames and the hydrated stab broadcast. Call when a session
        moves on to another index (long benches, notebooks) — leftover
        caches otherwise build executor memory pressure."""
        self.cell_index.unpersist()
        for attr in ("_edges_df", "_props_df"):
            df = getattr(self, attr)
            if df is not None:
                df.unpersist()
                setattr(self, attr, None)
        if self._stab_bc is not None:
            self._stab_bc.unpersist()
            self._stab_bc = None

    def stab_broadcast(self):
        """Broadcast the stab-ready index: cell ids sorted for binary
        search (the bbolt B+tree / insidetree analog — reference
        storage/bbolt/storage.go:246-269 range scan, index/treeindex
        trie) as parallel numpy arrays, plus the flat ring store
        (geo.pip.flat_ring_store). Hydrated once per index through Arrow
        (column arrays, not Row objects).

        Each posting carries a dense loop ordinal instead of its
        (feature_id, loop_pos): the ordinal indexes the per-loop
        feature_id / loop_pos / admin_level arrays and the ring store,
        so the fused stab packs (point, loop) into one int64 whatever
        the ids' range. admin_level is float64 with NaN for NULL (and
        for a loop missing from `features`); it is read in the same
        Arrow transfer as the rings, so the stab emits the column the
        P1 projection needs without a props join."""
        if self._stab_bc is None:
            import numpy as np
            import pyarrow.compute as pc

            from ..geo import pip as geo_pip

            t = self.cell_index.select(
                "cell_id", "is_interior", "feature_id", "loop_pos"
            ).toArrow()
            cells, isint, fid, pos = (c.to_numpy() for c in t.columns)
            loops, loop = np.unique(
                np.column_stack([fid, pos]), axis=0, return_inverse=True
            )
            # each loop's features row (the last of a repeated key): one
            # sorted search on packed (feature_id, loop_pos) keys; -1,
            # a loop missing from `features`, picks the empty sentinel
            # ring and NaN level appended below
            f = self.features.select("feature_id", "loop_pos", "ring", "admin_level").toArrow()
            fkey = _loop_key(f.column("feature_id").to_numpy(), f.column("loop_pos").to_numpy())
            fo = np.argsort(fkey, kind="stable")
            lkey = _loop_key(loops[:, 0], loops[:, 1])
            i = np.searchsorted(fkey[fo], lkey, side="right") - 1
            found = i >= 0
            found[found] = fkey[fo[i[found]]] == lkey[found]
            row = np.full(len(lkey), -1)
            row[found] = fo[i[found]]
            xy, lens = _arrow_xy(f.column("ring"))
            n = np.r_[lens, 0][row]
            first = np.r_[np.cumsum(lens) - lens, 0][row]
            level = np.r_[pc.fill_null(f.column("admin_level"), np.nan).to_numpy(), np.nan]
            # the loops' vertices, gathered in loop order
            v = np.repeat(first - (np.cumsum(n) - n), n) + np.arange(n.sum())
            # sort in UNSIGNED cell-id order (the searchsorted key space)
            o = np.argsort(cells.view(np.uint64), kind="stable")
            payload = (
                cells[o],
                isint[o],
                loop[o].astype(np.int32),
                loops[:, 0].astype(np.int32),
                loops[:, 1].astype(np.int32),
                level[row],
                geo_pip.flat_ring_store(xy[v], n),
                int(self.manifest["min_cover_level"]),
                int(self.manifest["max_cover_level"]),
            )
            spark = self.features.sparkSession
            self._stab_bc = spark.sparkContext.broadcast(payload)
        return self._stab_bc


_FEATURES_TMP_DIRS: list = []


def _cleanup_features_dirs() -> None:
    import shutil

    while _FEATURES_TMP_DIRS:
        shutil.rmtree(_FEATURES_TMP_DIRS.pop(), ignore_errors=True)


import atexit as _atexit

_atexit.register(_cleanup_features_dirs)


def features_df(spark: SparkSession, loop_rows) -> DataFrame:
    """Loop rows (from geo.geojson.parse_feature_collection) -> features
    DataFrame.

    Routed through a driver-local pyarrow parquet file instead of
    createDataFrame(rows) (r06): the row-pickle LocalRelation path cost
    5.2 s to build for 35k polygons AND re-shipped the whole geometry
    payload on EVERY downstream action (count, cover build, property
    joins each re-serialized it — measured 3.7 s per extra action); the
    parquet scan converts once and every job reads the columnar file."""
    import json as _json
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    loop_rows = list(loop_rows)
    props = [r.get("properties") or {} for r in loop_rows]
    table = pa.table(
        {
            "feature_id": pa.array([int(r["feature_id"]) for r in loop_rows], pa.int32()),
            "loop_pos": pa.array([int(r["loop_pos"]) for r in loop_rows], pa.int32()),
            "ring": pa.array([r["ring"] for r in loop_rows], pa.list_(pa.list_(pa.float64()))),
            "properties": pa.array(props, pa.map_(pa.string(), pa.string())),
            "properties_json": pa.array(
                [
                    r.get("properties_json") or _json.dumps(p, sort_keys=True)
                    for r, p in zip(loop_rows, props)
                ],
                pa.string(),
            ),
            "admin_level": pa.array(
                [None if (a := r.get("admin_level")) is None else float(a) for r in loop_rows],
                pa.float64(),
            ),
        }
    )
    d = tempfile.mkdtemp(prefix="insideout_features_")
    _FEATURES_TMP_DIRS.append(d)
    path = os.path.join(d, "features.parquet")
    pq.write_table(table, path)
    return spark.read.schema(FEATURES_SCHEMA).parquet(path)


def _arrow_xy(col):
    """The one decode of `features.ring`: an Arrow list<list<double>>
    column (chunked or not) -> (flat (V, 2) float64 [lng, lat] vertices,
    (R,) vertex count per ring). Columnar flatten: no per-vertex Python
    objects."""
    import numpy as np
    import pyarrow.compute as pc

    if hasattr(col, "combine_chunks"):
        col = col.combine_chunks()
    verts = col.flatten()  # one [lng, lat(, alt)] list per vertex
    xy = np.column_stack(
        [
            pc.list_element(verts, 0).to_numpy(zero_copy_only=False),
            pc.list_element(verts, 1).to_numpy(zero_copy_only=False),
        ]
    )
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.int64)
    return xy, lens


def _loop_key(fid, pos):
    """(feature_id, loop_pos) int32 pairs -> one int64 key each."""
    import numpy as np

    return (fid.astype(np.int64) << 32) | (pos.astype(np.int64) & 0xFFFFFFFF)


def _batch_covers(batch, ip, ep):
    """The one cover kernel: an Arrow batch of (feature_id, loop_pos,
    ring) -> (feature_id, loop_pos, rings, interior covers, exterior
    covers) over its valid loops, both sides from one whole-batch BFS
    each (geometry dedupes across rings per level)."""
    import numpy as np

    fid = batch.column("feature_id").to_numpy()
    pos = batch.column("loop_pos").to_numpy()
    keep, rings = [], []
    xy, lens = _arrow_xy(batch.column("ring"))
    for k, ring in enumerate(np.split(xy, np.cumsum(lens)[:-1]) if len(lens) else []):
        if len(ring) < 4:  # loop-validity filter (reference tools.go:122-124)
            continue
        # antimeridian guard: the exact PIP is planar even-odd in
        # (lng,lat) degrees; a ring whose lng extent exceeds 180°
        # (Fiji/Russia/Antarctica GeoJSON crossing ±180) would be
        # indexed with silently-wrong containment vs the reference's
        # spherical s2.Loop — reject loudly at build time instead
        # (ADVICE r01; normalize/split upstream)
        if float(ring[:, 0].max() - ring[:, 0].min()) > 180.0:
            raise ValueError(
                f"feature {int(fid[k])} loop {int(pos[k])}: lng extent "
                "> 180 deg (antimeridian-crossing or wrapped ring); "
                "planar PIP semantics would be wrong — normalize or "
                "split the ring before indexing"
            )
        keep.append(k)
        rings.append(ring)
    keep = np.array(keep, dtype=np.int64)
    return (
        fid[keep],
        pos[keep],
        rings,
        geo_cover.cover_rings(rings, ip, interior=True),
        geo_cover.cover_rings(rings, ep, interior=False),
    )


def _map_covers(features: DataFrame, ip, ep, emit, schema) -> DataFrame:
    """One mapInArrow pass of `_batch_covers` over `features`; `emit`
    turns each batch's covers into an output RecordBatch. Cover levels
    are checked here, on the driver, so a bad call fails when it is
    made, not deep inside an executor (ADVICE r01)."""
    if ip.max_level > 28 or ep.max_level > 28:
        raise ValueError(
            "cover max_level must be <= 28 (fij stab keys are only "
            f"injective up to level 28; got interior={ip.max_level}, "
            f"exterior={ep.max_level})"
        )

    def run(batches):
        for batch in batches:
            yield emit(*_batch_covers(batch, ip, ep))

    return features.select("feature_id", "loop_pos", "ring").mapInArrow(run, schema)


def build_cell_index(
    features: DataFrame,
    interior_params: geo_cover.CoverParams = geo_cover.CoverParams(*geo_cover.DEFAULT_INTERIOR),
    exterior_params: geo_cover.CoverParams = geo_cover.CoverParams(*geo_cover.DEFAULT_EXTERIOR),
    warning_cells_cover: int = DEFAULT_WARNING_CELLS_COVER,
) -> DataFrame:
    """Distributed dual-cover build (reference storage/bbolt/storage.go:
    319-448 'I'/'O' postings, re-expressed as mapInArrow -> explode)."""
    guard = warning_cells_cover

    def emit(fid, pos, rings, ins, outs):
        import itertools

        import numpy as np
        import pyarrow as pa

        # cover-size guard, applied PER COVER SIDE like the reference
        # (storage/bbolt/storage.go:363-370 skips only the interior
        # postings, :408-414 only the exterior ones): a loop whose
        # interior cover is oversized stays findable through its
        # exterior cover + exact test, and vice versa (VERDICT r01
        # 'What's wrong' #1). Per loop: interior cells, then exterior.
        sides = [c if len(c) <= guard else [] for pair in zip(ins, outs) for c in pair]
        n = np.array([len(c) for c in sides], dtype=np.int64)
        cells = np.fromiter(itertools.chain(*sides), dtype=np.uint64, count=int(n.sum()))
        side = np.repeat(np.arange(len(sides)), n)
        loop = side // 2
        bb = np.array(
            [(r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()) for r in rings],
            dtype=np.float64,
        ).reshape(-1, 4)[loop]
        cols = (
            geo_s2.to_signed(cells), geo_s2.fij_keys(cells), side % 2 == 0,
            fid[loop], pos[loop], *bb.T,
        )
        return pa.RecordBatch.from_pydict(dict(zip(CELL_INDEX_SCHEMA.fieldNames(), cols)))

    return _map_covers(features, interior_params, exterior_params, emit, CELL_INDEX_SCHEMA)


def cover_guard_stats(
    features: DataFrame,
    interior_params: geo_cover.CoverParams = geo_cover.CoverParams(*geo_cover.DEFAULT_INTERIOR),
    exterior_params: geo_cover.CoverParams = geo_cover.CoverParams(*geo_cover.DEFAULT_EXTERIOR),
    warning_cells_cover: int = DEFAULT_WARNING_CELLS_COVER,
) -> DataFrame:
    """Per-loop cover sizes + which sides the guard would drop — the
    observability companion to build_cell_index's per-side guard, so a
    planet-scale build can surface (and alert on) silently-dropped
    covers instead of discovering them as missing hits. Same kernel,
    same loop filter and same errors as the build; one distributed
    pass; aggregate downstream with a plain groupBy."""
    guard = warning_cells_cover

    def emit(fid, pos, rings, ins, outs):
        import numpy as np
        import pyarrow as pa

        n_in, n_out = (np.array([len(c) for c in s], dtype=np.int64) for s in (ins, outs))
        return pa.RecordBatch.from_pydict(
            {
                "feature_id": fid.astype(np.int64),
                "loop_pos": pos.astype(np.int64),
                "n_inside": n_in,
                "n_outside": n_out,
                "inside_dropped": n_in > guard,
                "outside_dropped": n_out > guard,
            }
        )

    schema = (
        "feature_id long, loop_pos long, n_inside long, n_outside long, "
        "inside_dropped boolean, outside_dropped boolean"
    )
    return _map_covers(features, interior_params, exterior_params, emit, schema)


def make_manifest(
    feature_count: int,
    interior_params: geo_cover.CoverParams,
    exterior_params: geo_cover.CoverParams,
) -> dict:
    """Reference IndexInfos analog (storage/bbolt/storage.go:505-538)."""
    return {
        "version": 1,
        "feature_count": int(feature_count),
        # min of both coverers' MinLevel — storage/bbolt/storage.go:509-513
        "min_cover_level": min(interior_params.min_level, exterior_params.min_level),
        "max_cover_level": max(interior_params.max_level, exterior_params.max_level),
        "interior_params": list(
            (interior_params.min_level, interior_params.max_level, interior_params.max_cells)
        ),
        "exterior_params": list(
            (exterior_params.min_level, exterior_params.max_level, exterior_params.max_cells)
        ),
    }


def _auto_params_df(features: DataFrame):
    """Auto (interior, exterior) CoverParams sized from the polygon
    extents, like the reference picks indexer flags per dataset
    (communes: levels 10-16, countries: 4-10 — cmd/indexer/main.go:
    61-67, Makefile:50-53). Per-loop bbox diagonal via Catalyst array
    functions, median via exact percentile; an empty layer gets the
    reference test coverers' defaults."""
    xs = F.transform("ring", lambda v: v[0])
    ys = F.transform("ring", lambda v: v[1])
    diag = F.sqrt(
        F.pow(F.array_max(xs) - F.array_min(xs), F.lit(2.0))
        + F.pow(F.array_max(ys) - F.array_min(ys), F.lit(2.0))
    )
    med = features.select(diag.alias("d")).agg(F.expr("percentile(d, 0.5)")).first()[0]
    if med is None:
        return (
            geo_cover.CoverParams(*geo_cover.DEFAULT_INTERIOR),
            geo_cover.CoverParams(*geo_cover.DEFAULT_EXTERIOR),
        )
    return geo_cover.params_from_median_diag(float(med))


def build_index(
    spark: SparkSession,
    loop_rows,
    interior_params: geo_cover.CoverParams | None = None,
    exterior_params: geo_cover.CoverParams | None = None,
    warning_cells_cover: int = DEFAULT_WARNING_CELLS_COVER,
) -> IndexBundle:
    """End-to-end build from parsed loop rows (python list) OR a features
    DataFrame (e.g. from sources.polygons.load_geojsonl_df — the
    planet-scale path that never materializes geometry on the driver;
    query such a layer with pip_join(broadcast_edges=False) or a
    non-broadcast strategy, since the default fused stab broadcasts
    every ring from the driver).
    The cell index is computed once and cached — it is the broadcast
    side of every stab join. Cover params default to `_auto_params_df`
    (sized from the polygon extents), the same for both input kinds."""
    if isinstance(loop_rows, DataFrame):
        feats = loop_rows
    else:
        feats = features_df(spark, loop_rows)
    if interior_params is None or exterior_params is None:
        auto_i, auto_e = _auto_params_df(feats)
        interior_params = interior_params or auto_i
        exterior_params = exterior_params or auto_e
    # polygon layers are small relative to the points side; spread the
    # cover computation (the expensive part) across the cluster
    n = feats.count()
    parallelism = max(1, min(n, spark.sparkContext.defaultParallelism))
    feats = feats.repartition(parallelism)
    cells = build_cell_index(feats, interior_params, exterior_params, warning_cells_cover)
    cells = cells.cache()
    cells.count()  # materialize once; avoids recomputing covers per query
    return IndexBundle(
        features=feats,
        cell_index=cells,
        manifest=make_manifest(n, interior_params, exterior_params),
    )


def save_index(bundle: IndexBundle, path: str) -> None:
    """Persist as parquet + manifest JSON (the bbolt file analog).
    `cell_index` is written sorted by cell_id so parquet row-group
    min/max stats allow cell-range pruning on read."""
    bundle.features.write.mode("overwrite").parquet(os.path.join(path, "features"))
    bundle.cell_index.sort("cell_id").write.mode("overwrite").parquet(
        os.path.join(path, "cell_index")
    )
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(bundle.manifest, f, indent=2)


def save_index_bucketed(
    bundle: IndexBundle, table_name: str, n_buckets: int = 64
) -> None:
    """Persist the cell index hash-bucketed by the stab key (Spark
    bucketing + saveAsTable). For polygon layers too large to broadcast,
    a probe side repartitioned on `fij_key` then joins the bucketed
    table WITHOUT shuffling the index side — the co-located-join
    alternative to salting (north rule: 'bucketing for co-located
    joins'). The bucket count is recorded in the index manifest so
    pip_join never parses catalog output (VERDICT r02 'Next round'
    #7); save_index persists it with the rest of the manifest.

    Re-saving under the same name is safe across sessions: the stale
    table is dropped AND an orphaned managed-table location left by a
    previous session is removed through the Hadoop FS API (a fresh
    session's catalog doesn't know the old table, so overwrite alone
    hits LOCATION_ALREADY_EXISTS)."""
    spark = bundle.cell_index.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    jvm = spark._jvm
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = jvm.org.apache.hadoop.fs.Path(wh, table_name.lower())
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    (
        bundle.cell_index.write.bucketBy(n_buckets, "fij_key")
        .sortBy("fij_key")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )
    bundle.manifest.setdefault("bucketed_tables", {})[table_name] = int(n_buckets)


def load_index(spark: SparkSession, path: str) -> IndexBundle:
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    return IndexBundle(
        features=spark.read.parquet(os.path.join(path, "features")),
        cell_index=spark.read.parquet(os.path.join(path, "cell_index")),
        manifest=manifest,
    )
