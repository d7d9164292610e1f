"""The benchmark workloads.

Each workload is closed loop: one op at a time from one driver thread.
The runner (run.py) calls, per set-up repetition, ``generate`` (write
the seeded parquet inputs), ``setup`` (load, build) and ``warm_up`` (one
op); then ``expect`` once (independent expected results, untimed); then
``op`` (timed) and ``check`` (untimed) in a loop. A traced run ends with
``probe``, which measures the layers one public call at a time.

Every workload calls the program only through its public functions and
gives it only the parquet files ``generate`` wrote.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import check
import gen
from tracing import NullTracer


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


class Workload:
    name = ""
    units = 0  # input pages (or documents) per op

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        # outcomes of checks made outside the timed ops (traced probes)
        self.probe_checks: list[bool] = []

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark, tr) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One op whose wall counts as set-up: Python workers, JIT."""
        self.op(NullTracer())

    def expect(self) -> None:
        pass

    def op(self, tr):
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def probe(self, tr) -> dict:
        return {}

    def release(self) -> None:
        pass

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, "inputs", self.name, *parts)


# --------------------------------------------------------------------- geocode


class GeocodeCommunes400(Workload):
    """pages parquet -> extract_points -> pip_join (default jvm strategy,
    no feature properties, as in bench.py) against a prebuilt index of a
    seeded 400-polygon communes-style layer, 20k pages per op into the
    noop sink. The whole hit set is fingerprinted by a
    Spark observation and compared with DuckDB's even-odd answer."""

    name = "geocode_communes400"
    units = 20_000
    n_polygons = 400

    def generate(self) -> None:
        shutil.rmtree(self.path(), ignore_errors=True)
        self.layer = gen.polygon_layer(self.seed, self.n_polygons)
        self.poly_path = gen.write_polygons(self.path("polygons"), self.layer)
        pg = gen.pages(self.seed, self.units, self.layer)
        gen.write_pages(self.path("pages"), pg)
        self.points = (pg["lat"], pg["lng"])

    def setup(self, spark, tr) -> None:
        """Build the index with the cover parameters of the repository's
        bench.py (interior 8-14/96, exterior 8-13/48)."""
        from insideout_spark.geo.cover import CoverParams
        from insideout_spark.plans.index_build import build_index

        self.spark = spark
        self.rows = gen.read_loop_rows(self.poly_path)
        self.pages = spark.read.parquet(self.path("pages"))
        with tr.span("plans.index_build.build_index"):
            self.idx = build_index(
                spark, self.rows, CoverParams(8, 14, 96), CoverParams(8, 13, 48), 100_000
            )
        with tr.span("plans.index_build.edges"):
            self.idx.edges()

    def op(self, tr):
        from pyspark.sql import Observation

        from insideout_spark.plans.pip_join import pip_join
        from insideout_spark.sources.pages import extract_points

        obs = Observation()
        with tr.span("plans.pip_join.pip_join"):
            hits = pip_join(extract_points(self.pages), self.idx, include_properties=False)
            noop(check.observe_fingerprint(hits, obs))
        return obs.get

    def expect(self) -> None:
        self.want = check.expected_geocode(
            os.path.join(self.path("pages"), "*.parquet"), self.layer["rings"]
        )

    def check(self, out) -> bool:
        return check.normalize_fingerprint(out) == self.want

    def release(self) -> None:
        self.idx.release()

    def probe(self, tr) -> dict:
        return {
            **self._probe_stab(tr),
            **self._probe_index(tr),
            **self._probe_stream(tr),
            **self._probe_kernels(),
        }

    def _probe_stab(self, tr) -> dict:
        """extract -> keys -> stab, each on the cached output of the one
        before, plus the match counts of a cell join that mirrors the
        jvm strategy's."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from insideout_spark.functions.s2_expr import with_fij_keys
        from insideout_spark.plans.pip_join import pip_join
        from insideout_spark.sources.pages import extract_points

        idx, man = self.idx, self.idx.manifest
        with tr.span("sources.pages.extract_points") as extract:
            pts = extract_points(self.pages).persist()
            n_pts = pts.count()
        keyed = with_fij_keys(pts, "lat", "lng", man["min_cover_level"], man["max_cover_level"])
        keys = Observation()
        with tr.span("functions.s2_expr.with_fij_keys") as keying:
            noop(keyed.observe(keys, F.count(F.lit(1)).alias("n")))
        hits = Observation()
        with tr.span("plans.pip_join.pip_join") as stab:
            noop(
                pip_join(pts, idx, include_properties=False).observe(
                    hits,
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("is_sure_hit")).alias("sure"),
                )
            )
        # The match counts are the benchmark's model of the jvm strategy's
        # cell join, not a counter inside the program; the job group
        # keeps this extra join out of the plans.pip_join fold.
        with tr.span("bench.cell_matches"):
            matches = dict(
                keyed.join(F.broadcast(idx.cell_index.select("fij_key", "is_interior")), "fij_key")
                .groupBy("is_interior")
                .count()
                .collect()
            )
        pts.unpersist()
        n_match = sum(matches.values())
        return {
            "sources.pages.extract_s": _wall(extract),
            "sources.pages.points_per_page": n_pts / self.units,
            "functions.s2_expr.keyed_s": _wall(keying),
            "functions.s2_expr.keys_per_point": keys.get["n"] / max(n_pts, 1),
            "plans.pip_join.stab_s": _wall(stab),
            "plans.pip_join.cell_matches": n_match,
            "plans.pip_join.exterior_matches": matches.get(False, 0),
            "plans.pip_join.sure_hit_share": hits.get["sure"] / max(hits.get["n"], 1),
            "plans.pip_join.hit_yield": hits.get["n"] / max(n_match, 1),
        }

    def _probe_index(self, tr) -> dict:
        """Index sizes, the set-up build spans, and the cover BFS on the
        driver over a fixed 200-ring sample (both cover sides)."""
        from insideout_spark.geo.cover import CoverParams, cover_rings

        idx, man = self.idx, self.idx.manifest
        cells = dict(idx.cell_index.groupBy("is_interior").count().collect())
        stats = idx.cell_index._jdf.queryExecution().optimizedPlan().stats()
        rings = [np.asarray(r["ring"]) for r in self.rows[:200]]
        with tr.span("geo.cover.cover_rings") as cover:
            ins = cover_rings(rings, CoverParams(*man["interior_params"]), interior=True)
            outs = cover_rings(rings, CoverParams(*man["exterior_params"]), interior=False)
        return {
            "plans.index_build.build_s": _median(tr.durations("plans.index_build.build_index")),
            "plans.index_build.features_df_s": _median(
                tr.durations("plans.index_build.features_df")
            ),
            "plans.index_build.edges_s": _median(tr.durations("plans.index_build.edges")),
            "plans.index_build.cells_interior": cells.get(True, 0),
            "plans.index_build.cells_exterior": cells.get(False, 0),
            "plans.index_build.edges": idx.edges().count(),
            "plans.index_build.cell_index_bytes": int(str(stats.sizeInBytes())),
            "geo.cover.cover_rings_s": _wall(cover),
            "geo.cover.cells_per_ring": (sum(map(len, ins)) + sum(map(len, outs))) / len(rings),
        }

    def _probe_stream(self, tr) -> dict:
        """The fused strategy's only caller: an availableNow backfill of
        the ``gen.PAGE_FILES`` pages files, one micro-batch each, into a
        fresh parquet sink. Its hit set must equal the jvm strategy's on
        the same pages."""
        import pyarrow.dataset as ds

        from insideout_spark.plans.pip_join import pip_join
        from insideout_spark.sources.pages import extract_points
        from insideout_spark.streaming.stream_pip import run_stream, stream_pages

        with tr.span("plans.index_build.stab_broadcast") as hydrate:
            self.idx.stab_broadcast()
        out = os.path.join(self.work, "stream", "out")
        with tr.span("streaming.stream_pip.run_stream"):
            q = run_stream(
                stream_pages(self.spark, self.path("pages"), max_files=1),
                self.idx,
                out,
                os.path.join(self.work, "stream", "checkpoint"),
            )
            tr.alias(str(q.runId), "streaming.stream_pip")
            q.awaitTermination()
        batches = [
            (p["durationMs"]["triggerExecution"] / 1e3, p["numInputRows"])
            for p in q.recentProgress
        ]
        got = ds.dataset(out, format="parquet").to_table(
            columns=["url", "feature_id", "loop_pos"]
        ).to_pandas()
        jvm = pip_join(extract_points(self.pages), self.idx, include_properties=False)
        want = check.hit_set(jvm.select("url", "feature_id", "loop_pos").toPandas())
        self.probe_checks.append(check.same_hits(got, want))
        return {
            "plans.index_build.stab_broadcast_s": _wall(hydrate),
            "streaming.stream_pip.batches": len(batches),
            "streaming.stream_pip.rows_per_batch": _median([rows for _, rows in batches]),
            **{f"streaming.stream_pip.{k}": v for k, v in batch_stats([w for w, _ in batches]).items()},
        }

    def _probe_kernels(self) -> dict:
        """The fused path's numpy kernels on the driver, per point."""
        from insideout_spark.geo import pip as geo_pip
        from insideout_spark.geo import s2 as geo_s2

        lat, lng = self.points
        keep = ~np.isnan(lat)
        lat, lng = lat[keep], lng[keep]
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            geo_s2.latlng_to_cell(lat, lng)
            walls.append(time.perf_counter() - t0)
        rings = self.layer["rings"][:10]
        t0 = time.perf_counter()
        for ring in rings:
            geo_pip.points_in_ring(lng, lat, ring)
        pip_wall = time.perf_counter() - t0
        return {
            "geo.s2.latlng_to_cell_ns": min(walls) / len(lat) * 1e9,
            "geo.pip.points_in_ring_ns": pip_wall / (len(lat) * len(rings)) * 1e9,
        }


def batch_stats(walls) -> dict:
    """Median micro-batch wall and the tail: the highest whole percentile
    with at least 10 batches beyond it, never below the median (so with
    fewer than 20 batches the tail is the median)."""
    walls = sorted(walls)
    n = len(walls)
    if not n:
        return {}
    pct = max(50, int(100 * (1 - 10 / n)))
    return {
        "batch_p50_s": _median(walls),
        "batch_tail_s": walls[int(np.ceil(pct / 100 * n)) - 1],
        "batch_tail_pct": pct,
    }


# --------------------------------------------------------------------- neardup


class NeardupMinhash(Workload):
    """Seeded corpus with planted near-dup clusters -> minhash_lsh_pairs
    (threshold 0.35) -> connected_components. 8k documents keep it under
    the 150k-row gate, so the driver-numpy pair generation runs."""

    name = "neardup_minhash"
    units = 8_000

    def generate(self) -> None:
        shutil.rmtree(self.path(), ignore_errors=True)
        corpus = gen.near_dup_corpus(self.seed, self.units)
        gen.write_corpus(self.path("docs"), corpus)
        self.cluster = corpus["cluster"]
        self.planted = check.cluster_sets(corpus["doc_id"], corpus["cluster"])

    def setup(self, spark, tr) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path("docs"))

    def op(self, tr):
        from insideout_spark.plans.components import connected_components
        from insideout_spark.plans.webtext import minhash_lsh_pairs

        with tr.span("plans.webtext.minhash_lsh_pairs"):
            self.pairs = minhash_lsh_pairs(self.docs, threshold=0.35)
        with tr.span("plans.components.connected_components"):
            return connected_components(self.pairs).toPandas()

    def check(self, out) -> bool:
        self.last = out
        return check.same_clusters(out, self.planted)

    def probe(self, tr) -> dict:
        from insideout_spark.plans.webtext import minhash_signatures

        with tr.span("plans.webtext.minhash_signatures") as sigs:
            noop(minhash_signatures(self.docs))
        pairs = self.pairs.toPandas()
        ca = self.cluster[pairs["doc_a"].to_numpy()]
        cb = self.cluster[pairs["doc_b"].to_numpy()]
        useful = int(((ca == cb) & (ca >= 0)).sum())
        return {
            "plans.webtext.signatures_s": _wall(sigs),
            "plans.webtext.pairs_s": _median(tr.durations("plans.webtext.minhash_lsh_pairs")),
            "plans.webtext.pairs": len(pairs),
            "plans.webtext.pair_precision": useful / max(len(pairs), 1),
            "plans.components.cc_s": _median(
                tr.durations("plans.components.connected_components")
            ),
            "plans.components.nodes": len(self.last),
            "plans.components.components": int(self.last["component_id"].nunique()),
        }

    def release(self) -> None:
        # the signature cache is module state: free it before the
        # session it belongs to stops
        from insideout_spark.plans.webtext import release_signature_caches

        release_signature_caches()


WORKLOADS = {w.name: w for w in (GeocodeCommunes400, NeardupMinhash)}
