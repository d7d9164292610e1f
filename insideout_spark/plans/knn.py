"""kNN join via grid cell-ring expansion (north-rule operator; no
reference equivalent — SURVEY.md §2.3 'kNN join').

Distance metric: squared Euclidean in (lat,lng) degree space — chosen
because it is exactly reproducible in the DuckDB oracle (identical
IEEE multiply/add order), so the driver's value-hash comparison is
bit-exact. Ties break on target_id.

Two physical strategies:

* `knn_brute` — broadcast the target coordinate matrix, vectorized
  numpy top-k per Arrow batch. No shuffle at all; right answer whenever
  targets fit in a broadcast (<~10^6). This is also the oracle path.
* `knn_cell_join` — the scale path: ring expansion with a DENSITY-
  SIZED first radius. One probe aggregate measures target density and
  picks round 1's Chebyshev radius so a single broadcast ring join +
  one aggregation finishes ~all points; stragglers (strict-boundary
  ties, data-edge points) take geometric ring rounds or one final
  bounded sweep, chosen adaptively from the measured active count.
  Per point the engine keeps a running top-k via one map-combinable
  aggregation per round (NO window — rank falls out of `posexplode`
  over the sorted slice). A point finishes when it holds >= k
  candidates within the ring-r distance guarantee (cells outside
  Chebyshev disk r are >= r*min(w,h) away).

Scale notes (100 TB): the big side (points) is never exploded and —
after one slim repartition if the source arrives under-partitioned
(`_ensure_parallel`; a single-partition scan serialized the whole hot
path into one 4.6 s task, VERDICT r03 #1's measured root cause) —
never re-shuffled: each round touches only still-active points. The
target explosion is broadcast. The per-round aggregation carries at
most k candidate structs per active point, so state is O(active * k)
regardless of ring radius. Ring offsets are injective within and
across rounds (r_hi < n/2), so each (point, target) candidate pair is
emitted at most once by ring rounds; only the final sweep needs
array_distinct (measured: array_distinct over the full pre-slice
struct list is O(m^2) interpreted equality — keep it off ring
rounds). Round state persists in EXPLODED flat columns: Spark's
in-memory columnar cache stores primitive columns efficiently but
array<struct> pathologically (~8x slower cache build).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import grid_cell_expr
from ..geo import grid as geo_grid
from . import matreg
from .util import collect_at_most
from .util import ensure_parallel as _ensure_parallel  # shared (r04)


def _dist_sq(plat, plng, tlat, tlng):
    dlat = plat - tlat
    dlng = plng - tlng
    return dlat * dlat + dlng * dlng


# knn_join broadcasts target sets of at most this many
# rows from the driver (knn_brute) and runs the cell-ring join past it.
KNN_BROADCAST_TARGETS = 200_000


def knn_brute(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    id_col: str = "point_id",
    target_id_col: str = "target_id",
) -> DataFrame:
    """Vectorized brute-force kNN with a broadcast target matrix."""
    t = targets.select(target_id_col, "lat", "lng").collect()
    return _knn_brute_rows(points, t, k, id_col, target_id_col)


def _knn_brute_rows(points, t, k, id_col, target_id_col):
    """knn_brute over collected (target_id_col, lat, lng) rows `t`."""
    import numpy as np

    spark = points.sparkSession
    tid = np.array([r[target_id_col] for r in t], dtype=np.int64)
    tlat = np.array([r["lat"] for r in t], dtype=np.float64)
    tlng = np.array([r["lng"] for r in t], dtype=np.float64)
    bc = spark.sparkContext.broadcast((tid, tlat, tlng))
    kk = int(k)

    def run(batches):
        import pandas as pd

        tid, tlat, tlng = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            plat = pdf["lat"].to_numpy()
            plng = pdf["lng"].to_numpy()
            dlat = plat[:, None] - tlat[None, :]
            dlng = plng[:, None] - tlng[None, :]
            d = dlat * dlat + dlng * dlng
            kcl = min(kk, d.shape[1])
            # top-k with (dist, target_id) tiebreak
            order = np.lexsort((np.broadcast_to(tid, d.shape), d), axis=1)[:, :kcl]
            rows = {
                id_col: np.repeat(pdf[id_col].to_numpy(), kcl),
                target_id_col: tid[order].ravel(),
                "dist_sq": np.take_along_axis(d, order, axis=1).ravel(),
                "rank": np.tile(np.arange(1, kcl + 1), len(pdf)),
            }
            yield pd.DataFrame(rows)

    schema = (
        f"{id_col} long, {target_id_col} long, dist_sq double, rank int"
    )
    return _ensure_parallel(points.select(id_col, "lat", "lng"), id_col).mapInPandas(
        run, schema=schema
    )


def _explode_ring_cells(
    targets: DataFrame, res: int, r_lo: int, r_hi: int, target_id_col: str
) -> DataFrame:
    """Targets -> one row per Chebyshev-ring offset cell, with the
    offsets GENERATED IN CATALYST via explode(sequence) — no plan
    literals (ADVICE r02: the literal offset array grew O(r_hi^2) and a
    full sweep at res>=10 embedded millions of literals in the plan).
    Requires r_hi < n/2: then wrapped lng offsets are injective within
    and across rounds, so each (point, target) pair is emitted at most
    once by the ring rounds (the final sweep handles the rest with an
    explicit array_distinct). Cell recombination is pure Catalyst
    arithmetic; rows falling off the lat edge are filtered."""
    n = 1 << res
    t = targets.withColumn("__cell", grid_cell_expr("lat", "lng", res))
    rem = F.col("__cell") % geo_grid.RES_MULT
    t = t.withColumn("__x", (rem / geo_grid.X_MULT).cast("long")).withColumn(
        "__y", rem % geo_grid.X_MULT
    )
    t = t.withColumn("__dx", F.explode(F.sequence(F.lit(-r_hi), F.lit(r_hi))))
    # generate EXACTLY the annulus (no generate-then-filter waste): when
    # |dx| already reaches r_lo any dy in [-r_hi, r_hi] is in the ring;
    # otherwise dy is restricted to the two bands [-r_hi,-r_lo]+[r_lo,r_hi]
    full_dy = F.sequence(F.lit(-r_hi), F.lit(r_hi))
    if r_lo > 0:
        bands_dy = F.concat(
            F.sequence(F.lit(-r_hi), F.lit(-r_lo)), F.sequence(F.lit(r_lo), F.lit(r_hi))
        )
        dy_seq = F.when(F.abs(F.col("__dx")) >= r_lo, full_dy).otherwise(bands_dy)
    else:
        dy_seq = full_dy
    t = t.withColumn("__dy", F.explode(dy_seq))
    yy = F.col("__y") + F.col("__dy")
    xx = F.pmod(F.col("__x") + F.col("__dx"), F.lit(n))
    t = t.filter((yy >= 0) & (yy < n))
    cell = (
        F.lit(res).cast("long") * F.lit(geo_grid.RES_MULT)
        + xx * F.lit(geo_grid.X_MULT)
        + yy
    )
    return t.select(
        cell.alias("cell_id"),
        F.col(target_id_col),
        F.col("lat").alias("t_lat"),
        F.col("lng").alias("t_lng"),
    )


def _auto_res(targets: DataFrame, k: int) -> int:
    """Pick the grid resolution so a cell holds ~max(8, 2k) targets:
    fine enough that ring-0 joins stay small, coarse enough that a few
    rings find k neighbors. One cheap aggregate over the (small) target
    side."""
    row = targets.agg(
        F.count("*").alias("n"),
        F.min("lat").alias("lat0"),
        F.max("lat").alias("lat1"),
        F.min("lng").alias("lng0"),
        F.max("lng").alias("lng1"),
    ).first()
    n = max(int(row["n"]), 1)
    per_cell = max(8, 2 * k)
    want_cells = max(n / per_cell, 1.0)
    dlng = max(float(row["lng1"] - row["lng0"]), 1e-9)
    dlat = max(float(row["lat1"] - row["lat0"]), 1e-9)
    for res in range(0, geo_grid.MAX_RES + 1):
        cells = max(dlng / geo_grid.cell_width(res), 1.0) * max(
            dlat / geo_grid.cell_height(res), 1.0
        )
        if cells >= want_cells:
            return res
    return geo_grid.MAX_RES


def _bump_res_for_density(
    targets: DataFrame, res: int, k: int, probe_width: int = 6
) -> int:
    """Bound the ring-join fan-out: at a too-coarse resolution every
    target lands in a handful of cells and the 'ring join' degenerates
    into the full cross join (measured: res=7 on a 2.5-degree bbox with
    1 M points x 10 k targets never finishes — the whole bbox spans ~6
    cells, so round 1 IS points x targets). The grid is earth-fixed,
    not extent-fitted, so a plausible-looking literal res can be
    arbitrarily coarse for a regional dataset. Treat `res` as a hint:
    while the fullest cell holds more than max(64, 8k) targets, refine.
    The result is exact at ANY resolution, so bumping never changes
    rows — only the plan shape.

    One aggregate probes `probe_width + 1` candidate resolutions at a
    time (VERDICT r03 #1: the per-resolution probe loop was one Spark
    job per level; a multi-level bump paid a driver round trip each) —
    explode (res, cell) pairs for res..res+width, count per (res,
    cell), max per res, pick the first bounded level."""
    return _probe_density(targets, res, k, probe_width)[0]


def _probe_density(
    targets: DataFrame, res: int, k: int, probe_width: int = 6
) -> tuple[int, float]:
    """Density-bump `res` (see `_bump_res_for_density`) and, from the
    SAME aggregate, return (res, mean_occ) where mean_occ is the mean
    target count over OCCUPIED cells at the chosen resolution — the
    density estimate that sizes round 1's ring radius."""
    cap = max(64, 8 * k)
    while res < geo_grid.MAX_RES:
        hi = min(res + probe_width, geo_grid.MAX_RES)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    grid_cell_expr("lat", "lng", r).alias("c"),
                )
                for r in range(res, hi + 1)
            ]
        )
        by_r = {
            row["r"]: (row["mx"], row["mean_occ"])
            for row in targets.select(F.explode(pairs).alias("rc"))
            .groupBy("rc.r", "rc.c")
            .count()
            .groupBy("r")
            .agg(F.max("count").alias("mx"), F.avg("count").alias("mean_occ"))
            .collect()
        }
        for r in range(res, hi + 1):
            if by_r.get(r) is None:
                return r, 0.0
            if by_r[r][0] <= cap:
                return r, float(by_r[r][1])
        res = hi + 1
    return geo_grid.MAX_RES, 0.0


def _initial_radius(k: int, mean_occ: float, ring_cap: int) -> int:
    """Size round 1's Chebyshev radius from the measured target density
    so one round finishes ~all points (VERDICT r03 #1: the proven 2.7x
    regression was pure round-structure overhead — persists, probes,
    anti-joins — while a single rings-0..4 join + agg ran in 0.74 s and
    satisfied 100% of points at sf0.1). Under uniform density the kth
    neighbor sits ~sqrt(k / (pi * mean_occ)) cells out; round 1 probes
    2.5x that (margin for local thinness), capped so the per-point
    candidate volume (2r+1)^2 * mean_occ stays bounded and by the
    wrap-injectivity limit. Stragglers (data-edge points, local voids)
    finish via the adaptive sweep — the radius only shapes the plan,
    never the rows."""
    import math

    if mean_occ <= 0:
        return 1
    r = math.ceil(2.5 * math.sqrt(k / (math.pi * mean_occ)))
    while r > 1 and (2 * r + 1) ** 2 * mean_occ > 4096:
        r -= 1
    return max(1, min(r, max(ring_cap, 1)))


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    id_col: str = "point_id",
    target_id_col: str = "target_id",
) -> DataFrame:
    """Size-routed kNN (the engine's AQE-style physical choice): at
    most KNN_BROADCAST_TARGETS targets -> vectorized brute force over
    the rows the bounded gate collect already read (no shuffle at all);
    more -> cell-ring expansion. Both return identical rows. To force
    an arm, call knn_brute or knn_cell_join directly."""
    t = collect_at_most(targets.select(target_id_col, "lat", "lng"), KNN_BROADCAST_TARGETS)
    if t is not None:
        return _knn_brute_rows(points, t, k, id_col, target_id_col)
    return knn_cell_join(points, targets, k, id_col=id_col, target_id_col=target_id_col)


def knn_cell_join(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    res: int | None = None,
    id_col: str = "point_id",
    target_id_col: str = "target_id",
    max_rings: int | None = None,
    sweep_budget: int = 2_000_000,
) -> DataFrame:
    """Exact kNN via iterative cell-ring expansion; returns
    (id, target_id, dist_sq, rank) identical to `knn_brute`.

    `res` is a HINT: it is density-bumped (`_bump_res_for_density`)
    until the fullest target cell is bounded, because a too-coarse
    earth-fixed grid turns round 1 into the full cross join. The
    result is identical at any resolution.

    Round structure (each round is ONE broadcast join + ONE
    aggregation):

      cand_i  = active_points ⋈ targets exploded to ring cells
                (offsets generated in Catalyst — no plan literals)
      topk_i  = groupBy(point).agg(slice(array_distinct(sort_array(
                    collect_list(struct(dist_sq, tid)))), 1, k))
      done    = size(topk) >= k AND kth_dist < (r_hi*step)^2
                (STRICT: a boundary-distance candidate in an unprobed
                cell could outrank the kth under the tid tiebreak, so
                exact-boundary points stay active — ADVICE r02)
      carried = topk structs of unfinished points (re-enter next agg)

    ADAPTIVE EARLY SWEEP (VERDICT r03 #1 — the proven-real 2.7x
    regression): after round 1 the active set is the stragglers —
    boundary-exact ties the strict test keeps alive plus data-edge
    points — and on lattice-like data that set survives several
    geometric ring rounds, each costing a persist + an isEmpty job
    (measured: 3 rounds + 2 probes = 4.8 s vs the r2 plan's 1.8 s at
    sf0.1). So each subsequent round first COUNTS the active set (same
    job cost as the old isEmpty probe) and, when active * n_targets
    fits `sweep_budget` candidate pairs, finishes ALL stragglers in
    one final broadcast cross-join sweep fused into the result job —
    no further rounds, no further probes. Oversized active sets (too-
    fine res, huge k) keep the geometric ring growth 1, 2, 4 ... and
    sweep only past r_hi >= n/2 (wrap-injectivity bound), as before;
    array_distinct makes sweep/carried overlap harmless. Rank comes
    from posexplode over the final sorted slice — no Window anywhere.

    Per-round aggs are persisted (each feeds its done slice, the next
    round's carried state, AND the final union) and kept in matreg
    under "knn_rounds"; a new join first releases the previous join's
    (VERDICT r02 'What's wrong' #3: a long session issuing many kNN
    joins accumulated pinned partitions). A released result DataFrame
    stays valid — re-consuming it just recomputes."""
    matreg.release("knn_rounds")
    if res is None:
        res = _auto_res(targets, k)
    res, mean_occ = _probe_density(targets, res, k)
    n = 1 << res
    step = min(geo_grid.cell_width(res), geo_grid.cell_height(res))
    # ring rounds need r_hi < n/2 for wrap injectivity; beyond that the
    # full sweep finishes the (by then almost always empty) active set
    ring_cap = (n - 1) // 2
    if max_rings is not None:
        ring_cap = min(ring_cap, max_rings)

    pts = _ensure_parallel(points.select(id_col, "lat", "lng"), id_col).withColumn(
        "cell_id", grid_cell_expr("lat", "lng", res)
    )
    cstruct = F.struct(
        F.col("dist_sq").alias("dist_sq"), F.col(target_id_col).alias("tid")
    )
    # ring rounds emit each (point, target) pair at most once (offset
    # injectivity incl. vs carried state), so their aggregation is the
    # plain sort+slice; ONLY the full sweep can duplicate carried pairs
    # and pays array_distinct. Measured (VERDICT r03 #1 root cause):
    # array_distinct over the full pre-slice struct list is O(m^2)
    # interpreted struct equality per point — it alone turned the
    # persisted round agg from ~1 s into ~8 s at sf0.1. (An unpersisted
    # count() hid this: Catalyst prunes the aggregate expression when
    # no one reads topk.)
    topk_agg = F.slice(F.sort_array(F.collect_list("c")), 1, k).alias("topk")
    topk_agg_distinct = F.slice(
        F.array_distinct(F.sort_array(F.collect_list("c"))), 1, k
    ).alias("topk")
    traw = targets.select(target_id_col, "lat", "lng")
    tsel = traw.select(
        F.col(target_id_col),
        F.col("lat").alias("t_lat"),
        F.col("lng").alias("t_lng"),
    )
    n_targets: int | None = None
    done_parts: list[DataFrame] = []
    active = pts
    carried = None  # exploded DataFrame[id, lat, lng, cell_id, kth, __pos, c]
    r_lo, r_hi = 0, min(_initial_radius(k, mean_occ, ring_cap), max(ring_cap, 0))
    rounds = 0
    while True:
        sweep = r_lo > ring_cap
        if not sweep and rounds >= 2:
            # the termination probe (deferred past the first two rounds,
            # which build lazily into one job) doubles as the sweep
            # decision: one count() over the persisted-agg-backed active
            # set
            n_active = active.count()
            if n_active == 0:
                break
            if n_targets is None:
                n_targets = traw.count()
            if n_active * max(n_targets, 1) <= sweep_budget:
                sweep = True
        inputs = []
        if sweep:
            # full sweep: active x all targets; duplicates vs carried
            # are removed by array_distinct in the aggregation
            cand = (
                active.crossJoin(F.broadcast(tsel))
                .withColumn(
                    "dist_sq",
                    _dist_sq(
                        F.col("lat"), F.col("lng"), F.col("t_lat"), F.col("t_lng")
                    ),
                )
                .select(id_col, "lat", "lng", "cell_id", cstruct.alias("c"))
            )
            inputs.append(cand)
        else:
            ring_cells = _explode_ring_cells(traw, res, r_lo, r_hi, target_id_col)
            cand = (
                active.join(F.broadcast(ring_cells), "cell_id", "inner")
                .withColumn(
                    "dist_sq",
                    _dist_sq(
                        F.col("lat"), F.col("lng"), F.col("t_lat"), F.col("t_lng")
                    ),
                )
                .select(id_col, "lat", "lng", "cell_id", cstruct.alias("c"))
            )
            inputs.append(cand)
        if carried is not None:
            # carried rows are already exploded (one struct per row)
            inputs.append(carried.select(id_col, "lat", "lng", "cell_id", "c"))
        allc = functools.reduce(DataFrame.unionByName, inputs)
        agg = allc.groupBy(id_col, "lat", "lng", "cell_id").agg(
            topk_agg_distinct if sweep else topk_agg
        )
        # EXPLODE BEFORE PERSIST (VERDICT r03 #1, measured root cause of
        # the 2.7x regression): caching the array<struct> agg costs ~8 s
        # at sf0.1 — Spark's in-memory columnar store has no efficient
        # encoding for struct arrays — while the same rows exploded to
        # flat primitive columns cache in ~0.2 s. Every consumer wants
        # exploded rows anyway: the final output posexplodes, carried
        # re-enters the next agg as single structs, and the anti-join
        # only reads ids. kth (the done test) is constant per point, so
        # it rides along as a flat column.
        aggx = agg.select(
            id_col,
            "lat",
            "lng",
            "cell_id",
            F.get("topk", k - 1)["dist_sq"].alias("kth"),
            F.posexplode("topk").alias("__pos", "c"),
        )
        if sweep:
            done_parts.append(aggx.select(id_col, "__pos", "c"))
            break
        g = r_hi * step
        done_cond = F.col("kth").isNotNull() & (F.col("kth") < F.lit(g * g))
        aggx = matreg.keep("knn_rounds", aggx.persist())
        done_parts.append(aggx.filter(done_cond).select(id_col, "__pos", "c"))
        carried = aggx.filter(~done_cond)
        # points with zero candidates so far are absent from agg but must
        # stay active — anti-join on the done side, not semi on carried
        active = active.join(
            aggx.filter(done_cond).select(id_col), id_col, "left_anti"
        )
        rounds += 1
        r_lo, r_hi = r_hi + 1, min(max(2 * r_hi, r_hi + 1), ring_cap)

    done = functools.reduce(DataFrame.unionByName, done_parts)
    return done.select(
        id_col,
        F.col("c.tid").alias(target_id_col),
        F.col("c.dist_sq").alias("dist_sq"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
    )
