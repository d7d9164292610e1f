"""Connected components over near-duplicate pair graphs — the step
that turns pairwise dedup output (minhash_lsh_pairs /
embedding_near_dup_pairs / ngram_jaccard_pairs) into CLUSTER ids so a
pipeline can keep one representative per duplicate cluster. No
reference equivalent (the reference is a point-stab engine); this is
the standard large-scale dedup closer (the MinHash-LSH papers'
"connected components of the candidate graph").

Algorithm: iterative min-label propagation WITH pointer jumping. Each
round every node takes the min label among itself and its neighbors,
then composes the label mapping with itself (lab := lab[lab]), so
reach doubles per round and a length-L chain converges in O(log L)
rounds — long drift chains are real in near-dup graphs (templated
pages mutating gradually). Converges to label == min(node id in
component). Each round is two joins + one map-combinable min
aggregation over the LABEL frame; the pair graph is tiny relative to
the corpus (pairs only exist for near-dups), so at 100 TB this runs
on the dedup output, never the raw docs.

The DuckDB oracle (components_sql in __spark_entry__.py) computes the
same fixpoint with WITH RECURSIVE — the fixpoint is engine-independent
(pure integer min over reachable ids), so the driver's value-hash gate
applies to an ITERATIVE operator too.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# parquet stats-barrier dirs (freed at interpreter exit; tiny — label
# tables only)
_BARRIER_DIRS: list = []


def _cleanup_barrier_dirs() -> None:
    while _BARRIER_DIRS:
        shutil.rmtree(_BARRIER_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_barrier_dirs)

# apply a stats barrier every N iterations / recursion levels
_STATS_BARRIER_EVERY = 8


def _stats_barrier(df: DataFrame) -> DataFrame:
    """Parquet write+read roundtrip — resets Catalyst plan STATISTICS,
    not just lineage. localCheckpoint truncates the plan but the
    resulting LogicalRDD INHERITS the original plan's size estimate
    (originStats), so an iterated self-join squares the estimate every
    round: the BigInteger digit count doubles per iteration and by
    round ~15 the driver pins a core multiplying million-digit numbers
    inside the stats visitor (measured on a 5-ROW table — the blowup is
    plan-side, data-free, and would hit ANY long-running iterative
    DataFrame algorithm at 100 TB just the same). A file roundtrip is
    the supported way to restart from honest file-size stats; label
    tables are small relative to the corpus, so the barrier cost is a
    parallel write+read of a slim two-column table every
    `_STATS_BARRIER_EVERY` rounds."""
    d = tempfile.mkdtemp(prefix="insideout_cc_barrier_")
    _BARRIER_DIRS.append(d)
    path = os.path.join(d, "t.parquet")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)

# Label tables at or under this row count are BROADCAST into the
# per-round propagation join, so the (much larger) edge table is never
# re-shuffled per round — at sf1 the edge table is 10.4M rows vs a 47k
# label table, and the broadcast join removes one full edge shuffle per
# round (guide §3.1/§2.4). Above the cap the sort-merge shape is kept:
# a label table of billions of nodes cannot be broadcast. 4M labels
# ~ 64 MB broadcast.
_BROADCAST_LABEL_CAP = 4_000_000

# Pair graphs at or under this many edges run the DRIVER-SIDE numpy
# label propagation (the knn_brute / cosine_topk_brute bounded-collect
# pattern): near-dup pair graphs are tiny relative to the corpus (pairs
# only exist for near-dups), and a vectorized scatter-min + pointer-
# jumping loop labels 5M edges in well under a second where the
# distributed loop pays ~1 s of job overhead PER ROUND. Above the cap
# the distributed loop runs unchanged — the gate is a count on the
# already-materialized pair checkpoint, so nothing is collected before
# the bound is known. 20M edges ~ 320 MB of driver arrays.
_CC_DRIVER_EDGES = 20_000_000


def _cc_numpy(a, b):
    """Exact min-label fixpoint over int64 pair arrays: compact node
    ids via np.unique (sorted, so min index == min id), scatter-min
    both directions per round, pointer-jump to closure, repeat to the
    fixpoint. Returns (nodes, component_id_per_node)."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        old = lab.copy()
        np.minimum.at(lab, ib, lab[ia])
        np.minimum.at(lab, ia, lab[ib])
        while True:
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if np.array_equal(lab, old):
            break
    return nodes, nodes[lab]


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    _depth: int = 0,
) -> DataFrame:
    """(node, component_id) for every node appearing in `pairs`;
    component_id = min node id in the component. Deterministic,
    engine-independent fixpoint.

    The pair table is persisted (releasable — freed eagerly on the
    driver path, superseded otherwise); ITERATION state still uses
    localCheckpoint (lineage truncation, see below) whose per-round
    label blocks are small and freed by the ContextCleaner.

    If the label loop has not converged after `max_iters` rounds, the
    STAR-CONTRACTION fallback kicks in (VERDICT r03 'Next round' #6):
    contract the graph by the current labels — every edge becomes
    (lab(src), lab(dst)), self-loops dropped — and recurse on the
    strictly smaller contracted graph with a fresh budget, then
    compose the mappings. Per level the pointer-jumped reach is
    ~2^max_iters, so a diameter-D graph finishes in
    O(D / 2^max_iters) contraction levels — with the default budget
    (50 rounds, reach ~2^50) the fallback is effectively unreachable
    and exists as the declared escape hatch; tiny budgets (max_iters
    2-3) exercise it in tests. A contraction that fails to shrink the
    node count, or depth past 64, raises instead of looping."""
    # NO edge dedup (r06): every producer of near-dup pairs in this
    # engine (minhash/simhash/ngram/embedding) already emits distinct
    # (a < b) pairs, so the old defensive symmetrize-then-distinct paid
    # a full shuffle of the pair table (measured 3.6 s of a 9.6 s CC at
    # sf1) for nothing. Duplicate edges would not change the fixpoint —
    # min over a multiset equals min over its set — only inflate the
    # per-round propagation input, so skipping the distinct is safe for
    # correctness on ANY input and cheaper on ours (map-only edge
    # build: 0.7 s). Self-loops are kept once (flip filtered), so every
    # node still appears as src.
    spark = pairs.sparkSession
    # driver pass-through (r06): a producer that generated the pair set
    # on the driver (the near-dup engine's driver arm) attaches the
    # arrays to the very frame it built FROM them — consuming them
    # directly skips a full compute + collect round-trip of identical
    # data. Only the exact returned frame carries the attribute (any
    # transformation returns a new object without it), so content
    # equality is by construction.
    driver_edges = getattr(pairs, "_io_pairs_np", None)
    if (
        driver_edges is None
        or (a_col, b_col) != ("doc_a", "doc_b")
        or len(driver_edges[0]) > _CC_DRIVER_EDGES
    ):
        # persist (NOT checkpoint) the pair table for the count + collect /
        # checkpoint that follow: persistence is releasable (matreg, guide
        # §5 — checkpoint blocks linger until the ContextCleaner runs: 10 ->
        # 45 -> 54 s across repeated CC calls at sf1); the driver path frees
        # it the moment the edges are on the driver.
        base = pairs.select(
            F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        driver_edges = None
        if base.count() <= _CC_DRIVER_EDGES:  # counts the cached blocks only
            pdf = base.toPandas()  # bounded by the count (size-gated collect)
            base.unpersist()
            driver_edges = (pdf["src"], pdf["dst"])
    if driver_edges is not None:
        import numpy as np
        import pandas as pd

        a, b = (np.asarray(v, dtype=np.int64) for v in driver_edges)
        if len(a) == 0:
            return spark.createDataFrame([], "node long, component_id long")
        nodes, comp = _cc_numpy(a, b)
        return spark.createDataFrame(
            pd.DataFrame({"node": nodes, "component_id": comp})
        )
    # distributed loop: truncate lineage ONCE from the cached blocks,
    # then drop the cache. localCheckpoint TRUNCATES the logical plan,
    # not just caches it: every round references its inputs twice
    # (union + propagation join), so with plain persist the ANALYZED
    # plan doubles per round on top of the full upstream pair-pipeline
    # lineage — exponential Catalyst work that OOMs the driver after ~10
    # rounds. (Checkpoint blocks are freed by the ContextCleaner.)
    ckpt = base.localCheckpoint(eager=True)
    base.unpersist()
    base = ckpt
    edges = base.unionByName(
        base.filter(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    # seed labels WITH the first neighbor-min step folded in: every
    # node appears as src in the symmetric edge table, so
    # groupBy(src).min(dst) + least(node, ·) computes round 1's
    # neighbor min as ONE map-combinable aggregation — no join, and
    # one fewer propagation round. Any seed with
    # lab(v) ∈ component(v) and lab(v) <= v converges to the same
    # fixpoint (min id in component), so the result is unchanged.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__md"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__md")).alias("lab"),
        )
        .localCheckpoint(eager=True)
    )
    # one tiny agg over the checkpointed labels: node count (gates the
    # broadcast shape) and the exact decimal label sum (the convergence
    # baseline — labels are element-wise non-increasing, so an
    # unchanged sum means an unchanged table)
    n_nodes, prev_sum = labels.agg(
        F.count("*"), F.sum(F.col("lab").cast("decimal(38,0)"))
    ).collect()[0]
    small = n_nodes <= _BROADCAST_LABEL_CAP
    _b = F.broadcast if small else (lambda df: df)
    for _it in range(int(max_iters)):
        if _it > 0 and _it % _STATS_BARRIER_EVERY == 0:
            labels = _stats_barrier(labels)
        # step 1: neighbor min — every node takes the min label among
        # itself and its direct neighbors. The label side is broadcast
        # when it fits (see _BROADCAST_LABEL_CAP): the edge table then
        # streams straight out of its checkpoint into a map-side
        # partial min — zero edge shuffle per round.
        prop = edges.join(
            _b(labels.select(F.col("node").alias("src"), "lab")), "src"
        ).select(F.col("dst").alias("node"), "lab")
        m = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        # step 2: pointer jumping — compose the label mapping with
        # itself (lab := lab[lab]), so reach doubles per round and a
        # length-L chain converges in O(log L) rounds instead of O(L)
        # (real near-dup graphs contain long drift chains)
        jump = m.select(F.col("node").alias("__ln"), F.col("lab").alias("__ll"))
        # lazy checkpoint: the convergence agg right below materializes
        # it — one job per round instead of two
        new = (
            m.join(_b(jump), m["lab"] == jump["__ln"], "left")
            .select("node", F.least(F.col("lab"), F.coalesce("__ll", "lab")).alias("lab"))
            .localCheckpoint(eager=False)
        )
        # convergence: labels only ever decrease (min over a set that
        # contains the old label), so the exact decimal sum is strictly
        # smaller than prev_sum iff ANY label changed — one combinable
        # aggregation instead of the old join+filter+count per round.
        cur_sum = new.agg(F.sum(F.col("lab").cast("decimal(38,0)"))).collect()[0][0]
        changed = cur_sum != prev_sum
        labels = new
        prev_sum = cur_sum
        if not changed:
            break
    else:
        # star-contraction fallback: recurse on the label-contracted
        # graph (strictly smaller after >=1 merge round), compose maps
        contracted = (
            edges.join(
                labels.select(F.col("node").alias("src"), F.col("lab").alias("__la")),
                "src",
            )
            .join(
                labels.select(F.col("node").alias("dst"), F.col("lab").alias("__lb")),
                "dst",
            )
            .select(F.col("__la").alias("a"), F.col("__lb").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_now = labels.count()
        n_contracted = (
            contracted.select(F.col("a").alias("n"))
            .unionByName(contracted.select(F.col("b").alias("n")))
            .distinct()
            .count()
        )
        if n_contracted >= n_now or _depth > 64:
            raise RuntimeError(
                f"connected_components stalled: contraction {n_now} -> "
                f"{n_contracted} nodes at depth {_depth}"
            )
        # stats barrier per level: recursion compounds the inherited
        # originStats through every level's joins otherwise
        contracted = _stats_barrier(contracted)
        sub = connected_components(
            contracted, "a", "b", max_iters=max_iters, _depth=_depth + 1
        )
        # eager checkpoint per level: without it the lazily-nested
        # compose joins accumulate across recursion levels and
        # Catalyst's size-estimate arithmetic blows up super-linearly
        # (observed: the driver pinned a core multiplying million-digit
        # BigIntegers in plan statistics)
        return (
            labels.join(
                sub.select(F.col("node").alias("lab"), "component_id"),
                "lab",
                "left",
            )
            .select(
                "node",
                F.coalesce("component_id", F.col("lab")).alias("component_id"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("lab").alias("component_id"))


def cluster_sizes(cc: DataFrame) -> DataFrame:
    """(component_id, n_members) over a precomputed components frame —
    THE definition of 'cluster size' (review r05: this aggregation was
    duplicated inline by the cluster-size histogram query)."""
    return cc.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_members")
    )


def dedup_cluster_representatives(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """One row per duplicate cluster: (component_id == representative
    doc, n_members). Downstream 'keep one per cluster' = anti-join docs
    against members where node != component_id."""
    return cluster_sizes(connected_components(pairs, a_col, b_col))
