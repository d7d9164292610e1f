"""Global ordinal / shard assignment without a single-partition sort.

The last step before writing training shards is "number every document
0..N-1 in a stable order and cut fixed-size shards". The naive Spark
spelling — `row_number() OVER (ORDER BY key)` with no PARTITION BY —
collapses the whole corpus into ONE task (Catalyst plans a global sort
into a single window partition): the one plan shape that cannot
survive 100 TB. The scalable spelling is the classic two-phase rank:

  1. range-partition by the order key (Spark's RangePartitioner —
     the same machinery ORDER BY uses, P parallel partitions),
  2. count rows per partition (a tiny P-row aggregate),
  3. ordinal = exclusive-prefix-sum(partition counts)[pid]
              + local rank within the partition.

Everything stays JVM-side: the local rank is a window PARTITIONed by
the partition id (balanced groups, no skew by construction), the
offsets ride a P-row broadcast join. The range frame is persisted so
phases 1 and 3 see identical partition boundaries (RangePartitioner
samples its splits; the barrier makes them a fact, the
components.py checkpoint discipline).

Reference parity: the reference assigns dense feature ids during index
build by iterating its single-process feature list (insideout's
index/indexer.go builds sequential fids); this is the distributed
equivalent with identical output semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import matreg


def global_ordinals(
    df: DataFrame,
    order_col: str = "doc_id",
    id_name: str = "ordinal",
    shard_size: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign ordinal = rank of `order_col` ascending (0-based, dense,
    deterministic; order keys must be unique) and, when `shard_size`
    is given, shard_id = ordinal // shard_size — without ever planning
    a global single-partition sort. Two shuffles (range + pid window)
    plus one P-row count job; oracle: webtext_sql.global_ordinals_sql
    (row_number over the same ordering)."""
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    # superseding the previous call's range frame before the persist:
    # a repeat call on the same input shares its cache entry
    ranged = matreg.supersede(
        "global_ordinals",
        df.repartitionByRange(p, F.col(order_col).asc()).withColumn(
            "_pid", F.spark_partition_id()
        ),
    ).persist()
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    offs = spark.createDataFrame(offsets, "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(F.col(order_col).asc())
    out = (
        ranged.join(F.broadcast(offs), "_pid")
        .withColumn(
            id_name,
            (F.col("_offset") + F.row_number().over(w) - F.lit(1)).cast(
                "long"
            ),
        )
        .drop("_pid", "_offset")
    )
    if shard_size is not None:
        out = out.withColumn(
            "shard_id",
            F.floor(F.col(id_name) / F.lit(int(shard_size))).cast("int"),
        )
    return out
