"""Structured Streaming stab join.

The reference has no streaming (SURVEY.md §2.9 — request/response
only). Because our stab join is stateless per point (broadcast index +
fused Arrow pass, no cross-row state), the same plan runs unchanged
under `readStream`: micro-batches of new pages are geocoded as they
land. Checkpointing here is Spark's own streaming checkpoint; the batch
lineage system (plans/checkpoint.py) covers the batch backfill path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.index_build import IndexBundle
from ..plans.pip_join import pip_join
from ..sources.pages import PAGES_SCHEMA, extract_points


def stream_pages(spark: SparkSession, input_dir: str, max_files: int = 10) -> DataFrame:
    """File-source stream of pages parquet drops."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def stream_pip_join(pages_stream: DataFrame, index: IndexBundle) -> DataFrame:
    """Streaming DataFrame of stab-join hits — same operator graph as the
    batch flagship."""
    points = extract_points(pages_stream)
    # strategy="fused" is the streaming-correct path: it is a stateless
    # per-batch operator (no aggregation), so append mode needs no
    # watermark; the "jvm" strategy folds the stab into an aggregation,
    # which streaming append mode rejects — so the arm is pinned, not
    # left to the batch default
    return pip_join(points, index, include_properties=False, strategy="fused")


def run_stream(
    pages_stream: DataFrame,
    index: IndexBundle,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the streaming query writing hit rows to parquet."""
    hits = stream_pip_join(pages_stream, index)
    writer = (
        hits.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
