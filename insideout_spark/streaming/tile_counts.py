"""Streaming windowed tile rollups with late-data handling.

Beyond the stateless streaming stab join (stream_pip.py), this is the
stateful streaming pattern the engine needs for live tile dashboards:
pages stream -> coordinate extraction (`sources.pages.select_points`)
-> grid-tile assignment -> event-time windowed counts per tile with a
WATERMARK so late pages update the right window and state is
eventually dropped. Every stage is Catalyst: the query has no Python
stage.
(The reference has no streaming at all — SURVEY.md §2.9.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import grid_cell_expr
from ..geo import grid as geo_grid
from ..sources.pages import select_points


def tile_count_stream(
    pages_stream: DataFrame,
    grid_res: int = geo_grid.DEFAULT_RES,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """(window, grid_cell, n_pages) streaming aggregation keyed by the
    page's event time (warc_ts). Append-mode emits a window once the
    watermark passes — late pages within the watermark still count."""
    pts = select_points(pages_stream, "warc_ts").withWatermark("warc_ts", watermark)
    cells = pts.withColumn("grid_cell", grid_cell_expr("lat", "lng", grid_res))
    return (
        cells.groupBy(F.window("warc_ts", window).alias("w"), "grid_cell")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "grid_cell",
            "n_pages",
        )
    )


def run_tile_count_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    grid_res: int = geo_grid.DEFAULT_RES,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
):
    agg = tile_count_stream(pages_stream, grid_res, window, watermark)
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
