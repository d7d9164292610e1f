"""spark-submit entrypoint: checkpointed, resumable PIP-join run.

    ./package.sh
    spark-submit --py-files dist/insideout_spark.zip jobs/pip_join_job.py \
        --polygons tests/golden/houat.geojson --pages-n 1000000 \
        --out /tmp/pip_out --buckets 16 [--pages path.parquet] \
        [--salt 8] [--min-level 4 --max-level 10 --max-cells 64]

Reads pages (parquet with url/text columns, or synthesizes --pages-n
deterministic rows), extracts coordinates, stab-joins against the
polygon layer, and writes one parquet directory per hash bucket with a
lineage record after each commit. Rerunning after a crash reprocesses
only uncommitted buckets (plans/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from insideout_spark.geo.cover import CoverParams
from insideout_spark.plans import checkpoint as ckpt
from insideout_spark.plans.index_build import build_index
from insideout_spark.plans.pip_join import pip_join
from insideout_spark.session import get_spark
from insideout_spark.sources import pages as src_pages
from insideout_spark.sources.polygons import load_geojson_loops


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--polygons", required=True, help="GeoJSON FeatureCollection path")
    ap.add_argument("--pages", help="parquet path with (url, text) columns")
    ap.add_argument(
        "--points",
        help="parquet path with pre-extracted (url, lat, lng) points — "
        "skips the text extraction so the measured job is the stab "
        "alone (the bench.py scaling-block methodology)",
    )
    ap.add_argument("--pages-n", type=int, default=100_000, help="synthesize N pages instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--salt", type=int, default=0, help=">0: shuffle join with salting")
    ap.add_argument("--min-level", type=int, default=None,
                    help="cover min level (default: auto from polygon sizes)")
    ap.add_argument("--max-level", type=int, default=None)
    ap.add_argument("--max-cells", type=int, default=24)
    args = ap.parse_args(argv)

    spark = get_spark("pip-join-job")
    loops = load_geojson_loops(args.polygons)
    if args.min_level is None or args.max_level is None:
        index = build_index(spark, loops)  # auto_cover_params
    else:
        index = build_index(
            spark,
            loops,
            CoverParams(args.min_level, args.max_level, args.max_cells),
            # exterior cover one level coarser, like the reference defaults
            # (cmd/indexer/main.go:61-67: inside 10-16/24, outside 10-15/16)
            CoverParams(args.min_level, max(args.min_level, args.max_level - 1),
                        max(args.max_cells * 2 // 3, 8)),
        )

    if args.points:
        points = spark.read.parquet(args.points).select("url", "lat", "lng")
    else:
        if args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            pages = src_pages.synth_pages(spark, args.pages_n)
        points = src_pages.extract_points(pages)
    points = points.withColumn("__bucket", ckpt.bucket_col(["url"], args.buckets)).cache()

    def make_bucket(b: int):
        pts = points.filter(F.col("__bucket") == b).drop("__bucket")
        return pip_join(
            pts,
            index,
            strategy="salted" if args.salt else None,
            salt_buckets=args.salt or None,
            include_properties=True,
        ).withColumn("properties", F.to_json("properties"))

    stats = ckpt.run_checkpointed(spark, make_bucket, args.buckets, args.out, "pip_join")
    lineage = ckpt.read_lineage(spark, args.out)
    print(
        json.dumps(
            {
                "processed": stats["processed"],
                "skipped": stats["skipped"],
                "total_rows": sum(r["rows"] for r in lineage.values()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
