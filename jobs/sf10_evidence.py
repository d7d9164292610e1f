"""Derived-sf10 (100x driver data) scale evidence — VERDICT r03 'Next
round' #7: one more decade past the sf1 sweep for the 100x design
claims. Runs the flagship stab (50 M synthesized pages x 400-commune
layer, all-JVM strategy) plus three cheap gated queries straight off
the /tmp/sf10 parquet, and prints one JSON line for BASELINE.md.

Usage: python jobs/sf10_evidence.py [sf_dir]   (default /tmp/sf10;
generate with `python jobs/make_scaled_sf.py /root/testdata/sf0.1
/tmp/sf10 100`).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from insideout_spark.geo.cover import CoverParams  # noqa: E402
from insideout_spark.plans.index_build import build_index  # noqa: E402
from insideout_spark.plans.pip_join import pip_join  # noqa: E402
from insideout_spark.session import get_spark  # noqa: E402
from insideout_spark.sources import pages as src_pages  # noqa: E402
from insideout_spark.sources.polygons import synth_communes_loops  # noqa: E402


def timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("SF10_PAGES", str(50_000_000)))
    spark = get_spark("sf10-evidence", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    entry_mod._prepare(spark)
    out: dict = {"sf_dir": sf_dir, "n_pages": n_pages, "cpus": cpus}

    # flagship: 100x the sf0.1 page count through the same all-JVM plan
    sec, idx = timed(
        lambda: build_index(
            spark,
            synth_communes_loops(400),
            CoverParams(8, 14, 96),
            CoverParams(8, 13, 48),
            warning_cells_cover=100000,
        )
    )
    out["index_build_communes"] = round(sec, 2)
    idx.edges()
    pts = src_pages.extract_points(
        src_pages.synth_pages(spark, n_pages, cpus * 4)
    ).cache()
    pts.count()
    pip_join(pts.limit(1), idx, include_properties=False, strategy="jvm").count()
    walls = []
    for _ in range(2):
        sec, cnt = timed(
            lambda: pip_join(pts, idx, include_properties=False, strategy="jvm").count()
        )
        walls.append(sec)
    out["flagship_wall"] = round(min(walls), 2)
    out["flagship_rows"] = cnt
    out["flagship_pages_per_sec"] = int(n_pages / min(walls))
    pts.unpersist()
    idx.release()

    # three cheap gated queries straight off the sf10 parquet
    queries = entry_mod.queries()
    for name in ("grid_assign_r7", "s2_assign_l10", "hash_split_98_1_1"):
        walls = [timed(lambda: queries[name](spark, sf_dir).count())[0] for _ in range(2)]
        out[name] = round(min(walls), 2)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
