"""Vectorized (Arrow/pandas) UDFs wrapping the numpy geo kernel.

Per the input_hint constraint "no per-row Python": every UDF here is a
pandas UDF operating on whole Arrow batches; the only Python in the hot
path is numpy array math. JVM-expressible pieces (S2 parent/ancestor
bit math, grid-cell floor arithmetic) are deliberately NOT UDFs — see
`s2_parent_expr` / `grid_cell_expr` which emit Catalyst expressions so
they run inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from ..geo import grid as geo_grid
from ..geo import s2 as geo_s2


@F.pandas_udf(LongType())
def s2_leaf_cell(lat: pd.Series, lng: pd.Series) -> pd.Series:
    """lat/lng -> S2 level-30 leaf cell id, as signed int64 bits
    (reference index/treeindex/index.go:57-59)."""
    ids = geo_s2.latlng_to_cell(lat.to_numpy(), lng.to_numpy())
    return pd.Series(geo_s2.to_signed(ids))


@F.pandas_udf(StringType())
def s2_token(cell: pd.Series) -> pd.Series:
    """Signed int64 cell id -> hex token (reference tools.go:295-310)."""
    cells = geo_s2.to_unsigned(cell.to_numpy())
    return pd.Series([geo_s2.token(c) for c in cells])


def s2_parent_expr(cell_col: str, level: int):
    """Catalyst expression for the S2 ancestor at `level` — pure int64
    bit math (reference storage/bbolt/storage.go:242 Parent), JVM-side,
    whole-stage-codegen friendly."""
    new_lsb = 1 << (2 * (geo_s2.MAX_LEVEL - level))
    # (id & -new_lsb) | new_lsb in two's complement
    return F.expr(f"(({cell_col} & {-new_lsb}L) | {new_lsb}L)")


def grid_cell_expr(lat_col, lng_col, res: int):
    """Catalyst expression mirroring geo.grid.latlng_to_cell — floor
    arithmetic only, runs in whole-stage codegen (no UDF)."""
    n = 1 << res
    w = 360.0 / n
    h = 180.0 / n
    x = (F.floor((F.col(lng_col) + F.lit(180.0)) / F.lit(w)).cast("long") % n + n) % n
    y = F.least(
        F.greatest(F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(h)).cast("long"), F.lit(0).cast("long")),
        F.lit(n - 1).cast("long"),
    )
    return (F.lit(res).cast("long") * F.lit(geo_grid.RES_MULT)
            + x * F.lit(geo_grid.X_MULT) + y)
