"""Arrow-vectorized pandas UDFs wrapping the qtcore NumPy kernels.

Used only where the semantics are inherently iterative or data-dependent:
`cell_of_bbox_udf` is the engine's one buffered quadtree descent (way,
node-fallback, update and geometry cells all go through it),
`point_in_poly_udf` tests membership against a broadcast polygon, and
`cell_bounds_udf` maps a cell back to its box.  Everything batch-shaped;
no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..qtcore import calculate_cells, cell_bounds, point_in_poly


def cell_of_bbox_udf(buffer: float = 0.05, max_level: int = 18):
    """pandas UDF (minx,miny,maxx,maxy int64) -> cell key, the exact buffered
    recursive semantics (quadtree.go:44-113; call-site parameters per
    calcqts/resortwaynodes.go:615 and geometry/geometry.go:314)."""

    @F.pandas_udf(LongType())
    def _calc(minx: pd.Series, miny: pd.Series, maxx: pd.Series,
              maxy: pd.Series) -> pd.Series:
        out = calculate_cells(
            minx.to_numpy(np.int64, na_value=0),
            miny.to_numpy(np.int64, na_value=0),
            maxx.to_numpy(np.int64, na_value=0),
            maxy.to_numpy(np.int64, na_value=0),
            buffer,
            max_level,
        )
        return pd.Series(out)

    return _calc


def point_in_poly_udf(poly_lons, poly_lats):
    """pandas UDF (lon,lat) -> bool membership in ONE fixed polygon
    (crossing-number, bbox.go:158-194).  The polygon is closed over by the
    UDF (small — serialized with the task, the broadcast-dim pattern)."""
    vx = np.asarray(poly_lons, dtype=np.int64)
    vy = np.asarray(poly_lats, dtype=np.int64)

    @F.pandas_udf(BooleanType())
    def _pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        got = point_in_poly(
            vx, vy, lon.to_numpy(np.int64), lat.to_numpy(np.int64)
        )
        return pd.Series(got)

    return _pip


_BOUNDS_SCHEMA = StructType(
    [
        StructField("bminx", LongType()),
        StructField("bminy", LongType()),
        StructField("bmaxx", LongType()),
        StructField("bmaxy", LongType()),
    ]
)


def cell_bounds_udf(buffer: float = 0.0):
    """pandas UDF cell -> struct bbox (quadtree.go:139-177)."""

    @F.pandas_udf(_BOUNDS_SCHEMA)
    def _bounds(cell: pd.Series) -> pd.DataFrame:
        bx = cell_bounds(cell.to_numpy(np.int64), buffer)
        return pd.DataFrame(
            {"bminx": bx[0], "bminy": bx[1], "bmaxx": bx[2], "bmaxy": bx[3]}
        )

    return _bounds
