"""Arrow-vectorized pandas UDFs wrapping the qtcore NumPy kernels.

Used only where the semantics are inherently iterative or data-dependent:
`cell_of_bbox_udf` is the engine's one buffered quadtree descent (way,
node-fallback, update and geometry cells all go through it).  Region
membership has its own UDF beside its kernel (sources/poly.py).
Everything batch-shaped; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..qtcore import calculate_cells


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
