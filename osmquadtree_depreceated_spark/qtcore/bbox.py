"""Vectorized point-in-polygon kernel (fixed-point int64 coords).

Semantics follow the reference's quadtree/bbox.go:158-194 (pnpoly crossing
number).  The bbox intersect/contain predicates (bbox.go:59-107) are native
Column expressions (oracle/sqlgen.py, operators/spatial_join.py).
"""

from __future__ import annotations

import numpy as np


def point_in_poly(poly_lons, poly_lats, test_lons, test_lats):
    """Crossing-number point-in-polygon for MANY test points against ONE
    polygon, fully vectorized over points (bbox.go:158-194).

    The interpolation is done in float64 with the same expression shape as
    the reference (cast differences, multiply, divide, add) so results agree
    bit-for-bit on integer inputs.

    poly_lons/poly_lats: 1-D int64 vertex arrays (closing vertex optional —
    the algorithm wraps j = n-1).
    test_lons/test_lats: 1-D int64 arrays of query points.
    Returns a boolean array over the test points.
    """
    vx = np.asarray(poly_lons, dtype=np.int64)
    vy = np.asarray(poly_lats, dtype=np.int64)
    tx = np.asarray(test_lons, dtype=np.int64)[:, None]
    ty = np.asarray(test_lats, dtype=np.int64)[:, None]
    xi = vx[None, :]
    yi = vy[None, :]
    xj = np.roll(vx, 1)[None, :]
    yj = np.roll(vy, 1)[None, :]
    straddle = (yi > ty) != (yj > ty)
    with np.errstate(divide="ignore", invalid="ignore"):
        tp = (xj - xi).astype(np.float64) * (ty - yi).astype(np.float64) / (
            yj - yi
        ).astype(np.float64) + xi.astype(np.float64)
    cross = straddle & (tx.astype(np.float64) < tp)
    return (cross.sum(axis=1) % 2).astype(bool)
