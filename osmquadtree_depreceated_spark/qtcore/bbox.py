"""Vectorized bbox and point-in-polygon kernels (fixed-point int64 coords).

Semantics follow /root/reference/quadtree/bbox.go:59-107 (intersect/contains)
and :158-194 (pnpoly crossing number).  The reference's Contains has a known
y/x typo (bbox.go:80) — we implement the documented-correct behavior; the
divergence is recorded in FIXTURES.md §3.
"""

from __future__ import annotations

import numpy as np


def bbox_intersects(aminx, aminy, amaxx, amaxy, bminx, bminy, bmaxx, bmaxy):
    """Axis-aligned overlap (bbox.go:59-73).  Pure comparisons — in the
    engine proper this is a native Column expression; this kernel exists for
    UDF-side residual filtering and tests."""
    return ~(
        (np.asarray(aminx) > np.asarray(bmaxx))
        | (np.asarray(aminy) > np.asarray(bmaxy))
        | (np.asarray(amaxx) < np.asarray(bminx))
        | (np.asarray(amaxy) < np.asarray(bminy))
    )


def bbox_contains_xy(minx, miny, maxx, maxy, x, y):
    """Point containment (bbox.go:93-107)."""
    return ~(
        (np.asarray(minx) > np.asarray(x))
        | (np.asarray(miny) > np.asarray(y))
        | (np.asarray(maxx) < np.asarray(x))
        | (np.asarray(maxy) < np.asarray(y))
    )


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
