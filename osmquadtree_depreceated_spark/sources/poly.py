"""Osmosis `.poly` region-file reader + multi-section polygon filter.

Reference: /root/reference/filter/poly.go:179-242 `ReadPolyFile` — the
user-facing region filter's input format (name line, one or more labelled
sections of "lon lat" vertex lines each closed by END, labels starting
with '!' marking holes, final END closing the file).  Coordinates parse
via utils.ParseStringInt (writevals.go:240-253): integers are taken as
already-fixed-point 1e-7 units; floats are degrees, scaled by 1e7 and
half-up rounded away from zero (utils.Intm, writevals.go:230-235).

Membership semantics: inside ANY outer section and NOT inside any '!'
hole section.  DOCUMENTED DIVERGENCE (FIXTURES.md §3): the reference's
locTestPolygonMulti.Contains (filter/poly.go:128-141) unconditionally
returns false — every multi-section region filter silently matches
nothing (single-section files work because ReadPolyFile unwraps them to
locTestPolygon).  We implement the documented Osmosis semantics the code
clearly intends; the single-section path is behavior-identical.

`PolyRegion.contains` is the engine's one membership kernel: the point
filter (q07's one-section polygon, q47, q52) and the tile corner tests
(q49) all call it.  A one-polygon filter is a one-section region, as
ReadPolyFile unwraps a single-section file to locTestPolygon.

Scale: the region polygon is a tiny driver-side object closed over by one
Arrow-vectorized pandas UDF (the broadcast-dim pattern); the bulk of the
input is pruned natively by the union-envelope bbox prefilter before any
Python executes — the LocTest prune-then-residual shape
(filter/poly.go:37-108).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType

from ..qtcore.bbox import point_in_poly

_INT_TOKEN = re.compile(r"^[+-]?[0-9]+$")
_FLOAT_TOKEN = re.compile(
    r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"
)


def _parse_coord(tok: str) -> int:
    """ParseStringInt semantics (writevals.go:240-253): int -> as-is
    (already 1e-7 fixed point); float -> degrees, Intm half-up scaling.
    Token shape is validated like Go's strconv (no '_' separators, no
    inf/nan) so files the reference rejects raise here too."""
    if _INT_TOKEN.match(tok):
        return int(tok)
    if _FLOAT_TOKEN.match(tok):
        f = float(tok)
        scaled = f * 10000000
        return int(scaled + 0.5) if f > 0 else int(scaled - 0.5)
    raise ValueError(f"{tok}  not a coordinate number")


@dataclass
class PolyRegion:
    """Parsed .poly file: outer sections + hole sections, fixed-point 1e-7
    (lons, lats) vertex arrays per section."""

    name: str = ""
    polys: list = field(default_factory=list)   # [(lons, lats), ...]
    holes: list = field(default_factory=list)

    def envelope(self) -> tuple[int, int, int, int]:
        """(minx, miny, maxx, maxy) over the OUTER sections only — matches
        locTestPolygonMulti.Bbox (poly.go:116-126), which ignores holes.
        No outer sections -> the reference's INVERTED seed box (every
        intersect/contain test false, nothing crashes)."""
        if not self.polys:
            return 1800000000, 900000000, -1800000000, -900000000
        minx = min(min(lons) for lons, _ in self.polys)
        maxx = max(max(lons) for lons, _ in self.polys)
        miny = min(min(lats) for _, lats in self.polys)
        maxy = max(max(lats) for _, lats in self.polys)
        return int(minx), int(miny), int(maxx), int(maxy)

    def contains(self, x, y) -> np.ndarray:
        """Membership of the int64 points (x, y): inside ANY outer section
        and inside NO hole, pnpoly per section (qtcore.point_in_poly)."""
        inside = np.zeros(len(x), dtype=bool)
        for vx, vy in self.polys:
            inside |= point_in_poly(vx, vy, x, y)
        for vx, vy in self.holes:
            inside &= ~point_in_poly(vx, vy, x, y)
        return inside

    def as_arrays(self) -> "PolyRegion":
        """This region with every section as int64 arrays — converted once
        on the driver, before a UDF closes over it."""
        def arr(secs):
            return [(np.asarray(lons, dtype=np.int64),
                     np.asarray(lats, dtype=np.int64)) for lons, lats in secs]
        return PolyRegion(self.name, arr(self.polys), arr(self.holes))


def parse_poly(text: str) -> PolyRegion:
    """Parse .poly file content (ReadPolyFile, poly.go:179-242): line 0 is
    the region name; then label lines open sections ('!' prefix = hole),
    vertex lines are two ParseStringInt coordinates, END closes a section,
    a bare END outside a section (the file terminator) is skipped."""
    region = PolyRegion()
    inply, label = False, ""
    cur_lons: list[int] = []
    cur_lats: list[int] = []
    for i, raw in enumerate(text.splitlines()):
        ln = raw.strip()
        if i == 0:
            region.name = ln
        elif not ln:
            continue
        elif inply:
            if ln == "END":
                inply = False
                sec = (cur_lons, cur_lats)
                (region.holes if label.startswith("!")
                 else region.polys).append(sec)
                cur_lons, cur_lats = [], []
            else:
                xy = ln.split()
                if len(xy) != 2:
                    raise ValueError(
                        f"{ln}  expected lines to be two numbers")
                cur_lons.append(_parse_coord(xy[0]))
                cur_lats.append(_parse_coord(xy[1]))
        elif ln == "END":
            continue
        else:
            label = ln
            inply = True
    return region


def read_poly_file(path: str) -> PolyRegion:
    with open(path) as f:
        return parse_poly(f.read())


def with_region_tile_tests(cells: DataFrame, region: PolyRegion,
                           cell_col: str = "cell",
                           buffer: float = 0.05) -> DataFrame:
    """The LocTest TILE surface (filter/poly.go:74-108, 143-158) over a
    quadtree-cell column: appends

      tile_intersects — qt.Bounds(buffer) bbox intersects the region's
        outer envelope (IntersectsQuadtree: bbox-only test);
      tile_contains   — the envelope CONTAINS qt.Bounds(buffer) AND the
        region contains all four corners (ContainsQuadtree).

    One Arrow stage: bounds from the vectorized descent kernel
    (qtcore.quadtree.cell_bounds, the same algebra q02's codecs verify),
    corner membership via PolyRegion.contains.

    DOCUMENTED DIVERGENCES (FIXTURES.md §3): the reference's
    Bbox.Contains compares Miny against the OTHER box's Minx
    (quadtree/bbox.go:80-82 typo — a lat/lon cross-comparison), and the
    multi-section corner test inherits the always-false Contains bug;
    both are implemented here with the clearly intended semantics (the
    single-section path matches the reference exactly).

    Scale: a pure map over the cell column — no shuffle; at 10^12 rows
    this composes with the cover-prune serving path as a residual
    per-tile predicate."""
    from ..qtcore.quadtree import cell_bounds

    eminx, eminy, emaxx, emaxy = region.envelope()
    kernel = region.as_arrays()

    @F.pandas_udf("tile_intersects boolean, tile_contains boolean")
    def _tests(c: pd.Series) -> pd.DataFrame:
        cells_np = c.to_numpy(np.int64)
        minx, miny, maxx, maxy = cell_bounds(cells_np, buffer)
        inter = ((eminx <= maxx) & (eminy <= maxy)
                 & (emaxx >= minx) & (emaxy >= miny))
        cont = ((eminx <= minx) & (eminy <= miny)
                & (emaxx >= maxx) & (emaxy >= maxy))
        cont &= kernel.contains(minx, miny) & kernel.contains(minx, maxy)
        cont &= kernel.contains(maxx, miny) & kernel.contains(maxx, maxy)
        return pd.DataFrame(
            {"tile_intersects": inter, "tile_contains": cont}
        )

    return (
        cells.withColumn("_tt", _tests(F.col(cell_col)))
        .withColumn("tile_intersects", F.col("_tt.tile_intersects"))
        .withColumn("tile_contains", F.col("_tt.tile_contains"))
        .drop("_tt")
    )


def region_pred_column(region: PolyRegion, lon_col: str = "lon",
                       lat_col: str = "lat") -> Column:
    """The region-membership predicate as ONE Column: native union-
    envelope conjunction first (Catalyst pushes it to the scan) AND the
    exact Arrow residual, PolyRegion.contains — usable anywhere a boolean
    Column fits (point filters, the complete-ways closure seed, join
    conditions).  A region with no outer section has no envelope to
    prune by; its residual keeps nothing."""
    kernel = region.as_arrays()

    @F.pandas_udf(BooleanType())
    def _contains(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(kernel.contains(lon.to_numpy(np.int64),
                                         lat.to_numpy(np.int64)))

    pred = _contains(F.col(lon_col), F.col(lat_col))
    if region.polys:
        minx, miny, maxx, maxy = region.envelope()
        pred = (
            (F.col(lon_col) >= minx) & (F.col(lon_col) <= maxx)
            & (F.col(lat_col) >= miny) & (F.col(lat_col) <= maxy)
            & pred
        )
    return pred


def poly_region_filter(points: DataFrame, region: PolyRegion,
                       lon_col: str = "lon",
                       lat_col: str = "lat") -> DataFrame:
    """Filter points to those inside the .poly region.  Native union-
    envelope prefilter (pruned at the scan via pushdown) then the exact
    Arrow residual — the LocTest prune-then-test shape (poly.go:37-108)."""
    return points.filter(region_pred_column(region, lon_col, lat_col))
