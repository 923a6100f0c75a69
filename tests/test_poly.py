"""Osmosis .poly reader (sources/poly.py vs filter/poly.go:179-242)."""

import numpy as np
import pytest

from osmquadtree_depreceated_spark.gate import (
    POLY_FILE_TEXT,
    POLY_LATS,
    POLY_LONS,
)
from osmquadtree_depreceated_spark.qtcore import (
    point_cells_closed_form,
    scalar_ref as SR,
)
from osmquadtree_depreceated_spark.sources.poly import (
    PolyRegion,
    parse_poly,
    poly_region_filter,
    region_pred_column,
    with_region_tile_tests,
)


def test_parse_multi_section():
    r = parse_poly(POLY_FILE_TEXT)
    assert r.name == "test_region"
    assert len(r.polys) == 2 and len(r.holes) == 1
    lons_a, lats_a = r.polys[0]
    assert lons_a[0] == -6000000 and lats_a[0] == 502000000
    # float-degree section scales via Intm (writevals.go:230-235)
    lons_b, lats_b = r.polys[1]
    assert lons_b == [5000000, 9000000, 7000000]
    assert lats_b == [500000000, 500000000, 504000000]
    hl, _ = r.holes[0]
    assert hl == [-3000000, -1000000, -2000000]


def test_parse_negative_float_and_blank_lines():
    r = parse_poly("nm\nsec\n-1.25 -0.5\n\n3 4\nEND\nEND\n")
    assert r.polys == [([-12500000, 3], [-5000000, 4])]
    assert r.holes == []


def test_parse_bad_vertex_line():
    with pytest.raises(ValueError, match="two numbers"):
        parse_poly("nm\nsec\n1 2 3\nEND\nEND\n")


def test_envelope_ignores_holes():
    r = parse_poly(POLY_FILE_TEXT)
    assert r.envelope() == (-6000000, 500000000, 9000000, 516000000)


def test_filter_outer_minus_hole(spark):
    # (0, 506e6) inside outer_a; (-2e6, 506e6) inside the hole;
    # (0.7deg, 50.1deg) inside outer_b; (9e7, 0) outside everything
    pts = spark.createDataFrame(
        [(1, 0, 506000000), (2, -2000000, 506000000),
         (3, 7000000, 501000000), (4, 90000000, 0)],
        ["node_id", "lon", "lat"],
    )
    r = parse_poly(POLY_FILE_TEXT)
    got = {
        row.node_id
        for row in poly_region_filter(pts, r).select("node_id").collect()
    }
    assert got == {1, 3}


def _scalar_member(region, x, y):
    # the multi-section rule over the independent scalar pnpoly port
    return (any(SR.point_in_poly(lo, la, x, y) for lo, la in region.polys)
            and not any(SR.point_in_poly(lo, la, x, y)
                        for lo, la in region.holes))


def _scalar_tile_tests(region, cell):
    ex0, ey0, ex1, ey1 = region.envelope()
    mnx, mny, mxx, mxy = SR.cell_bounds(cell, 0.05)
    inter = ex0 <= mxx and ey0 <= mxy and ex1 >= mnx and ey1 >= mny
    cont = (ex0 <= mnx and ey0 <= mny and ex1 >= mxx and ey1 >= mxy
            and all(_scalar_member(region, x, y)
                    for x in (mnx, mxx) for y in (mny, mxy)))
    return inter, cont


def _tile_tests(spark, region, cells):
    df = spark.createDataFrame([(c,) for c in cells], ["cell"])
    return {
        r.cell: (r.tile_intersects, r.tile_contains)
        for r in with_region_tile_tests(df, region).collect()
    }


def test_tile_tests_match_scalar_port(spark):
    # engine kernel vs the independent scalar port on a cell sample,
    # single outer section (reference-correct path)
    region = PolyRegion(polys=[(list(POLY_LONS), list(POLY_LATS))])
    cells = [(((k * 2654435761) % (1 << 36)) << 27) | 18
             for k in range(40)]
    got = _tile_tests(spark, region, cells)
    for c in cells:
        assert got[c] == _scalar_tile_tests(region, c), hex(c)
    # contains implies intersects
    assert all(inter for inter, cont in got.values() if cont)


def test_region_filter_envelope_pushdown(spark, tmp_path):
    # the native envelope prefilter must reach the parquet scan as pushed
    # filters — at production scale that's the row-group/file skip that
    # runs before any Python executes
    p = str(tmp_path / "pts")
    spark.range(2000).selectExpr(
        "id as node_id",
        "cast((id * 48271) % 20000001 - 10000000 as long) as lon",
        "cast(500000000 + (id * 69621) % 20000001 as long) as lat",
    ).write.parquet(p)
    region = parse_poly(POLY_FILE_TEXT)
    out = poly_region_filter(spark.read.parquet(p), region)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan, plan
    ex0, ey0, ex1, ey1 = region.envelope()
    # (the plan string elides trailing filters at
    # spark.sql.maxMetadataStringLength — assert only the FIRST envelope
    # bound, which proves the prefilter reached the scan without
    # depending on where the truncation lands)
    assert f"GreaterThanOrEqual(lon,{ex0})" in scan[0]
    # the whole multi-section region is ONE Python stage
    assert plan.count("ArrowEvalPython") == 1, plan


# ------------------------------------------- adversarial membership cases
# Boundary points are where a second copy of the membership rule would
# drift: pnpoly's half-open crossing test decides them, so the engine must
# agree with the scalar port point by point, not just on random interiors.

_OUTER = ([0, 1000, 1000, 0], [0, 0, 1000, 1000])
# shares the outer square's left edge x = 0
_TOUCHING_HOLE = ([0, 400, 400, 0], [400, 400, 600, 600])
_TRIANGLE = ([2000, 3000, 2000], [0, 0, 1000])

_REGIONS = {
    "outer_minus_touching_hole": PolyRegion(
        polys=[_OUTER], holes=[_TOUCHING_HOLE]),
    "two_outers_one_hole": PolyRegion(
        polys=[_OUTER, _TRIANGLE], holes=[_TOUCHING_HOLE]),
    "holes_only": PolyRegion(holes=[_OUTER, _TOUCHING_HOLE]),
    "no_sections": PolyRegion(),
}


def _boundary_points():
    # every vertex (and its four unit neighbours), every edge midpoint —
    # horizontal, vertical and diagonal — and a point inside the hole
    pts = {(200, 500), (700, 700), (-5, 500), (5000, 5000)}
    for lons, lats in (_OUTER, _TOUCHING_HOLE, _TRIANGLE):
        n = len(lons)
        for i in range(n):
            x, y = lons[i], lats[i]
            pts |= {(x, y), (x - 1, y), (x + 1, y), (x, y - 1), (x, y + 1)}
            x2, y2 = lons[(i + 1) % n], lats[(i + 1) % n]
            pts.add(((x + x2) // 2, (y + y2) // 2))
    return sorted(pts)


@pytest.mark.parametrize("name", sorted(_REGIONS))
def test_region_filter_boundary_points_match_scalar(spark, name):
    region = _REGIONS[name]
    pts = _boundary_points()
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        ["node_id", "lon", "lat"],
    )
    got = {r.node_id for r in
           poly_region_filter(df, region).select("node_id").collect()}
    want = {i for i, (x, y) in enumerate(pts)
            if _scalar_member(region, x, y)}
    assert got == want
    if region.polys:
        # the on-edge/on-vertex set really splits both ways
        assert want and len(want) < len(pts)
        # the hole interior touching the outer edge is excluded
        assert pts.index((200, 500)) not in got
    else:
        # no outer section: nothing kept, and no envelope prefilter (the
        # inverted seed envelope would be a contradiction, not a prune)
        assert got == set()
        assert ">=" not in str(region_pred_column(region))


def _cell_regions(cell):
    # regions built from the cell's buffered bounds, so tile corners land
    # exactly on section vertices and edges
    mnx, mny, mxx, mxy = SR.cell_bounds(cell, 0.05)
    w = mxx - mnx
    midx, midy = (mnx + mxx) // 2, (mny + mxy) // 2
    rect = ([mnx, mxx, mxx, mnx], [mny, mny, mxy, mxy])
    around = ([mnx - 1, mxx + 1, mxx + 1, mnx - 1],
              [mny - 1, mny - 1, mxy + 1, mxy + 1])
    wide = ([mnx, mxx + w, mxx + w, mnx], [mny, mny, mxy, mxy])
    # a hole on the wide outer's left edge, reaching the cell's corner
    corner_hole = ([mnx, midx, midx, mnx], [midy, midy, mxy, mxy])
    return {
        "cell_rect": PolyRegion(polys=[rect]),
        "around_cell": PolyRegion(polys=[around]),
        "wide_minus_corner_hole": PolyRegion(polys=[wide],
                                             holes=[corner_hole]),
        "around_minus_vertex_hole": PolyRegion(polys=[around],
                                               holes=[rect]),
        "holes_only": PolyRegion(holes=[rect]),
        "no_sections": PolyRegion(),
    }


_BASE_CELLS = [int(c) for c in point_cells_closed_form(
    np.array([0, 4_000_000, -1_000_000]),
    np.array([505_000_000, 510_000_000, 500_000_000]), 12)]


@pytest.mark.parametrize("name", sorted(_cell_regions(_BASE_CELLS[0])))
def test_tile_tests_boundary_cells_match_scalar(spark, name):
    region = _cell_regions(_BASE_CELLS[0])[name]
    cells = _BASE_CELLS + [(((k * 2654435761) % (1 << 36)) << 27) | 18
                           for k in range(10)]
    got = _tile_tests(spark, region, cells)
    for c in cells:
        assert got[c] == _scalar_tile_tests(region, c), hex(c)
    if name == "around_cell":
        assert got[_BASE_CELLS[0]] == (True, True)
    if not region.polys:
        # the inverted envelope: no tile intersects, none is contained
        assert not any(i or c for i, c in got.values())
