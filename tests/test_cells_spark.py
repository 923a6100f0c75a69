"""Spark-native cell expressions vs the NumPy kernels (which are themselves
property-tested against the scalar oracle in test_qtcore.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.functions import (
    cell_of_bbox_udf,
    cell_round,
    cell_string,
    common_agg,
)
from osmquadtree_depreceated_spark.functions.cells import (
    with_cell_tuple,
    with_common_finish,
    with_point_cell,
)
from osmquadtree_depreceated_spark.qtcore import (
    calculate_cells,
    cells_to_strings,
    cells_to_tuples,
    point_cells_closed_form,
    point_in_poly,
    round_cells,
)
from osmquadtree_depreceated_spark.qtcore import scalar_ref as ref
from osmquadtree_depreceated_spark.sources.poly import (
    PolyRegion,
    poly_region_filter,
)

RNG = np.random.default_rng(7)


@pytest.fixture(scope="module")
def coords_df(spark):
    n = 30000
    lon = RNG.integers(-1799999999, 1799999999, n)
    lat = RNG.integers(-849999999, 849999999, n)
    pdf = pd.DataFrame({"id": np.arange(n), "lon": lon, "lat": lat})
    return spark.createDataFrame(pdf), pdf


def test_point_cell_native_matches_numpy(coords_df):
    df, pdf = coords_df
    got = (
        with_point_cell(df, "lon", "lat", "cell", 18)
        .select("id", "cell")
        .orderBy("id")
        .toPandas()
    )
    want = point_cells_closed_form(pdf["lon"].values, pdf["lat"].values, 18)
    np.testing.assert_array_equal(got["cell"].values, want)


def test_point_cell_is_codegen_native(coords_df):
    df, _ = coords_df
    plan = (
        with_point_cell(df, "lon", "lat", "cell", 18)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cell_round_and_codecs(coords_df, spark):
    df, pdf = coords_df
    cells = round_cells(
        point_cells_closed_form(pdf["lon"].values, pdf["lat"].values, 18),
        RNG.integers(0, 19, len(pdf)),
    )
    cells[::5000] = -1  # the reference's "no cell" sentinel
    cdf = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(cells)), "cell": cells}))
    got = (
        with_cell_tuple(
            cdf.select(
                "i",
                "cell",
                cell_round("cell", 11).alias("r11"),
                cell_string("cell").alias("s"),
            ),
            "cell",
            prefix="",
        )
        .orderBy("i")
        .toPandas()
    )
    np.testing.assert_array_equal(got["r11"].values, round_cells(cells, 11))
    x, y, z = cells_to_tuples(cells)
    np.testing.assert_array_equal(got["x"].values, x)
    np.testing.assert_array_equal(got["y"].values, y)
    np.testing.assert_array_equal(got["z"].values, z)
    assert (got["s"].values == cells_to_strings(cells)).all()


def test_common_agg_native(spark):
    n = 8000
    lon = RNG.integers(-1000000000, 1000000000, n)
    lat = RNG.integers(-800000000, 800000000, n)
    cells = round_cells(point_cells_closed_form(lon, lat, 18), RNG.integers(0, 19, n))
    grp = RNG.integers(0, 500, n)
    df = spark.createDataFrame(pd.DataFrame({"g": grp, "cell": cells}))
    got = (
        with_common_finish(df.groupBy("g").agg(*common_agg("cell")),
                           out="common")
        .select("g", "common")
        .orderBy("g")
        .toPandas()
    )
    want = {}
    for g, c in zip(grp, cells):
        want[g] = ref.common(want.get(g, -1), int(c))
    for g, c in zip(got["g"], got["common"]):
        assert want[int(g)] == int(c)


def test_cell_of_bbox_udf_matches_numpy(spark):
    n = 20000
    minx = RNG.integers(-1800000000, 1790000000, n)
    miny = RNG.integers(-850000000, 840000000, n)
    maxx = minx + RNG.integers(0, 10000000, n)
    maxy = miny + RNG.integers(0, 10000000, n)
    pdf = pd.DataFrame(
        {"id": np.arange(n), "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy}
    )
    df = spark.createDataFrame(pdf)
    calc = cell_of_bbox_udf(0.05, 18)
    got = (
        df.select("id", calc("minx", "miny", "maxx", "maxy").alias("cell"))
        .orderBy("id")
        .toPandas()
    )
    want = calculate_cells(minx, miny, maxx, maxy, 0.05, 18)
    np.testing.assert_array_equal(got["cell"].values, want)


def test_point_in_poly_udf(spark):
    # one polygon is a one-section region: the engine's only point filter
    poly_lon = [0, 10_000_000, 10_000_000, 5_000_000, 0]
    poly_lat = [500000000, 500000000, 510000000, 515000000, 510000000]
    n = 5000
    tx = RNG.integers(-2_000_000, 12_000_000, n)
    ty = RNG.integers(498000000, 517000000, n)
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(n), "x": tx, "y": ty}))
    region = PolyRegion(polys=[(poly_lon, poly_lat)])
    got = sorted(r.i for r in poly_region_filter(df, region, "x", "y")
                 .select("i").collect())
    want = np.flatnonzero(
        point_in_poly(np.array(poly_lon), np.array(poly_lat), tx, ty))
    assert len(want) > 0
    np.testing.assert_array_equal(got, want)
