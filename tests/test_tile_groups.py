"""Tile grouping: driver algorithm properties + distributed assignment."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.functions.cells import with_point_cell
from osmquadtree_depreceated_spark.operators.tile_groups import (
    assign_groups,
    find_qt_groups,
    tile_groups_df,
)
from osmquadtree_depreceated_spark.qtcore import (
    point_cells_closed_form,
    round_cells,
)
from osmquadtree_depreceated_spark.sources import tpch

RNG = np.random.default_rng(11)


def _histogram(n=30000, hotspot=True):
    lon = RNG.integers(-10_000_000, 10_000_000, n)
    lat = RNG.integers(500_000_000, 520_000_000, n)
    if hotspot:  # 40% in one city cell to force deep splitting
        hot = RNG.random(n) < 0.4
        lon[hot] = -5_000_000 + RNG.integers(-200_000, 200_000, hot.sum())
        lat[hot] = 505_000_000 + RNG.integers(-200_000, 200_000, hot.sum())
    cells = point_cells_closed_form(lon, lat, 18)
    uniq, counts = np.unique(cells, return_counts=True)
    return uniq, counts, n


class TestDriverAlgorithm:
    def test_conservation_and_window(self):
        cells, counts, n = _histogram()
        groups = find_qt_groups(cells, counts, target=800, minimum=1)
        assert sum(t for _, t in groups) == n
        # group totals respect the widened window (mx grows by 50/round)
        assert max(t for _, t in groups) <= 1_000_000

    def test_groups_are_ancestors_of_mass(self):
        cells, counts, n = _histogram(5000)
        groups = find_qt_groups(cells, counts, target=400, minimum=1)
        gset = {g for g, _ in groups}
        # every input cell must have at least one harvested ancestor
        for c in cells[:500]:
            anc = {int(round_cells(np.array([c]), d)[0]) for d in range(19)
                   if (c & 31) >= d}
            assert anc & gset, f"cell {c} has no group ancestor"

    def test_tiny_histogram_root_group(self):
        # total <= 1000: reference would panic on multi-leaf leftover; we
        # assert the strict flag raises and the lenient path degrades
        cells, counts, n = _histogram(500)
        with pytest.raises(ValueError):
            find_qt_groups(cells, counts, target=100, minimum=1, strict=True)
        groups = find_qt_groups(cells, counts, target=100, minimum=1,
                                strict=False)
        assert sum(t for _, t in groups) == n


class TestIndependentReimplementation:
    def test_cross_check_engine_vs_oracle_impl(self):
        """The engine's arena/flat-DFS port and the oracle's recursive
        dict-based reimplementation (oracle/qtgroups_ref.py) must produce
        identical group sets on varied histograms — this is what makes the
        q25 oracle independent."""
        from osmquadtree_depreceated_spark.oracle.qtgroups_ref import (
            find_qt_groups_ref,
        )

        for n, target, hotspot in [
            (30000, 800, True), (30000, 800, False),
            (5000, 400, True), (2000, 150, True), (1500, 5000, False),
        ]:
            cells, counts, total = _histogram(n, hotspot)
            a = find_qt_groups(cells, counts, target=target, minimum=1)
            b = find_qt_groups_ref(cells, counts, target=target, minimum=1)
            assert sorted(a) == sorted(b), (n, target, hotspot)
            assert sum(t for _, t in b) == total


class TestDepthCap:
    def test_depth_cap_conserves_and_bounds_driver_rows(self, spark):
        cells, counts, n = _histogram(20000)
        import pandas as pd

        hist = spark.createDataFrame(
            pd.DataFrame({"cell": cells, "n": counts})
        )
        capped = tile_groups_df(spark, hist, target=800, minimum=1,
                                depth_cap=12)
        got = {r["group_cell"]: r["group_total"] for r in capped.collect()}
        assert sum(got.values()) == n  # conservation survives the cap
        assert all((g & 31) <= 12 for g in got)
        # equals grouping the capped histogram directly
        want = dict(
            find_qt_groups(
                round_cells(cells, 12), counts, target=800, minimum=1
            )
        )
        # (duplicate rounded cells must be pre-summed like the operator does)
        import collections

        agg = collections.Counter()
        for c, w in zip(round_cells(cells, 12), counts):
            agg[int(c)] += int(w)
        want = dict(find_qt_groups(list(agg.keys()), list(agg.values()),
                                   target=800, minimum=1))
        assert got == want


class TestDistributedAssignment:
    def test_assignment_matches_group_totals(self, spark, sf_dir):
        tpch.load_base_tables(spark, sf_dir)
        tpch.register_synth_views(spark)
        nodes = with_point_cell(spark.table("nodes"), "lon", "lat", "cell", 18)
        hist = nodes.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        groups = tile_groups_df(spark, hist, target=200, minimum=1)
        assigned = assign_groups(nodes, groups, "cell")
        # the cell column is referenced once by the prefix explode, so the
        # stepped with_point_cell chain is not inlined per depth (an
        # unrolled prefix array gave a ~1.1M-char optimized plan)
        plan = assigned._jdf.queryExecution().optimizedPlan().toString()
        assert len(plan) < 50_000, len(plan)
        # every node gets exactly one group
        assert assigned.filter(F.col("group_cell").isNull()).count() == 0
        assert assigned.count() == nodes.count()
        # per-group assignment counts == harvested totals
        got = {
            r["group_cell"]: r["cnt"]
            for r in assigned.groupBy("group_cell")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        want = {r["group_cell"]: r["group_total"] for r in groups.collect()}
        assert got == want
        # group_cell is an ancestor prefix of the row cell
        bad = assigned.filter(
            F.expr(
                "(case when (cell & 31) < (group_cell & 31) then cell else "
                "shiftleft(shiftright(cell, cast(63 - 2 * (group_cell & 31) as int)),"
                " cast(63 - 2 * (group_cell & 31) as int)) + (group_cell & 31) end)"
                " != group_cell"
            )
        ).count()
        assert bad == 0
