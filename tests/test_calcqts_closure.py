"""Relation-closure semantics (resortwaynodes.go:767-824) on nested,
circular, and empty-member relations — vs a scalar fold oracle."""

import re

import numpy as np
import pandas as pd

from osmquadtree_depreceated_spark.operators.calcqts import relation_cells
from osmquadtree_depreceated_spark.qtcore import point_cells_closed_form
from osmquadtree_depreceated_spark.qtcore import scalar_ref as ref


def test_nested_circular_relations(spark):
    # way cells: 6 ways with fixed cells
    lon = np.array([-5000000, -4900000, 3000000, 3100000, 8000000, 8100000])
    lat = np.array([505000000, 505100000, 515000000, 515100000, 511000000,
                    511100000])
    wcells_np = point_cells_closed_form(lon, lat, 18)
    wcells = spark.createDataFrame(
        pd.DataFrame({"way_id": np.arange(1, 7), "cell": wcells_np})
    )
    ncells = spark.createDataFrame([], "node_id long, cell long")

    # rel 1: ways 1,2 ; rel 2: ways 3,4 ; rel 3: rels 1,2 (nested)
    # rel 4: rel 3 (3 deep) ; rel 5: self-circular ; rel 6 <-> rel 7 pair
    # rel 8: way 5 + rel 4 ; rel 9: empty members (encoded as mtype='none')
    members = [
        (1, "w", 1), (1, "w", 2),
        (2, "w", 3), (2, "w", 4),
        (3, "r", 1), (3, "r", 2),
        (4, "r", 3),
        (5, "r", 5),
        (6, "r", 7), (7, "r", 6),
        (8, "w", 5), (8, "r", 4),
        (9, "none", 0),
    ]
    mdf = spark.createDataFrame(members, ["rel_id", "mtype", "ref"])
    got = {
        r["rel_id"]: r["cell"]
        for r in relation_cells(mdf, wcells, ncells).collect()
    }

    wc = {i + 1: int(c) for i, c in enumerate(wcells_np)}
    r1 = ref.common(wc[1], wc[2])
    r2 = ref.common(wc[3], wc[4])
    r3 = ref.common(r1, r2)
    r4 = r3
    r8 = ref.common(wc[5], r4)
    assert got[1] == r1
    assert got[2] == r2
    assert got[3] == r3
    assert got[4] == r4
    # self-circular with no other members -> 0 (resortwaynodes.go:795-800)
    assert got[5] == 0
    # mutually-circular pair never resolves -> Null (-1), mirroring the
    # reference's "missing rel qts" accounting
    assert got[6] == -1 and got[7] == -1
    assert got[8] == r8
    # empty-member relation -> 0 (resortwaynodes.go writeRelQts:
    # mm.Len()==0 -> Set(ei, 0))
    assert got[9] == 0


def _cells_of(spark, lonlat):
    """Way cells at the given (lon, lat) points, way ids 1..n."""
    lon, lat = (np.array(v) for v in zip(*lonlat))
    cells = point_cells_closed_form(lon, lat, 18)
    df = spark.createDataFrame(
        pd.DataFrame({"way_id": np.arange(1, len(cells) + 1), "cell": cells})
    )
    return df, {i + 1: int(c) for i, c in enumerate(cells)}


def _fold(cells):
    out = -1
    for c in cells:
        out = ref.common(out, c)
    return out


def test_closure_edge_cases(spark):
    # ways 1-6 lie close together, 7 and 8 far away, 9 alone
    wcells, wc = _cells_of(spark, [
        (-5000000, 505000000), (-4990000, 505010000), (-4980000, 505020000),
        (-4970000, 505030000), (-4960000, 505040000), (-4950000, 505050000),
        (3000000, 515000000), (8000000, 511000000), (1000000, 508000000),
    ])
    ncells = spark.createDataFrame([], "node_id long, cell long")
    chain = list(range(101, 109))  # 101 -> 102 -> ... -> 108 (7 edges)
    members = [(r, "w", k + 1) for k, r in enumerate(chain)]
    members += [(a, "r", b) for a, b in zip(chain, chain[1:])]
    members += [
        # 3-cycle 201 -> 202 -> 203 -> 201, one way member on 202
        (201, "r", 202), (202, "r", 203), (203, "r", 201), (202, "w", 9),
        # only child is an empty relation
        (301, "r", 302), (302, "none", 0),
        # dangling child refs: ignored beside a way, unresolved alone
        (401, "w", 9), (401, "r", 999), (402, "r", 998),
        # duplicate edge and duplicate way member
        (501, "r", 101), (501, "r", 101), (501, "w", 1), (501, "w", 1),
    ]
    mdf = spark.createDataFrame(members, ["rel_id", "mtype", "ref"])
    got = {r["rel_id"]: r["cell"]
           for r in relation_cells(mdf, wcells, ncells).collect()}

    # each chain link folds its own way and the ways of the next 5 links
    for k, r in enumerate(chain):
        assert got[r] == _fold(wc[j + 1] for j in range(k, min(k + 6, 8))), r
    # levels 6 and 7 would change 101's Common: the 5-edge bound is visible
    assert _fold(wc[j] for j in range(1, 8)) != got[101]
    assert _fold(wc[j] for j in range(1, 9)) != got[101]
    assert got[201] == got[202] == got[203] == wc[9]
    assert got[301] == 0
    assert got[401] == wc[9]
    assert got[402] == -1
    assert got[501] == _fold(wc[j] for j in range(1, 7))
    assert set(got) == {m[0] for m in members}


def test_closure_plans_stay_one_recursion(spark):
    """Both closures plan one bounded recursion (a single UnionLoop), no
    Python-eval node and a small optimized plan."""
    from pyspark.sql import functions as F

    from osmquadtree_depreceated_spark.operators.filters import (
        find_objs_filter,
    )

    wcells = spark.createDataFrame([(1, 1000)], "way_id long, cell long")
    ncells = spark.createDataFrame([(1, 2000)], "node_id long, cell long")
    nodes = spark.createDataFrame([(1, 0, 0)],
                                  "node_id long, lon long, lat long")
    way_refs = spark.createDataFrame([(1, 0, 1)],
                                     "way_id long, pos long, ref long")
    mdf = spark.createDataFrame(
        [(1, "w", 1), (2, "n", 1), (3, "r", 1), (3, "r", 2), (4, "none", 0)],
        "rel_id long, mtype string, ref long",
    )
    frames = {
        "relation_cells": relation_cells(mdf, wcells, ncells),
        "find_objs_filter.rels": find_objs_filter(
            nodes, way_refs, mdf, F.col("lon") >= 0)["rels"],
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"\bUnionLoop\b", plan)) == 1, (name, plan)
        assert not re.search(r"\b(?:ArrowEvalPython|BatchEvalPython)\b",
                             plan), name
        assert len(plan) < 50_000, (name, len(plan))
