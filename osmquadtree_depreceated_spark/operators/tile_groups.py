"""Tile grouping: partition the cell space into groups of roughly `target`
elements — the engine's output-partitioning policy ("adaptive cell
splitting" in BASELINE.json terms).

Faithful port of the reference's counting-tree grouping
(/root/reference/calcqts/qttree.go): build a counting quadtree over the
aggregated (cell, count) histogram — a SMALL driver-side structure (the
distributed part is the groupBy(cell).count() that produces the histogram) —
then harvest subtrees whose totals fall in [target-50, target+50], widening
the window by 50 per round (FindQtGroups, qttree.go:508-627; harvest rule
findGroupIntFlat, qttree.go:369-439; subtree detach Remove,
qttree.go:93-121).

Group assignment back to rows is distributed: each cell joins its ancestor
prefixes against the (small, broadcast) group table and keeps the deepest
match — the Find semantics of qttree.go:192-215.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast


class _Node:
    __slots__ = ("qt", "count", "total", "parent", "children")

    def __init__(self, qt, parent):
        self.qt = qt
        self.count = 0
        self.total = 0
        self.parent = parent
        self.children = [0, 0, 0, 0]


class CountingTree:
    """In-memory counting quadtree over cell keys (qttree.go:20-91)."""

    def __init__(self):
        self.nodes = [_Node(0, 0)]

    def add(self, qt: int, w: int):
        if qt < 0:
            return
        i = 0
        while True:
            t = self.nodes[i]
            t.total += w
            if qt == t.qt:
                t.count += w
                return
            d = t.qt & 31
            nv = (qt >> (61 - 2 * d)) & 3
            if t.children[nv] == 0:
                cq = _round(qt, d + 1)
                self.nodes.append(_Node(cq, i))
                t.children[nv] = len(self.nodes) - 1
            i = t.children[nv]

    def remove(self, i: int):
        # detach subtree i and subtract its total up the ancestor chain
        # (removeQtt with clip=true, qttree.go:93-121)
        if i == 0:
            return
        t = self.nodes[i]
        v = t.total
        ci = (t.qt >> (63 - 2 * (t.qt & 31))) & 3
        j = t.parent
        p = self.nodes[j]
        p.children[ci] = 0
        p.total -= v
        while p.parent != j:
            j = p.parent
            p = self.nodes[j]
            p.total -= v


def _round(qt: int, level: int) -> int:
    if (qt & 31) < level:
        return qt
    shift = 63 - 2 * level
    return ((qt >> shift) << shift) + level


def _find_groups_flat(tree: CountingTree, absmin: int, mn: int, mx: int):
    """One harvest sweep (findGroupIntFlat, qttree.go:369-439): iterative
    DFS; harvest nodes with count!=0 whose total fits, detaching them."""
    nodes = tree.nodes

    def next_item(j: int, fc: int) -> int:
        while True:
            t = nodes[j]
            if fc < 4:
                for b in t.children[fc:]:
                    if b != 0:
                        return b
            if t.parent == j:
                return 0
            fc = ((t.qt >> (63 - 2 * (t.qt & 31))) & 3) + 1
            j = t.parent

    res = []
    i = 0
    while True:
        t = nodes[i]
        if t.total >= mn:
            alls = True
            for c in t.children:
                if c != 0 and nodes[c].total > absmin:
                    alls = False
                    break
            if t.count != 0 and (t.total == t.count or t.total <= mx or alls):
                j = i
                res.append(i)
                i = next_item(i, 4)
                tree.remove(j)
            else:
                i = next_item(i, 0)
        else:
            i = next_item(i, 4)
        if i == 0:
            return res


def find_qt_groups(cells, counts, target: int = 8000, minimum: int = 1,
                   strict: bool = False):
    """Group the (cell, count) histogram (FindQtGroups, qttree.go:508-627).

    Returns list of (group_cell, total).  `strict=True` mirrors the
    reference's conservation panic when ungroupable mass remains spread over
    multiple leaves; strict=False degrades to a root group instead.
    """
    tree = CountingTree()
    for c, w in zip(np.asarray(cells, dtype=np.int64),
                    np.asarray(counts, dtype=np.int64)):
        tree.add(int(c), int(w))
    orig_total = tree.nodes[0].total

    mn, mx = target - 50, target + 50
    found_zero = False
    groups: list = []

    while tree.nodes[0].total > 1000 and not found_zero:
        cont = True
        while cont and not found_zero:
            r = _find_groups_flat(tree, minimum, mn, mx)
            for ri in r:
                if ri == 0:
                    found_zero = True
                    break
            cont = len(r) > 0
            for ri in r:
                t = tree.nodes[ri]
                groups.append((t.qt, t.total))
        if found_zero:
            break
        mn = max(mn - 50, minimum)
        mx += 50
        if mx > 1_000_000:
            break

    t0 = tree.nodes[0]
    if not found_zero and t0.total > 0:
        active = sum(1 for n in tree.nodes if n.count > 0 and n.total > 0)
        if active > 1 and strict:
            raise ValueError(
                f"tile grouping leftover: {t0.total} elements in {active} "
                f"leaves (reference panics here, qttree.go:592-617)"
            )
        groups.append((0, t0.total))

    got_total = sum(t for _, t in groups)
    if got_total != orig_total:  # conservation check (qttree.go:622-624)
        raise ValueError(f"conservation failed: {got_total} != {orig_total}")
    return groups


def tile_groups_df(spark, cell_counts: DataFrame, target: int = 8000,
                   minimum: int = 1, cell_col: str = "cell",
                   count_col: str = "n",
                   depth_cap: int | None = None) -> DataFrame:
    """Collect the histogram, group on the driver, return the group table
    as a DataFrame (group_cell, group_total).

    `depth_cap`: pre-aggregate the histogram to cell_round(cell, cap)
    BEFORE collecting — the planet-scale guard.  The raw depth-18 histogram
    is 10^7-10^8 distinct cells (the Go arena handles that; a Python node
    per insert does not); capped at 14 the driver sees at most 4^14 ≈ 2.7e8
    THEORETICAL but in practice the occupied-cell count, typically ~10^5-6,
    and groups can simply never split below the cap — harmless whenever
    target >> per-cap-cell counts.  None (default) keeps the reference's
    exact full-depth behavior for parity-sensitive uses."""
    src = cell_counts
    if depth_cap is not None:
        from ..functions.cells import cell_round

        src = (
            cell_counts.select(
                cell_round(cell_col, int(depth_cap)).alias(cell_col),
                F.col(count_col),
            )
            .groupBy(cell_col)
            .agg(F.sum(count_col).alias(count_col))
        )
    pdf = src.select(cell_col, count_col).toPandas()
    groups = find_qt_groups(pdf[cell_col].values, pdf[count_col].values,
                            target, minimum)
    return spark.createDataFrame(
        [(int(g), int(t)) for g, t in groups], "group_cell long, group_total long"
    )


def assign_groups(df: DataFrame, groups: DataFrame,
                  cell_col: str = "cell", max_depth: int = 18) -> DataFrame:
    """Assign every row to its tile group: deepest harvested ancestor prefix
    (Find semantics, qttree.go:192-215).

    Distributed shape: explode each cell into its ancestor prefixes (one
    array of <= max_depth+1 longs, no data columns duplicated), equi-join
    against the broadcast group table, keep the deepest match.  With a
    cell-partitioned table this is a broadcast join + window over ~19 rows
    per key — no skew surface.

    The prefix array is ONE transform over a depth sequence, so the cell
    column is referenced once.  Keep it that way: Catalyst inlines a
    stepped cell expression (e.g. from with_point_cell) into every
    reference, and a per-depth array with 38 references gave a
    1.1M-char optimized plan.  NULL cells give a NULL array and explode
    to nothing.
    """
    c = cell_col
    prefixes = F.expr(
        f"transform(sequence(0, cast(least({c} & 31, {int(max_depth)})"
        f" as int)), d -> shiftleft(shiftright({c}, 63 - 2 * d),"
        f" 63 - 2 * d) + d)"
    )
    exploded = df.withColumn("_anc", F.explode(prefixes))
    joined = exploded.join(
        broadcast(groups), exploded["_anc"] == groups["group_cell"], "inner"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(cell_col).orderBy(
        (F.col("group_cell").bitwiseAND(F.lit(31))).desc()
    )
    best = (
        joined.select(cell_col, "group_cell")
        .distinct()
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return df.join(best, cell_col, "left")


def tile_pyramid(df: DataFrame, cell_col: str = "cell",
                 max_level: int = 18, sum_cols: tuple = (),
                 weight_col: str | None = None) -> DataFrame:
    """Multi-level tile statistics: roll each row's cell up to EVERY
    ancestor level 0..min(depth, max_level) and aggregate per
    (level, parent cell) — the zoom-pyramid rollup a tile-serving layer
    asks of the engine (the per-level generalization of the reference's
    per-block element histogram, calcqts/qttree.go counting-tree input).

    Output: (level int, pcell long, n long[, sum_<c> long per sum_cols]).
    Rows whose cell is NULL or negative (the reference's "no cell"
    sentinel, quadtree.go:206) are excluded.

    Scale shape — histogram first, fan-out second: stage 1 collapses the
    input to one row per DISTINCT cell (one keyed shuffle with map-side
    partial aggregation, the same cost class as any histogram); stage 2
    explodes the ≤(max_level+1)-wide ancestor array over that already-tiny
    histogram and re-aggregates.  The 19× fan-out therefore multiplies the
    distinct-cell count, never the row count — at 10^12 input rows the
    second shuffle moves at most 19 × |distinct cells| partial rows.
    All expressions are native (closed-form bit math via
    functions.cells.cell_round); no Python touches the data path.

    `weight_col` turns the pyramid SIGNED: n = sum(weight) and each
    sum_<c> = sum(weight * c), so a change batch rendered as (-1 at the
    old cell, +1 at the new cell) produces a DELTA pyramid that
    `pyramid_merge` folds into a materialized base — the incremental
    maintenance path (a retracted row subtracts exactly what its
    insertion added, at every ancestor level).
    """
    from ..functions.cells import cell_round

    if weight_col is None:
        partial = [F.count(F.lit(1)).alias("n")] + [
            F.sum(c).alias(f"sum_{c}") for c in sum_cols
        ]
    else:
        w = F.col(weight_col)
        partial = [F.sum(w).alias("n")] + [
            F.sum(w * F.col(c)).alias(f"sum_{c}") for c in sum_cols
        ]
    base = (
        df.where(F.col(cell_col).isNotNull() & (F.col(cell_col) >= 0))
        .groupBy(F.col(cell_col).alias("_cell"))
        .agg(*partial)
    )
    ancestors = F.array(*[
        F.struct(
            F.lit(lvl).alias("level"),
            cell_round("_cell", lvl).alias("pcell"),
        )
        for lvl in range(max_level + 1)
    ])
    exploded = (
        base.withColumn("_lp", F.explode(ancestors))
        .where(F.col("_lp.level") <= F.col("_cell").bitwiseAND(F.lit(31)))
    )
    return (
        exploded.groupBy(
            F.col("_lp.level").alias("level"),
            F.col("_lp.pcell").alias("pcell"),
        )
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        )
    )


def pyramid_merge(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a signed delta pyramid (tile_pyramid(weight_col=...)) into a
    materialized base pyramid: union + one keyed re-aggregation on
    (level, pcell), dropping groups whose count reaches zero.

    Scale shape: both inputs are already pyramid-sized (≤ levels ×
    distinct cells, not data-sized), so the merge shuffle is tiny
    relative to the data the base summarizes; over a cell-partitioned
    stored pyramid the same statement is a MERGE INTO keyed on
    (level, pcell) touching only the delta's partitions.  This is the
    engine's incremental analogue of rewriting only the affected tiles
    (update/update.go:343 FindTiles -> rewrite), applied to the serving
    statistics instead of the tiles themselves.
    """
    sums = [c for c in base.columns if c.startswith("sum_")]
    assert sums == [c for c in delta.columns if c.startswith("sum_")], (
        base.columns, delta.columns)
    return (
        base.unionByName(delta.select(*base.columns))
        .groupBy("level", "pcell")
        .agg(F.sum("n").alias("n"),
             *[F.sum(c).alias(c) for c in sums])
        .where(F.col("n") > 0)
    )


def pyramid_delta(old_rows: DataFrame, new_rows: DataFrame,
                  affected: DataFrame, key_col: str = "way_id",
                  cell_col: str = "cell", max_level: int = 18,
                  sum_cols: tuple = ()) -> DataFrame:
    """The signed delta pyramid of a change batch: -1 at each affected
    key's old cell, +1 at its new cell (a dropped key simply has no +1
    row, an added key no -1 row).  `old_rows`/`new_rows` are the pre-
    and post-change (key, cell) tables; `affected` the (key_col) set the
    change touched — both sides are restricted to it, so the delta's
    cost scales with the change, not the base.  One shared recipe for
    the batch gate (q69) and the streaming maintenance path."""
    old_d = (old_rows.join(affected, key_col, "left_semi")
             .withColumn("_w", F.lit(-1)))
    new_d = (new_rows.join(affected, key_col, "left_semi")
             .withColumn("_w", F.lit(1)))
    return tile_pyramid(old_d.unionByName(new_d), cell_col, max_level,
                        sum_cols=sum_cols, weight_col="_w")
