"""Regression coverage for osmquadtree_depreceated_spark.conf.

Pins the Spark 4.1 union-output-partitioning planner defect that
`apply_engine_conf` works around (FIXTURES.md §"Spark 4.1 union output
partitioning"): with broadcast joins disabled and AQE off (exactly the
planning environment of a streaming foreachBatch body), the update
pipeline's nested union -> distinct -> join shape plans the distinct's
HashAggregate directly over the Union (UnionExec claims the children's
common HashPartitioning(N)), but the union physically materializes the
concatenated 2N partitions — the downstream SortMergeJoin then dies
zipping N against 2N.  The repro is an operator plan, not a synthetic
shape: a standalone 3-way nested union of co-partitioned groupBys does
NOT trigger it (measured — Spark plans that one correctly), and neither
do its union -> distinct -> join sub-plans on their own.  The known
reproducer is the affected-tile plan `calc_update_tiles` built while it
re-derived its change-sized sets lazily (`_lazy_affected_tiles`); the
operator now materializes those sets, and its own plan no longer hits
the defect, so the engine-conf test below still runs the real operator.
"""

import contextlib

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.calcqts import (
    node_cells,
    way_bboxes,
    way_cells,
)
from osmquadtree_depreceated_spark.functions.cells import cell_round
from osmquadtree_depreceated_spark.operators.update import (
    calc_update_tiles,
    latest_version,
)


@contextlib.contextmanager
def _conf(spark, **kv):
    """Temporarily set runtime conf keys, restoring on exit."""
    keys = {k.replace("__", "."): v for k, v in kv.items()}
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _inputs(spark):
    nodes = spark.createDataFrame(
        [(i, i * 1_000_000 - 5_000_000, 505_000_000 + i * 500_000)
         for i in range(1, 8)],
        "node_id long, lon long, lat long",
    )
    way_refs = spark.createDataFrame(
        [(10 + i // 2, i % 2 + 1, i) for i in range(1, 8)],
        "way_id long, pos long, ref long",
    )
    wc = way_cells(way_bboxes(way_refs, nodes), 0.05, 18)
    nc = node_cells(nodes, way_refs, wc, 0.05, 18)
    changes = spark.createDataFrame(
        [(1, 1, "modify", -5_500_000, 505_500_000),
         (7, 1, "delete", None, None),
         (100, 1, "create", 9_000_000, 519_000_000)],
        "node_id long, seq long, change_type string, lon long, lat long",
    )
    return nodes, way_refs, wc, nc, changes


def _affected_tiles(spark):
    return calc_update_tiles(*_inputs(spark))["affected_tiles"]


def _lazy_affected_tiles(spark):
    """The affected-tile plan of calc_update_tiles with every change-sized
    set left lazy (union -> distinct -> join throughout): the known
    reproducer of the union output-partitioning defect."""
    nodes, way_refs, wc, nc, changes = _inputs(spark)
    order = [("seq", "desc"), ("change_type", "desc"),
             ("lon", "desc"), ("lat", "desc")]
    changed = latest_version(changes, ["node_id"], order)
    merged = nodes.alias("b").join(
        changed.alias("c"), F.col("b.node_id") == F.col("c.node_id"),
        "full_outer",
    ).filter(
        F.col("c.change_type").isNull()
        | (F.col("c.change_type") != "delete")
    ).select(
        F.coalesce("b.node_id", "c.node_id").alias("node_id"),
        *[F.when(F.col("c.change_type").isin("modify", "create"),
                 F.col(f"c.{v}")).otherwise(F.col(f"b.{v}")).alias(v)
          for v in ("lon", "lat")],
    )
    changed_ids = changed.select("node_id").distinct()
    deleted_ids = (changed.filter(F.col("change_type") == "delete")
                   .select("node_id").distinct())
    aff_ways = way_refs.join(
        changed_ids, way_refs["ref"] == changed_ids["node_id"], "left_semi",
    ).select("way_id").distinct()
    aff_refs = way_refs.join(aff_ways, "way_id", "left_semi")
    new_wc = way_cells(way_bboxes(aff_refs, merged), 0.05, 18)
    merged_wc = wc.join(aff_ways, "way_id", "left_anti").unionByName(new_wc)
    aff_nodes = (
        aff_refs.select(F.col("ref").alias("node_id"))
        .unionByName(changed_ids).distinct()
        .join(deleted_ids, "node_id", "left_anti")
    )
    parent_refs = way_refs.join(
        aff_nodes, way_refs["ref"] == aff_nodes["node_id"], "left_semi",
    )
    new_nc = node_cells(merged.join(aff_nodes, "node_id", "left_semi"),
                        parent_refs, merged_wc, 0.05, 18)
    touched = changed_ids.unionByName(aff_nodes.select("node_id")).distinct()
    cells = (
        wc.join(aff_ways, "way_id", "left_semi").select("cell")
        .unionByName(nc.join(touched, "node_id", "left_semi").select("cell"))
        .unionByName(new_wc.select("cell"))
        .unionByName(new_nc.select("cell"))
    )
    return (cells.filter(F.col("cell") >= 0)
            .select(cell_round("cell", 12).alias("tile_cell")).distinct())


def test_engine_conf_disables_union_output_partitioning(spark):
    from osmquadtree_depreceated_spark.conf import apply_engine_conf

    apply_engine_conf(spark)
    assert spark.conf.get("spark.sql.unionOutputPartitioning") == "false"


def test_update_pipeline_correct_under_engine_conf(spark):
    """The shape that crashed the streaming update pipeline completes
    under the engine conf, in the exact planning environment that
    exposed it (broadcast off, AQE off, plain shuffle partitioning), and
    the operator's tiles equal those of the lazy reproducer plan."""
    with _conf(
        spark,
        spark__sql__unionOutputPartitioning="false",
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__enabled="false",
        spark__sql__shuffle__partitions="16",
    ):
        tiles = _affected_tiles(spark).collect()
        lazy = _lazy_affected_tiles(spark).collect()
    assert len(tiles) >= 1
    assert all(r["tile_cell"] >= 0 for r in tiles)
    assert sorted(lazy) == sorted(tiles)


def test_union_output_partitioning_defect_still_present(spark):
    """Documents the upstream defect on a frozen copy of the earlier lazy
    update plan: with the conf at its Spark 4.1 default it either
    crashes with the partition-zip error (defect still present in
    Spark) or succeeds (fixed upstream; the test then skips with that
    message instead of failing).  No current engine plan is known to
    hit the defect, since calc_update_tiles checkpoints its change-sized
    sets, so a crash here shows the Spark bug, not that the engine's
    override is load-bearing: the override is defensive."""
    with _conf(
        spark,
        spark__sql__unionOutputPartitioning="true",
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__enabled="false",
        spark__sql__shuffle__partitions="16",
    ):
        try:
            tiles = _lazy_affected_tiles(spark).collect()
        except Exception as e:  # noqa: BLE001 - py4j error type varies
            assert "unequal numbers of partitions" in str(e), (
                f"expected the documented partition-zip defect, got: {e}"
            )
            return
    assert len(tiles) >= 1
    pytest.skip(
        "spark.sql.unionOutputPartitioning=true no longer mis-plans — "
        "upstream fixed; apply_engine_conf's override is now redundant"
    )


def test_relation_closure_needs_no_row_limit(spark):
    """The relation closure's recursion is bounded by its depth column,
    not by a row count: a 250k-edge chain emits about 1.25M walks, which
    completes under the engine conf and exceeds Spark's default
    cteRecursionRowLimit of 1,000,000."""
    from osmquadtree_depreceated_spark.operators.calcqts import rel_paths

    n = 250_000
    chain = spark.range(n).select(
        F.col("id").alias("rel_id"), F.lit("r").alias("mtype"),
        (F.col("id") + 1).alias("ref"),
    )
    paths = rel_paths(chain)
    # n self pairs plus n - d + 1 pairs at each depth d = 1..5
    assert paths.count() == n + sum(n - d + 1 for d in range(1, 6))
    key = "spark.sql.cteRecursionRowLimit"
    old = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        with pytest.raises(Exception, match="RECURSION_ROW_LIMIT_EXCEEDED"):
            rel_paths(chain).count()
    finally:
        spark.conf.set(key, old)
