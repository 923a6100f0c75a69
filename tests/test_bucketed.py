"""Bucketed co-located join (plans/bucketed.py): the pre-shuffled layout
for the way_refs ⋈ nodes join must (a) plan ZERO Exchange operators,
(b) compute exactly the plain join's rows, and (c) fail loudly — not
silently re-shuffle — when the bucket layouts stop matching."""

import os

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.plans.bucketed import (
    assert_colocated,
    bucketed_way_node_join,
    colocated_join,
    exchange_count,
    write_bucketed,
)
from osmquadtree_depreceated_spark.sources import tpch


@pytest.fixture(scope="module")
def base(spark, sf_dir):
    tpch.load_base_tables(spark, sf_dir)
    tpch.register_synth_views(spark)
    return spark


def test_bucketed_join_is_exchange_free_and_value_equal(base, tmp_path):
    spark = base
    j = bucketed_way_node_join(
        spark, spark.table("way_refs"), spark.table("nodes"),
        str(tmp_path / "bkt")
    )
    assert exchange_count(j) == 0
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan and "SortMergeJoin" in plan

    plain = spark.table("way_refs").join(
        spark.table("nodes"),
        F.col("ref") == F.col("node_id"),
    ).select("way_id", "pos", "ref", "lon", "lat")
    got = sorted(map(tuple, j.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want and len(got) > 0


def test_plain_join_shuffles_for_contrast(base):
    spark = base
    refs, nodes = spark.table("way_refs"), spark.table("nodes")
    plain = colocated_join(refs, nodes, refs["ref"] == nodes["node_id"])
    # same SMJ hint, un-bucketed inputs: both sides must exchange
    assert exchange_count(plain) >= 2


def test_mismatched_bucket_counts_raise(base, tmp_path):
    spark = base
    write_bucketed(spark.table("way_refs"), "bkt_mismatch_refs", "ref", 4,
                   str(tmp_path / "r"))
    write_bucketed(spark.table("nodes"), "bkt_mismatch_nodes", "node_id", 8,
                   str(tmp_path / "n"))
    r, n = spark.table("bkt_mismatch_refs"), spark.table("bkt_mismatch_nodes")
    j = colocated_join(r, n, r["ref"] == n["node_id"])
    # 4 vs 8 buckets: Spark must re-shuffle at least one side — the
    # guard turns that silent degradation into an error
    with pytest.raises(RuntimeError, match="Exchange"):
        assert_colocated(j)


def test_gates_can_build_before_executing(base, sf_dir):
    """A consumer may build SEVERAL gate DataFrames before executing any
    (the driver pattern).  q60 and q61 use distinct table names and dirs
    so q61's drop-and-recreate cannot delete files q60's already-analyzed
    plan has pinned — executing the FIRST df after building the second
    must still succeed."""
    from osmquadtree_depreceated_spark import gate

    df60 = gate.GATE_QUERIES["q60_bucketed_join"](base, sf_dir)
    df61 = gate.GATE_QUERIES["q61_bucketed_way_cells"](base, sf_dir)
    assert df60.count() > 0 and df61.count() > 0


def test_partitioned_bucketed_composes(base, tmp_path):
    """The hybrid layout must deliver BOTH properties in ONE plan: a
    cell-partition filter that prunes at the scan (PartitionFilters),
    and an id-join against a same-bucket-count side with zero Exchange.
    Values must equal the plain recomputation over the pruned subset."""
    from osmquadtree_depreceated_spark.functions.cells import cell_round
    from osmquadtree_depreceated_spark.functions.udfs import cell_of_bbox_udf
    from osmquadtree_depreceated_spark.plans.bucketed import (
        write_partitioned_bucketed,
    )

    spark = base
    # a cell-keyed element table: node point-box cells, rounded to the
    # level-6 partition key
    calc = cell_of_bbox_udf(0.05, 18)
    nc = spark.table("nodes").select(
        "node_id",
        calc("lon", "lat", F.col("lon") + 1, F.col("lat") + 1).alias("cell"),
    ).withColumn("part_cell", cell_round("cell", 6))
    write_partitioned_bucketed(nc, "hyb_nodes", str(tmp_path / "hyb"),
                               "part_cell", "node_id", 8)
    # a change feed bucketed the same way on the join key
    ch = spark.table("nodes").select(
        "node_id", (F.col("lon") + 10).alias("new_lon"))
    write_bucketed(ch, "hyb_changes", "node_id", 8,
                   str(tmp_path / "chg"))

    t = spark.table("hyb_nodes")
    cells = [r[0] for r in
             t.select("part_cell").distinct().limit(3).collect()]
    pruned = t.where(F.col("part_cell").isin(cells))
    c = spark.table("hyb_changes")
    j = colocated_join(pruned, c, pruned["node_id"] == c["node_id"],
                       "inner").select(pruned["node_id"], "cell",
                                       "part_cell", "new_lon")

    plan = j._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(j) == 0
    assert "PartitionFilters: [" in plan and "part_cell" in plan.split(
        "PartitionFilters")[1][:120]
    assert plan.count("Bucketed: true") == 2

    # value check vs the un-laid-out computation
    want = sorted(map(tuple, nc.where(F.col("part_cell").isin(cells))
                      .join(ch, "node_id")
                      .select("node_id", "cell", "part_cell", "new_lon")
                      .collect()))
    assert sorted(map(tuple, j.collect())) == want and len(want) > 0


def test_write_is_rerun_safe(base, tmp_path):
    spark = base
    p = str(tmp_path / "rr")
    for _ in range(2):  # drop-and-recreate must self-heal
        write_bucketed(spark.table("nodes"), "bkt_rerun", "node_id", 8, p)
    assert spark.table("bkt_rerun").count() == spark.table("nodes").count()
