"""Cell-partitioned serving table: real file skipping on a tile query."""

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.calcqts import (
    way_bboxes,
    way_cells,
)
from osmquadtree_depreceated_spark.plans.partitioned import (
    PART_COL,
    pruned_tile_scan,
    write_cell_partitioned,
)
from osmquadtree_depreceated_spark.sources import tpch

QBOX = (-6_000_000, 503_000_000, -4_000_000, 507_000_000)
LEVEL = 6


@pytest.fixture(scope="module")
def table(spark, sf_dir, tmp_path_factory):
    tpch.load_base_tables(spark, sf_dir)
    tpch.register_synth_views(spark)
    wb = way_bboxes(spark.table("way_refs"), spark.table("nodes"))
    geoms = wb.join(way_cells(wb, 0.05, 18), "way_id")
    path = str(tmp_path_factory.mktemp("parts") / "way_geoms")
    write_cell_partitioned(geoms, path, level=LEVEL)
    return path, geoms


def test_pruned_scan_matches_full_filter(spark, table):
    path, geoms = table
    got = {
        r["way_id"]
        for r in pruned_tile_scan(spark, path, *QBOX, level=LEVEL).collect()
    }
    want = {
        r["way_id"]
        for r in geoms.filter(
            (F.col("minx") <= QBOX[2]) & (F.col("miny") <= QBOX[3])
            & (F.col("maxx") >= QBOX[0]) & (F.col("maxy") >= QBOX[1])
        ).collect()
    }
    assert got == want and len(want) > 0


def test_partition_pruning_skips_files(spark, table):
    path, _ = table
    full = spark.read.parquet(path)
    n_partitions_total = full.select(PART_COL).distinct().count()
    assert n_partitions_total > 4  # the layout actually spread out

    pruned = pruned_tile_scan(spark, path, *QBOX, level=LEVEL)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and (
        PART_COL in plan.split("PartitionFilters")[1][:400]
    ), plan[:3000]

    # files ACTUALLY read (runtime, post-pruning) < files in the table
    pruned_files = {
        r[0] for r in pruned.select(
            F.input_file_name().alias("f")).distinct().collect()
    }
    all_files = {
        r[0] for r in full.select(
            F.input_file_name().alias("f")).distinct().collect()
    }
    assert pruned_files and len(pruned_files) < len(all_files), (
        len(pruned_files), len(all_files))


def test_dynamic_partition_pruning_on_tile_join(spark, table):
    """A tile-dimension join on the partition column triggers Spark's
    dynamic partition pruning — the fact scan waits for the dim filter
    result and skips non-matching partitions at runtime (SURVEY §4 row 1's
    'dynamic partition pruning for tile joins')."""
    from osmquadtree_depreceated_spark.qtcore import cover_cells

    path, _ = table
    fact = spark.read.parquet(path)
    cover = [int(c) for c in cover_cells(*QBOX, LEVEL, 0.05)]
    dim = spark.createDataFrame(
        [(c, "serve" if i % 2 == 0 else "skip")
         for i, c in enumerate(cover)],
        "pc long, klass string",
    )
    joined = (
        fact.join(dim, fact[PART_COL] == dim["pc"])
        .where(dim["klass"] == "serve")
        .select("way_id")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2500]
    assert joined.count() >= 0
