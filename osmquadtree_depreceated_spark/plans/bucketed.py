"""Bucketed (pre-shuffled) tables: the co-located-join half of the
shuffle story.

`plans/partitioned.py` kills the SCAN cost of tile queries (partition
pruning); this module kills the JOIN shuffle of the pipeline's biggest
join — way_refs ⋈ node locations (SURVEY.md §2.3, reference
calcqts/resortwaynodes.go:539-630 which achieves the same co-location
with external sorts and goroutine merge files).

At 10^12 rows BOTH join sides are huge (no broadcast), so a plain join
shuffles both tables on every run.  Writing each side bucketed on its
join key (`bucketBy(n, key)` + `sortBy`) pre-shuffles ONCE at write
time; every subsequent join on that key is a SortMergeJoin with ZERO
Exchange on either side — Spark's reader exposes the bucket layout as
the join's required HashPartitioning.  This is the Spark-native
analogue of the reference's resort-by-node-id spill files, and the
layout any repeatedly-joined planet-scale table should be stored in.

Local backend is the session-catalog parquet bucketed table (bucket
metadata lives in the catalog, so tables are meant to be written and
joined within one application — exactly the gate/bench lifecycle).  On
a real cluster the same calls target an Iceberg table with a
`bucket(n, key)` partition transform + storage-partitioned joins, which
persists the layout across applications.

Correctness gate: q60 (gate.py) — the bucketed join must produce the
same way bboxes as the plain-join oracle, and raises if an Exchange
appears under the join (the co-location is load-bearing, not advisory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   num_buckets: int, path: str,
                   sort_cols: tuple[str, ...] | None = None,
                   part_col: str | None = None) -> None:
    """Write `df` as a bucketed parquet table at `path`, registered in
    the session catalog as `table` (dropped first if present, so reruns
    self-heal).  `sort_cols` defaults to (bucket_col,): sorted buckets
    let the SortMergeJoin read presorted runs instead of re-sorting.
    `part_col` additionally partitions the table (the hybrid layout —
    see write_partitioned_bucketed)."""
    spark = df.sparkSession
    spark.sql(f"drop table if exists {table}")
    sort_cols = sort_cols or (bucket_col,)
    w = df.write.mode("overwrite").format("parquet").option("path", path)
    if part_col is not None:
        w = w.partitionBy(part_col)
    (w.bucketBy(num_buckets, bucket_col)
      .sortBy(*sort_cols)
      .saveAsTable(table))


def colocated_join(left: DataFrame, right: DataFrame, cond,
                   how: str = "inner") -> DataFrame:
    """Join two same-bucket-count tables on their bucket keys as a
    SortMergeJoin.  The merge hint pins SMJ regardless of the session's
    broadcast threshold — a BroadcastHashJoin would also be
    shuffle-free here, but it is the WRONG plan at scale (the point of
    bucketing is that neither side fits in memory)."""
    return left.hint("merge").join(right.hint("merge"), cond, how)


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange operators (shuffle or broadcast) in the
    physical plan.  Uses the executed-plan string (same capture as
    tests/test_plan_sweep.py).  Before execution, AQE prints one plan
    (isFinalPlan=false); AFTER an action it prints BOTH '== Final
    Plan ==' and '== Initial Plan ==' sections, which would double-count
    every Exchange — only the final (actually executed) section is
    counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("Exchange")


def assert_colocated(df: DataFrame, what: str = "join") -> DataFrame:
    """Raise unless `df`'s plan is exchange-free.  Called by gate q60 so
    the bucketed path cannot silently degrade into a shuffled join."""
    n = exchange_count(df)
    if n:
        plan = df._jdf.queryExecution().executedPlan().toString()
        raise RuntimeError(
            f"bucketed {what} planned {n} Exchange operator(s) — bucket "
            f"co-location lost (bucket counts or join keys diverged):\n"
            + plan[:2000]
        )
    return df


def write_partitioned_bucketed(df: DataFrame, table: str, path: str,
                               part_col: str, bucket_col: str,
                               num_buckets: int) -> None:
    """The hybrid serving layout: PARTITIONED on the rounded cell key
    (tile/bbox queries prune directories — plans/partitioned.py's prune
    story) AND BUCKETED on the element id (id-equi-joins, e.g. the
    update path's change⋈snapshot join, need no shuffle — this module's
    join story).  A bucket's data spans partition directories, but the
    scan still exposes HashPartitioning(bucket_col, n): each bucket id
    is one task reading that bucket's file from every selected
    partition, so partition pruning and join co-location COMPOSE — the
    layout a planet-scale tile store should use.  Pinned by
    tests/test_bucketed.py::test_partitioned_bucketed_composes."""
    write_bucketed(df, table, bucket_col, num_buckets, path,
                   part_col=part_col)


def bucketed_way_node_join(spark: SparkSession, way_refs: DataFrame,
                           nodes: DataFrame, base_path: str,
                           num_buckets: int = 8,
                           table_prefix: str = "bkt") -> DataFrame:
    """way_refs ⋈ nodes with both sides pre-bucketed on the join key.

    Writes way_refs bucketed on `ref` and nodes on `node_id` (same
    bucket count), reads them back, and returns the exchange-free
    SortMergeJoin of the two — the scan→join segment of the calcqts way
    pass with its runtime shuffle moved to write time.

    `table_prefix` must be unique per CONSUMER (gates q60/q61 pass
    their own): a shared name would let a second build's
    drop-and-recreate delete the files a first, still-lazy DataFrame's
    analyzed plan has already pinned."""
    import os

    write_bucketed(way_refs, f"{table_prefix}_way_refs", "ref",
                   num_buckets, os.path.join(base_path, "way_refs"))
    write_bucketed(nodes, f"{table_prefix}_nodes", "node_id",
                   num_buckets, os.path.join(base_path, "nodes"))
    refs_t = spark.table(f"{table_prefix}_way_refs")
    nodes_t = spark.table(f"{table_prefix}_nodes")
    j = colocated_join(refs_t, nodes_t,
                       refs_t["ref"] == nodes_t["node_id"])
    return assert_colocated(
        j.select("way_id", "pos", "ref", "lon", "lat"), "way⋈node join"
    )


def way_bbox_agg(joined: DataFrame) -> DataFrame:
    """Per-way bbox over a (way_id, lon, lat) join result — the second
    half of operators.calcqts.way_bboxes, shared by gates q60/q61 so the
    aggregation semantics live in exactly one place."""
    from pyspark.sql import functions as F

    return joined.groupBy("way_id").agg(
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    )
