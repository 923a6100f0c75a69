"""The calcqts pipeline — quadtree cell assignment for ways, nodes and
relations, re-expressed as declarative DataFrame dataflow.

Reference semantics (/root/reference/calcqts/resortwaynodes.go):
  * way cell  = Calculate(bbox over member-node coords, buffer 0.05, depth 18)
                (:539-630, :615)
  * node cell = Common over parent-way cells, else point-box cell
                Calculate((lon,lat,lon+1,lat+1), 0.05, 18)   (:696-709)
  * rel cell  = Common over member node/way cells; empty members -> 0;
                self-circular -> 0; rel->rel closure within 5 edges,
                one bounded recursive plan (:767-824)

The reference achieves this with external spills + goroutine merges; here
each step is one shuffle-stage expressed natively so Catalyst/AQE pick the
physical plan.  Skew notes per step are in the docstrings — this is the
10^12-row-scale design surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.cells import common_agg, with_common_finish
from ..functions.udfs import cell_of_bbox_udf


def way_bboxes(way_refs: DataFrame, nodes: DataFrame,
               salt_buckets: int = 0) -> DataFrame:
    """Per-way bbox over member node coordinates.

    way_refs(way_id, pos, ref) ⋈ nodes(node_id, lon, lat) on ref, then
    min/max per way — the reference's Expand-into-dense-tiles MapReduce
    (calcqts/waybbox.go:360-444) as one join + one aggregation.

    Scale: the join shuffles on `ref`; hot nodes (city landmarks referenced
    by thousands of ways) and mega-ways both skew it.  Spark's hash
    aggregation computes MAP-SIDE PARTIAL min/max — each map partition
    emits at most one row per way — so the reducer's group size for even a
    10^9-ref mega-way is bounded by the partition count: the two-phase
    aggregation the north_rule asks for is the native plan.  `salt_buckets
    > 0` adds an EXPLICIT extra (way_id, pos % salt) pre-reduce; measured
    at sf0.1 local[32] it only costs (+34% stage time for the extra
    shuffle, round 3) because partial aggregation already provides the
    bound — it exists for aggregations without partial push-down (e.g.
    collect_list assembly), not for min/max.  Default call sites use 0.
    AQE skew-join splitting handles the join side — pinned by
    tests/test_skew_join.py: a node holding 50% of all refs makes the
    final adaptive plan split the SortMergeJoin (``skew=true``) with
    value-identical output.
    """
    j = way_refs.join(
        nodes,
        way_refs["ref"] == nodes["node_id"],
        "inner",
    ).select("way_id", "pos", "lon", "lat")

    aggs = [
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    ]
    if salt_buckets and salt_buckets > 1:
        partial = j.groupBy(
            "way_id", (F.pmod(F.col("pos"), F.lit(salt_buckets))).alias("_salt")
        ).agg(*aggs)
        return partial.groupBy("way_id").agg(
            F.min("minx").alias("minx"),
            F.min("miny").alias("miny"),
            F.max("maxx").alias("maxx"),
            F.max("maxy").alias("maxy"),
        )
    return j.groupBy("way_id").agg(*aggs)


def way_cells(way_bbox: DataFrame, buffer: float = 0.05,
              max_level: int = 18) -> DataFrame:
    """Buffered cell per way bbox (resortwaynodes.go:615,:621-625), computed
    by the engine's one cell descent: the Arrow-vectorized NumPy kernel
    behind functions.udfs.cell_of_bbox_udf."""
    calc = cell_of_bbox_udf(buffer, max_level)
    return way_bbox.select(
        "way_id", calc("minx", "miny", "maxx", "maxy").alias("cell")
    )


def node_cells(nodes: DataFrame, way_refs: DataFrame, wcells: DataFrame,
               buffer: float = 0.05, max_level: int = 18) -> DataFrame:
    """Node cell = Common over parent-way cells, falling back to the node's
    own point-box cell Calculate((lon,lat,lon+1,lat+1), buffer, 18)
    (resortwaynodes.go:696-709).

    The Common fold runs as three native min/max aggregates plus a bit-math
    finish (SURVEY.md §7.4) — associative, so map-side partials absorb hot
    nodes.  The point-box fallback runs through the same cell descent as
    way_cells (functions.udfs.cell_of_bbox_udf).
    """
    parent = with_common_finish(
        way_refs.join(wcells, "way_id").groupBy("ref").agg(*common_agg("cell")),
        out="way_common",
    ).select(F.col("ref").alias("node_id"), "way_common")
    joined = nodes.join(parent, "node_id", "left")
    # Single pass: the Arrow kernel computes the 1-unit point-box fallback
    # for every node (cheap vectorized NumPy) and coalesce picks the parent
    # fold when present — measured faster than splitting into two branches,
    # which recomputes the parent join lineage twice.
    calc = cell_of_bbox_udf(buffer, max_level)
    return joined.select(
        "node_id",
        F.coalesce(
            "way_common",
            calc(
                "lon", "lat",
                (F.col("lon") + F.lit(1)).cast("long"),
                (F.col("lat") + F.lit(1)).cast("long"),
            ),
        ).alias("cell"),
    )


# Longest rel->rel path both relation closures follow: the reference's
# fixed round count (resortwaynodes.go:767-824, filter.go:288-345).
REL_CLOSURE_DEPTH = 5


def rel_paths(rel_members: DataFrame) -> DataFrame:
    """Distinct (rel_id, desc_id) pairs: each relation with itself, and
    with every id reachable from it within REL_CLOSURE_DEPTH rel->rel
    edges (dangling child refs included; callers join them away).

    One bounded `WITH RECURSIVE` plan.  Its anchor is the rel->rel edges
    only, so tables without nested relations recurse over zero rows; the
    depth column bounds the recursion.  Spark allows only UNION ALL in a
    recursive CTE, so the CTE emits walks and one distinct follows.
    """
    edges = rel_members.filter(F.col("mtype") == "r").select(
        "rel_id", F.col("ref").alias("child_id")
    )
    walks = rel_members.sparkSession.sql(
        "with recursive w(rel_id, desc_id, depth) as ("
        " select rel_id, child_id, 1 from {edges}"
        " union all"
        " select w.rel_id, e.child_id, w.depth + 1"
        " from w join {edges} e on w.desc_id = e.rel_id"
        f" where w.depth < {REL_CLOSURE_DEPTH})"
        " select rel_id, desc_id from w",
        edges=edges,
    )
    selves = rel_members.select("rel_id", F.col("rel_id").alias("desc_id"))
    return selves.unionByName(walks).distinct()


def relation_cells(rel_members: DataFrame, wcells: DataFrame,
                   ncells: DataFrame) -> DataFrame:
    """Relation cells (resortwaynodes.go:767-824).

    rel_members(rel_id, mtype in ('n','w','r'), ref).
    Base pass: Common over node-member and way-member cells.  Empty-member
    relations get 0; a self-referencing relation with no value gets 0.
    Then child-relation cells propagate upward (nested hierarchies) over
    REL_CLOSURE_DEPTH rounds; anything still unresolved stays Null (-1),
    mirroring the reference's "missing rel qts" accounting.

    The rounds are one fold: Common is associative, commutative and
    idempotent with NULL as identity, so r synchronous rounds equal the
    Common over every relation's paths of length <= r (`rel_paths`).
    Scale: the rel table is orders of magnitude smaller than nodes/ways;
    the closure is one recursive plan, one join and one group-by.
    """
    members_n = (
        rel_members.filter(F.col("mtype") == "n")
        .join(ncells, rel_members["ref"] == ncells["node_id"])
        .select("rel_id", "cell")
    )
    members_w = (
        rel_members.filter(F.col("mtype") == "w")
        .join(wcells, rel_members["ref"] == wcells["way_id"])
        .select("rel_id", "cell")
    )
    base = with_common_finish(
        members_n.unionByName(members_w)
        .groupBy("rel_id")
        .agg(*common_agg("cell")),
        out="cell",
    ).select("rel_id", "cell")

    all_rels = rel_members.select("rel_id").distinct()
    cur = all_rels.join(base, "rel_id", "left")

    # Empty-member relations: the caller encodes them as mtype='none' rows
    # (one per relation); the reference sets their cell to 0 outright
    # (resortwaynodes.go writeRelQts: mm.Len()==0 -> Set(ei, 0)).  A 'none'
    # row matches no n/w/r member filter, so without this rule such
    # relations would fall through to -1 (missing) instead of 0.
    empty_rels = (
        rel_members.filter(F.col("mtype") == "none")
        .select("rel_id")
        .distinct()
        .withColumn("_empty", F.lit(True))
    )
    self_circ = (
        rel_members.filter(
            (F.col("mtype") == "r") & (F.col("ref") == F.col("rel_id"))
        )
        .select("rel_id")
        .distinct()
        .withColumn("_circ", F.lit(True))
    )
    cur = (
        cur.join(empty_rels, "rel_id", "left")
        .join(self_circ, "rel_id", "left")
        .select(
            F.col("rel_id").alias("desc_id"),
            F.when(F.col("_empty"), F.lit(0).cast("long"))
            .when(F.col("cell").isNotNull(), F.col("cell"))
            .when(F.col("_circ"), F.lit(0).cast("long"))
            .otherwise(F.lit(None).cast("long"))
            .alias("cell"),
        )
    )

    closed = with_common_finish(
        rel_paths(rel_members).join(cur, "desc_id")
        .groupBy("rel_id")
        .agg(*common_agg("cell")),
        out="cell",
    )
    return closed.select("rel_id", F.coalesce("cell", F.lit(-1)).alias("cell"))
