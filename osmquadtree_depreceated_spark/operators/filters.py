"""Complete-ways spatial extract: id-set discovery + apply.

Reference semantics (/root/reference/filter/filter.go:288-345 FindObjsFilter,
:347-408 FilterObjs):
  1. nodes inside the region are kept;
  2. ways touching ANY kept node are kept;
  3. ALL nodes of kept ways are added (complete-ways);
  4. relations are kept if a member node-in-region / kept-way / kept-relation
     is present — rel->rel closure over paths of at most 5 edges;
     crucially the step-3 extra nodes do NOT count for relation membership
     (the reference merges them into the id set only after the rounds);
  5. apply: keep elements whose (type, id) is in the set; relation members
     are trimmed to kept ids (osmosis --clip-incomplete-relations) and
     relations left memberless are dropped.

Spark shape: each step is a semi-join; the relation closure is one more,
against the bounded recursive plan of calcqts.rel_paths.  The region
predicate is any Column (bbox natively, polygon via the pnpoly kernel).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .calcqts import rel_paths


def find_objs_filter(nodes: DataFrame, way_refs: DataFrame,
                     rel_members: DataFrame, region_pred: Column) -> dict:
    """Discover the kept id sets.  nodes(node_id, lon, lat);
    way_refs(way_id, pos, ref); rel_members(rel_id, mtype in n/w/r, ref).
    Returns {'nodes': DF[node_id], 'ways': DF[way_id], 'rels': DF[rel_id]}.
    """
    region_nodes = nodes.filter(region_pred).select("node_id").distinct()

    kept_ways = (
        way_refs.join(
            region_nodes, way_refs["ref"] == region_nodes["node_id"], "leftsemi"
        )
        .select("way_id")
        .distinct()
    )

    # complete-ways: every node of a kept way (filter.go:311-313 addOthers)
    all_way_nodes = (
        way_refs.join(kept_ways, "way_id", "leftsemi")
        .select(F.col("ref").alias("node_id"))
        .distinct()
    )

    # relation base pass: node members tested against REGION nodes only
    m_node = rel_members.filter(F.col("mtype") == "n").join(
        region_nodes, rel_members["ref"] == region_nodes["node_id"], "leftsemi"
    )
    m_way = rel_members.filter(F.col("mtype") == "w").join(
        kept_ways, rel_members["ref"] == kept_ways["way_id"], "leftsemi"
    )
    base_rels = m_node.select("rel_id").unionByName(m_way.select("rel_id"))

    # rel->rel closure: a relation is kept when a path of at most
    # REL_CLOSURE_DEPTH edges reaches a base-kept one (itself included)
    kept_rels = (
        rel_paths(rel_members)
        .join(base_rels.withColumnRenamed("rel_id", "desc_id"), "desc_id",
              "leftsemi")
        .select("rel_id")
        .distinct()
    )

    kept_nodes = region_nodes.unionByName(all_way_nodes).distinct()
    return {"nodes": kept_nodes, "ways": kept_ways, "rels": kept_rels}


def filter_objs(nodes: DataFrame, way_refs: DataFrame,
                rel_members: DataFrame, ids: dict) -> dict:
    """Apply the id sets (FilterObjs, filter.go:347-408): semi-join each
    element table; relation members trimmed to kept ids, memberless
    relations dropped."""
    out_nodes = nodes.join(ids["nodes"], "node_id", "leftsemi")
    out_way_refs = way_refs.join(ids["ways"], "way_id", "leftsemi")

    kept_rel_members = rel_members.join(ids["rels"], "rel_id", "leftsemi")
    mn = kept_rel_members.filter(F.col("mtype") == "n").join(
        ids["nodes"], F.col("ref") == F.col("node_id"), "leftsemi"
    )
    mw = kept_rel_members.filter(F.col("mtype") == "w").join(
        ids["ways"], F.col("ref") == F.col("way_id"), "leftsemi"
    )
    mr = kept_rel_members.filter(F.col("mtype") == "r").join(
        ids["rels"].withColumnRenamed("rel_id", "ref_rel"),
        F.col("ref") == F.col("ref_rel"), "leftsemi",
    )
    trimmed = mn.unionByName(mw).unionByName(mr)
    # memberless relations disappear via the inner nature of `trimmed`
    return {"nodes": out_nodes, "way_refs": out_way_refs,
            "rel_members": trimmed}
