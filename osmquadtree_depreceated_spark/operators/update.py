"""Incremental change-merge operators.

Reference semantics:
  * filterLastObj — keep only the newest version of each element in a change
    batch (/root/reference/update/update.go:69-110);
  * MergeOrigAndChange — apply a merged change stream to the base stream
    with Delete/Modify/Create semantics (/root/reference/change/
    mergechange.go:18-65): Delete drops the base row, Modify/Create replace
    it, Create of an unseen key inserts.

Both are pure relational ops: a window dedup, then the base LEFT JOIN the
change-sized newest rows plus the changes of unseen keys — the base is
streamed, not shuffled.  At production scale the same semantics run as
`MERGE INTO` against the snapshot-versioned table (plans/lineage.py),
reading only affected cell partitions (update.go:343-472)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

CT_DELETE = "delete"
CT_MODIFY = "modify"
CT_CREATE = "create"


def calc_update_tiles(nodes: DataFrame, way_refs: DataFrame,
                      way_cells_df: DataFrame, node_cells_df: DataFrame,
                      node_changes: DataFrame, buffer: float = 0.05,
                      max_level: int = 18, group_level: int = 12,
                      store=None, batch_id: str | None = None,
                      missing_node_cap: int | None = None) -> dict:
    """CalcUpdateTiles end-to-end (update/update.go:343-540 +
    locationscache FindTiles): apply a node-change batch and recompute
    cells for ONLY the affected elements, producing tables identical to a
    full recompute over the merged input (the q33 oracle checks exactly
    that).

    Dataflow (every step joins or aggregates against one of the
    change-sized sets, so its work scales with the batch; a base table
    is streamed through a join with such a set, not shuffled whole):

      1. latest changes    = newest change per node (filterLastObj),
                             computed ONCE and materialized
      2. merged nodes      = Delete/Modify/Create semantics over those
                             rows (mergechange.go; `merge_changes`' plan)
      3. affected ways     = ways referencing any changed node (FindTiles'
                             id -> tile lookup, here id -> way semi-join),
                             materialized
      4. affected nodes    = changed nodes + every node of an affected way,
                             minus deleted ones (update.go:459-472 nqts),
                             materialized
      5. their way cells   = bbox over merged locations -> buffered descent
                             (update.go:412-457); ways left with no nodes
                             drop (matching the full-recompute pipeline)
      6. merged way cells  = old (anti-join affected) UNION new — with
                             `store`, committed here as way_cells@{batch_id}
                             and every later step reads that snapshot
      7. their node cells  = Common over parent-way cells from the MERGED
                             way-cell table, point-box fallback
      8. merged node cells = old (anti-join touched) UNION new — with
                             `store`, committed as node_cells@{batch_id}
      9. affected tiles    = distinct cell_round(old + new cells of touched
                             elements, group_level) — the tile set a tiled
                             store must rewrite

    The three change-sized sets (1, 3, 4) are each computed once with an
    eager localCheckpoint; every consumer reads the checkpoint instead of
    re-running its plan.

    node_changes: (node_id, seq, change_type in delete/modify/create, lon,
    lat).  Returns dict(nodes, way_cells, node_cells, affected_ways,
    affected_nodes, affected_tiles, missing_refs) — missing_refs is the
    LAZY anti-join DataFrame of affected-way members with no location
    after the merge (count it to get the reference's guard number; it is
    only counted internally when missing_node_cap is set).  With
    `store`, the merged cell tables commit as snapshot stages
    way_cells@{batch_id} / node_cells@{batch_id} (resumable;
    plans/lineage.py) and are returned as read back from them.
    """
    from ..functions.cells import cell_round
    from .calcqts import node_cells as _node_cells
    from .calcqts import way_bboxes, way_cells as _way_cells

    val_cols = ("lon", "lat")
    latest = _latest_changes(
        node_changes, "node_id", "change_type", "seq", val_cols,
    ).localCheckpoint(eager=True)
    merged_nodes = _merge_latest(
        nodes, latest, "node_id", "change_type", val_cols,
    )
    changed_ids = latest.select("node_id")
    deleted_ids = (
        latest.filter(F.col("change_type") == CT_DELETE).select("node_id")
    )

    affected_ways = (
        way_refs.join(
            changed_ids, way_refs["ref"] == changed_ids["node_id"],
            "left_semi",
        )
        .select("way_id")
        .distinct()
    ).localCheckpoint(eager=True)
    aff_refs = way_refs.join(affected_ways, "way_id", "left_semi")
    affected_nodes = (
        aff_refs.select(F.col("ref").alias("node_id"))
        .unionByName(changed_ids)
        .distinct()
        .join(deleted_ids, "node_id", "left_anti")
    ).localCheckpoint(eager=True)
    # every element whose node cell may change or vanish
    touched_nodes = affected_nodes.unionByName(changed_ids)
    # the merged rows every affected-way member can join: a member that
    # is not an affected node was deleted, so it has no merged row either
    aff_node_rows = merged_nodes.join(affected_nodes, "node_id", "left_semi")
    # Missing-node accounting (update.go:425-437): the reference logs
    # every way member whose location is absent after the merge and
    # PANICS at 100 — a corruption guard on the location cache.  The
    # distributed analogue is an anti-join over the affected subset only
    # (O(changed), not O(base)), returned LAZILY as the `missing_refs`
    # DataFrame over the change-sized sets, which were materialized
    # above when this function was called; counting it is an extra
    # Spark action only when a cap is enforced or the caller counts it.  Cap defaults to None because legitimately
    # deleting a still-referenced node also counts as missing (in the
    # reference too) and synthetic fixtures do that freely; production
    # runs against a trusted cache pass cap=100.
    missing_refs = aff_refs.join(
        aff_node_rows, aff_refs["ref"] == aff_node_rows["node_id"],
        "left_anti",
    )
    if missing_node_cap is not None:
        n_missing = missing_refs.count()
        if n_missing >= missing_node_cap:
            raise RuntimeError(
                f"too many missing nodes: {n_missing} affected-way "
                f"members have no location after the merge (cap "
                f"{missing_node_cap}; reference panics at 100, "
                "update.go:432-437) — location cache and change feed "
                "disagree"
            )
    new_wc = _way_cells(
        way_bboxes(aff_refs, aff_node_rows, salt_buckets=0),
        buffer, max_level,
    )
    merged_wc = (
        way_cells_df.join(affected_ways, "way_id", "left_anti")
        .unionByName(new_wc)
    )
    bid = batch_id or "b1"
    spark = nodes.sparkSession
    if store is not None:
        merged_wc = store.run_stage(
            spark, f"way_cells@{bid}", lambda: merged_wc
        )
        new_wc = merged_wc.join(affected_ways, "way_id", "left_semi")

    # parents of affected nodes only; Common over MERGED way cells
    parent_refs = way_refs.join(
        affected_nodes, way_refs["ref"] == affected_nodes["node_id"],
        "left_semi",
    )
    new_nc = _node_cells(
        aff_node_rows, parent_refs, merged_wc, buffer, max_level,
    )
    merged_nc = (
        node_cells_df.join(touched_nodes, "node_id", "left_anti")
        .unionByName(new_nc)
    )
    if store is not None:
        merged_nc = store.run_stage(
            spark, f"node_cells@{bid}", lambda: merged_nc
        )
        new_nc = merged_nc.join(affected_nodes, "node_id", "left_semi")

    old_cells = (
        way_cells_df.join(affected_ways, "way_id", "left_semi")
        .select("cell")
        .unionByName(
            node_cells_df.join(touched_nodes, "node_id", "left_semi")
            .select("cell")
        )
    )
    new_cells = new_wc.select("cell").unionByName(new_nc.select("cell"))
    affected_tiles = (
        old_cells.unionByName(new_cells)
        .filter(F.col("cell") >= 0)
        .select(cell_round("cell", group_level).alias("tile_cell"))
        .distinct()
    )
    return {
        "nodes": merged_nodes,
        "way_cells": merged_wc,
        "node_cells": merged_nc,
        "affected_ways": affected_ways,
        "affected_nodes": affected_nodes,
        "affected_tiles": affected_tiles,
        "missing_refs": missing_refs,
    }


def latest_version(df: DataFrame, key_cols, order_cols) -> DataFrame:
    """Newest row per key (filterLastObj, update.go:69-110).  order_cols are
    (column, 'asc'|'desc') pairs; add a unique tiebreaker for determinism."""
    order = [
        F.col(c).desc() if d == "desc" else F.col(c).asc()
        for c, d in order_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def asof_join(left: DataFrame, right: DataFrame, key_cols,
              left_ts: str, right_ts: str, right_cols,
              tiebreak_cols=(), how: str = "left") -> DataFrame:
    """As-of join: for every left row, the newest right row with
    right_ts <= left_ts on the same key (the point-in-time lookup the
    reference answers by replaying a change stream up to a timestamp —
    filterLastObj over the prefix, update.go:69-110 — generalized to
    per-probe timestamps).

    Spark-first plan: UNION both sides tagged (right=0 sorts before
    left=1 at equal ts, so equality is inclusive), one window per key
    ordered (ts, side, *tiebreaks), and `last(_r, ignorenulls=True)`
    carries the newest right payload forward; among equal-ts right rows
    the greatest tiebreak tuple wins (ascending sort -> last seen).  The
    payload travels as ONE struct, so genuinely-NULL right values never
    fall through to an older row.  Cost: a single shuffle on key_cols —
    no pair blow-up, no range-join BNLJ; skew behaves like any keyed
    window (AQE skew split / salting apply unchanged).  At 100 TB this
    beats the naive `left join .. on ts <= pts` + row_number plan (the
    oracle's formulation), whose join is quadratic per hot key.

    how='left' keeps probe rows with no prior right row (NULL payload);
    how='inner' drops them.
    """
    key_cols = list(key_cols)
    right_cols = list(right_cols)
    tiebreak_cols = list(tiebreak_cols)
    reserved = {"_ts", "_side", "_r", "_match"} | {
        f"_tb{i}" for i in range(len(tiebreak_cols))
    }
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(f"asof_join reserved column names in input: "
                         f"{sorted(clash)}")
    overlap = set(right_cols) & set(key_cols)
    if overlap:
        raise ValueError(f"right_cols duplicate key columns: "
                         f"{sorted(overlap)}")
    payload = F.struct(*[F.col(c) for c in right_cols])
    left_keep = [c for c in left.columns
                 if c not in key_cols and c != left_ts]
    r_side = right.select(
        *key_cols,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tiebreak_cols)],
        payload.alias("_r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_keep],
    )
    l_side = left.select(
        *key_cols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_tb{i}")
          for i, c in enumerate(tiebreak_cols)],
        F.lit(None).cast(r_side.schema["_r"].dataType).alias("_r"),
        *left_keep,
    )
    order = [F.col("_ts").asc(), F.col("_side").asc()] + [
        F.col(f"_tb{i}").asc() for i in range(len(tiebreak_cols))
    ]
    w = (
        Window.partitionBy(*key_cols).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        r_side.unionByName(l_side)
        .withColumn("_match", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    if how == "inner":
        filled = filled.filter(F.col("_match").isNotNull())
    elif how != "left":
        raise ValueError(f"unsupported how={how!r}")
    return filled.select(
        *key_cols,
        F.col("_ts").alias(left_ts),
        *left_keep,
        *[F.col(f"_match.{c}").alias(c) for c in right_cols],
    )


def asof_lookup(left: DataFrame, right_small: DataFrame, key_cols,
                left_ts: str, right_ts: str, right_cols,
                tiebreak_cols=(), how: str = "left") -> DataFrame:
    """As-of join for a SMALL right side (a slowly-changing dimension):
    value-identical to `asof_join`, but the big left side never
    shuffles.  The dimension is collapsed to one row per key holding its
    history as a SORTED array of (ts, *tiebreaks, payload) structs, that
    tiny table is broadcast, and a higher-order `filter` + `element_at
    (…, -1)` picks the newest entry at or before each probe — all
    native expressions, zero exchanges on the fact table.  At 100 TB
    this is the plan for enriching a fact stream against versioned
    reference data: `asof_join`'s one shuffle moves the facts;
    this moves only the dimension history.

    Ties at equal right_ts resolve exactly as in `asof_join` (greatest
    tiebreak tuple wins — the array sorts ascending and the pick takes
    the last qualifying entry).  Per-key history must fit in one array
    (the same bound a broadcast requires anyway)."""
    key_cols = list(key_cols)
    right_cols = list(right_cols)
    tiebreak_cols = list(tiebreak_cols)
    reserved = {"_entries", "_t", "_p", "_pick"} | {
        f"_b{i}" for i in range(len(tiebreak_cols))
    }
    clash = reserved & (set(left.columns) | set(right_small.columns))
    if clash:
        raise ValueError(f"asof_lookup reserved column names in input: "
                         f"{sorted(clash)}")
    if set(right_cols) & set(key_cols):
        raise ValueError("right_cols duplicate key columns")
    entry = F.struct(
        F.col(right_ts).alias("_t"),
        *[F.col(c).alias(f"_b{i}") for i, c in enumerate(tiebreak_cols)],
        F.struct(*[F.col(c) for c in right_cols]).alias("_p"),
    )
    dim = (
        right_small.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(entry)).alias("_entries"))
    )
    joined = left.join(F.broadcast(dim), key_cols, "left")
    # try_element_at: an all-future history (or an unmatched key's NULL
    # array) filters to empty and must yield NULL, not error
    pick = F.try_element_at(
        F.filter("_entries", lambda e: e["_t"] <= F.col(left_ts)),
        F.lit(-1),
    )
    out = joined.withColumn("_pick", pick)
    if how == "inner":
        out = out.filter(F.col("_pick").isNotNull())
    elif how != "left":
        raise ValueError(f"unsupported how={how!r}")
    return out.select(
        *[c for c in left.columns],
        *[F.col("_pick._p").getField(c).alias(c) for c in right_cols],
    )


def merge_changes(base: DataFrame, changes: DataFrame, key: str,
                  ct_col: str = "change_type", seq_col: str = "seq",
                  val_cols=("val",)) -> DataFrame:
    """Apply a change batch to a base table (mergechange.go:18-65).

    base: (key, *val_cols); changes: (key, seq, change_type, *val_cols).
    The newest change per key wins (filterLastObj), then:
      delete -> row removed; modify/create -> change values replace base;
      keys without changes pass through; a change of an unseen key that
      is not a delete inserts the key (with NULL values unless it is a
      modify/create).
    """
    return _merge_latest(
        base, _latest_changes(changes, key, ct_col, seq_col, val_cols),
        key, ct_col, val_cols,
    )


def _latest_changes(changes: DataFrame, key: str, ct_col: str,
                    seq_col: str, val_cols) -> DataFrame:
    """The newest change per key.  Equal-seq ties break by the full (seq,
    change_type, values...) tuple descending — the identical total order
    the streaming filterLastObj (streaming/changes.py
    stream_latest_version) applies, so batch and incremental paths always
    pick the same winner."""
    return latest_version(
        changes, [key],
        [(seq_col, "desc"), (ct_col, "desc")]
        + [(v, "desc") for v in val_cols],
    )


def _merge_latest(base: DataFrame, last: DataFrame, key: str, ct_col: str,
                  val_cols) -> DataFrame:
    """`merge_changes` over change rows already reduced to one per key.

    The base rows LEFT JOIN the change-sized rows, plus the change rows
    whose key the base lacks (found by a semi-join of the base keys
    against them).  The change side is the small side of both joins, so
    Spark broadcasts it and streams the base instead of shuffling it — a
    full outer join shuffles both sides."""
    keep = F.col(f"c.{ct_col}").isNull() | (F.col(f"c.{ct_col}") != CT_DELETE)
    replace = F.col(f"c.{ct_col}").isin(CT_MODIFY, CT_CREATE)
    kept = (
        base.alias("b")
        .join(last.alias("c"), F.col(f"b.{key}") == F.col(f"c.{key}"),
              "left")
        .filter(keep)
        .select(
            F.col(f"b.{key}").alias(key),
            *[F.when(replace, F.col(f"c.{v}")).otherwise(F.col(f"b.{v}"))
              .alias(v) for v in val_cols],
        )
    )
    base_keys = base.select(key).join(last.select(key), key, "left_semi")
    inserted = (
        last.join(base_keys, key, "left_anti").alias("c")
        .filter(keep)
        .select(
            F.col(f"c.{key}").alias(key),
            *[F.when(replace, F.col(f"c.{v}"))
              .otherwise(F.lit(None).cast(base.schema[v].dataType))
              .alias(v) for v in val_cols],
        )
    )
    return kept.unionByName(inserted)
