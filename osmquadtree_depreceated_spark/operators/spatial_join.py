"""Spatial join operators: bbox join, kNN, raster↔vector.

Reference serving path: tile-level prune (cell Bounds with buffer 0.05) then
per-row bbox intersect (/root/reference/packeddatastore/packeddatastore.go:
382-425); kNN is graft-new (north_rule) — cell-neighborhood expansion with a
brute-force fallback oracle.  Point-in-polygon filtering is a one-section
region filter (sources/poly.py::poly_region_filter, filter/poly.go:37-108).

Scale design: query sets (boxes/query points) are small dimension
tables — always broadcast.  The data side is pruned FIRST on the cell key
(partition/file pruning when the table is written partitioned by
cell_round(cell, K)), and only survivors evaluate the exact predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from ..functions.cells import cell_round, with_cell_tuple

# bbox_join's cover depth and the buffer the cells were calculated with
# (0.05, resortwaynodes.go:615)
_PRUNE_LEVEL = 8
_CELL_BUFFER = 0.05
# knn_cell_join's histogram depth
_HIST_LEVEL = 10


def bbox_join(queries: DataFrame, geoms: DataFrame,
              cell_col: str = "cell") -> DataFrame:
    """queries(query_id, qminx, qminy, qmaxx, qmaxy) × geoms(..., minx, miny,
    maxx, maxy[, cell]) -> rows of geoms intersecting each query box.

    Tile prune then residual intersect, mirroring packeddatastore.go:382-425:
    when geoms carries `cell_col`, each query box expands to its buffered
    cover cells at depths <= 8 (qtcore.cover_cells) and the join becomes a
    broadcast EQUI-join on cell_round(cell, 8) — a hash join Catalyst can
    plan, and with a table partitioned/bucketed on the rounded cell key,
    partition/file pruning instead of a scan.  Only cover survivors evaluate
    the exact bbox predicate, so results are identical to the unpruned join
    (the cover set provably contains every intersecting geometry's rounded
    cell).  The cells must have been calculated with buffer 0.05.
    Null/invalid cells round up to the root cover cell and fall back to the
    residual test.

    Without a cell column the join degrades to the broadcast
    nested-loop-with-residual baseline.
    """
    cond = (
        (F.col("minx") <= F.col("qmaxx"))
        & (F.col("miny") <= F.col("qmaxy"))
        & (F.col("maxx") >= F.col("qminx"))
        & (F.col("maxy") >= F.col("qminy"))
    )
    if cell_col in geoms.columns:
        from ..qtcore import cover_cells

        spark = geoms.sparkSession
        qrows = queries.collect()
        qcols = list(queries.columns)
        cand_rows = []
        for r in qrows:
            cover = cover_cells(
                int(r["qminx"]), int(r["qminy"]),
                int(r["qmaxx"]), int(r["qmaxy"]),
                _PRUNE_LEVEL, _CELL_BUFFER,
            )
            base = tuple(r[c] for c in qcols)
            cand_rows.extend(base + (int(c),) for c in cover)
        from pyspark.sql.types import LongType, StructField, StructType

        cand_schema = StructType(
            list(queries.schema.fields)
            + [StructField("__prefix", LongType(), False)]
        )
        cand = spark.createDataFrame(cand_rows, cand_schema)
        rounded = cell_round(f"greatest({cell_col}, 0L)", _PRUNE_LEVEL)
        return (
            geoms.withColumn("__rc", rounded)
            .join(broadcast(cand), F.col("__rc") == F.col("__prefix"),
                  "inner")
            .filter(cond)
            .drop("__rc", "__prefix")
        )
    return geoms.join(broadcast(queries), cond, "inner")


def knn_join(queries: DataFrame, points: DataFrame, k: int,
             lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """k nearest points per query point; distance = squared euclidean on the
    fixed-point integer coords, ties broken by point id ascending (the
    FIXTURES.md golden_knn rule).

    Baseline strategy: broadcast the (small) query set, compute distances
    natively, take top-k per query with a window — one shuffle on query_id,
    no Python.  The cell-neighborhood expansion variant (prune candidates to
    Round(cell, z) rings before the exact distance) plugs in as a candidate
    prefilter when the data side is cell-partitioned; the result contract is
    identical, so this baseline is also its correctness oracle.

    Domain bound (both kNN variants + their SQL oracle share it): dist2 is
    exact int64, which holds for any |delta-lon| <= ~3.03e9 fixed-point
    units (303 degrees); beyond that — near-antipodal spans where planar
    squared-euclidean is geometrically meaningless anyway — the square
    would exceed int64.  Planar fixed-point semantics per FIXTURES.md
    golden_knn (the reference has no spherical kNN).

    queries: (query_id, qlon, qlat); points: (node_id, lon, lat).
    Returns (query_id, rank, node_id, dist2).
    """
    from pyspark.sql.window import Window

    d2 = (
        (F.col(lon_col) - F.col("qlon")) * (F.col(lon_col) - F.col("qlon"))
        + (F.col(lat_col) - F.col("qlat")) * (F.col(lat_col) - F.col("qlat"))
    ).alias("dist2")
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("node_id").asc())
    return (
        points.join(broadcast(queries), F.lit(True))
        .select("query_id", "node_id", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_cell_join(queries, points: DataFrame, k: int,
                  lon_col: str = "lon", lat_col: str = "lat",
                  id_col: str = "node_id", spark=None,
                  plan_capture: list | None = None) -> DataFrame:
    """kNN via cell-neighborhood expansion (graft-new per north_rule) —
    EXACT: returns the same rows as knn_join (ties by id ascending).

    Scale design (driver holds O(queries + occupied level-10 cells), never
    per-point or per-deep-cell state):

      1. ONE coarse histogram — counts per cell_round(cell, 10) —
         is collected (at planet scale this is the tile-group statistic,
         ~10^5 rows at level 10, not the tens of millions of depth-18
         cells).  Prefix counts at any level <= 10 are exact range
         sums over it.
      2. Each query starts at the deepest level <= 10 whose
         enclosing prefix holds >= k candidates.
      3. Escalation rounds are whole-batch DataFrame jobs: candidates =
         one broadcast equi-join on the rounded cell, top-k by window; the
         driver collects ONLY a per-query summary (candidate count + k-th
         distance, O(pending) rows) to run the ball-containment guard —
         if the k-th neighbor's ball pokes outside the prefix's UNBUFFERED
         bounds, that query escalates one level.  No result rows cross the
         driver during the loop.
      4. The final result is ONE lazily-returned DataFrame computed at the
         settled per-query levels — provably equal to brute force (level 0
         degrades to a full scan, and the guard only accepts a prefix that
         provably contains the true k-ball).

    queries: list of (query_id, qlon, qlat) or a small DataFrame (the
    query set is a broadcast dimension by contract).
    """
    import numpy as np

    from ..qtcore import cell_bounds, point_cells_closed_form, round_cells
    from pyspark.sql.window import Window

    if isinstance(queries, DataFrame):
        qrows = [(r[0], r[1], r[2]) for r in queries.collect()]
        spark = spark or queries.sparkSession
    else:
        qrows = list(queries)
    assert spark is not None

    if "cell" in points.columns:
        pts = points
    else:
        from ..functions.cells import with_point_cell

        pts = with_point_cell(points, lon_col, lat_col, "cell", 18)
    pts = pts.cache()

    coarse = cell_round("cell", _HIST_LEVEL)
    hist = (
        pts.groupBy(coarse.alias("ccell"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hcells = np.array([r["ccell"] for r in hist], dtype=np.int64)
    hcounts = np.array([r["n"] for r in hist], dtype=np.int64)
    order = np.argsort(hcells)
    hcells, hcounts = hcells[order], hcounts[order]
    csum = np.concatenate([[0], np.cumsum(hcounts)])

    def _prefix_count(qcell: int, level: int) -> int:
        # contiguous key range of coarse cells under the level-L prefix
        # (valid for L <= _HIST_LEVEL: coarse keys sort within their prefix)
        lo = int(round_cells(np.array([qcell]), level)[0]) & ~31
        width = 1 << (63 - 2 * level)
        lo_i = np.searchsorted(hcells, lo, side="left")
        hi_i = np.searchsorted(hcells, lo + width, side="left")
        return int(csum[hi_i] - csum[lo_i])

    qids = np.array([q[0] for q in qrows], dtype=np.int64)
    qlon = np.array([q[1] for q in qrows], dtype=np.int64)
    qlat = np.array([q[2] for q in qrows], dtype=np.int64)
    qcells = point_cells_closed_form(qlon, qlat, 18)
    qpos = {int(qid): i for i, qid in enumerate(qids)}

    levels = {}
    for i, qid in enumerate(qids):
        lvl = _HIST_LEVEL
        while lvl > 0 and _prefix_count(int(qcells[i]), lvl) < k:
            lvl -= 1
        levels[int(qid)] = lvl

    def _topk(id_set):
        # Group pending queries BY LEVEL so each sub-batch joins on a
        # LITERAL-level rounded cell: `cell_round(cell, L) == prefix` has
        # `cell` only on the left and `prefix` only on the right of `=`,
        # so Catalyst extracts the equi key and plans BroadcastHashJoin
        # (the round-2 mixed-side `lvl` condition forced a
        # BroadcastNestedLoopJoin that re-scanned every point per round).
        # On a cell-partitioned table the same literal key also prunes
        # partitions.  Results are identical: the expression per level is
        # exactly the old CASE with lvl bound to the literal.
        from functools import reduce

        by_level = {}
        for qid_ in id_set:
            by_level.setdefault(levels[qid_], []).append(qid_)
        d2 = (
            (F.col(lon_col) - F.col("qlon"))
            * (F.col(lon_col) - F.col("qlon"))
            + (F.col(lat_col) - F.col("qlat"))
            * (F.col(lat_col) - F.col("qlat"))
        ).alias("dist2")
        parts = []
        for lvl in sorted(by_level):
            rows = []
            for qid_ in by_level[lvl]:
                i = qpos[qid_]
                prefix = int(
                    round_cells(np.array([int(qcells[i])]), lvl)[0]
                )
                rows.append((qid_, int(qlon[i]), int(qlat[i]), prefix))
            bdf = broadcast(spark.createDataFrame(
                rows, "query_id long, qlon long, qlat long, prefix long"
            ))
            cand = pts.join(
                bdf, cell_round("cell", lvl) == F.col("prefix"), "inner"
            )
            parts.append(cand.select("query_id", id_col, d2))
        allc = reduce(lambda a, b: a.unionByName(b), parts)
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist2").asc(), F.col(id_col).asc()
        )
        res = (
            allc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        if plan_capture is not None:  # test hook: physical plan per round
            plan_capture.append(res._jdf.queryExecution().toString())
        return res

    pending = {int(q) for q in qids}
    while pending:
        # O(pending)-row summary: candidate count + k-th distance per query
        summary = {
            r["query_id"]: (r["n"], r["dk"])
            for r in _topk(pending)
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"), F.max("dist2").alias("dk"))
            .collect()
        }
        for qid_ in list(pending):
            lvl = levels[qid_]
            if qid_ not in summary:
                if lvl == 0:
                    pending.discard(qid_)  # no points at all
                else:
                    levels[qid_] = lvl - 1
                continue
            n, dk = summary[qid_]
            i = qpos[qid_]
            prefix = int(round_cells(np.array([int(qcells[i])]), lvl)[0])
            radius = int(np.ceil(np.sqrt(float(dk))))
            bx = cell_bounds(np.array([prefix]), 0.0)
            # +/-1 unit margin: cell_bounds rounds to fixed-point, so
            # shrink the containment test conservatively (escalation is
            # always safe)
            ball_inside = (
                int(qlon[i]) - radius >= bx[0][0] + 1
                and int(qlat[i]) - radius >= bx[1][0] + 1
                and int(qlon[i]) + radius <= bx[2][0] - 1
                and int(qlat[i]) + radius <= bx[3][0] - 1
            )
            if lvl == 0 or (ball_inside and n == k):
                pending.discard(qid_)
            else:
                levels[qid_] = lvl - 1

    # one final whole-batch pass at the settled levels; result rows never
    # visit the driver (localCheckpoint materializes the tiny k*|queries|
    # output executor-side).  Pinning it BEFORE unpersisting pts keeps the
    # output computed from the exact snapshot the ball-containment guard
    # validated, and frees the cache so long multi-query sessions don't
    # accumulate pinned tables.
    out = _topk(sorted(qpos)).select(
        "query_id", "rank", id_col, "dist2"
    ).localCheckpoint(eager=True)
    pts.unpersist()
    return out


def raster_vector_join(geom_cells: DataFrame, zoom: int,
                       cell_col: str = "cell") -> DataFrame:
    """Geometry cells -> raster tile keys at `zoom`: round each cell to the
    zoom level and emit slippy (x, y, z) (quadtree.go:181-213) — the
    raster-tile↔vector join key.  Cells shallower than `zoom` stay at their
    own depth (they cover multiple tiles; a cover-expansion explode is the
    scale path and is exercised in tests).  Fully native."""
    rounded = cell_round(cell_col, zoom)
    df = geom_cells.withColumn("tile_cell", rounded)
    return with_cell_tuple(df, "tile_cell", prefix="tile_")
