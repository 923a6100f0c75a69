"""Cell-partitioned tables: the serving-layout half of the prune story.

SURVEY.md §4 row 1 maps the reference's header-block index + tile files
(readfile.GetHeaderBlock + packeddatastore tile prune) to a table
PARTITIONED on the rounded cell key: a tile/bbox query then turns into a
partition-pruning filter — Spark never opens non-matching files, which is
the distributed analogue of seeking straight to the indexed tile blocks.

Local backend is `partitionBy` parquet; on a real cluster the same calls
target an Iceberg table with `PARTITIONED BY (part_cell)` (identity
transform) and the filter prunes manifests instead of directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.cells import cell_round
from ..qtcore import cover_cells

PART_COL = "part_cell"


def write_cell_partitioned(df: DataFrame, path: str, level: int = 6,
                           cell_col: str = "cell") -> None:
    """Write `df` partitioned by cell_round(cell, level).  Null/invalid
    cells land in partition 0 (the root), mirroring the reference's
    null-qt -> tile 0 rule (update.go:451-456).

    The shuffle on PART_COL before the write is load-bearing: without it
    every task writes a shard into every partition directory (tasks x
    partitions small files — measured 8x slower and 55x more files at
    sf0.1 local[32]); with it each partition value is one task's
    contiguous write.

    Hot-cell skew (one cell holding a large share of the rows — a dense
    metro tile at planet scale) makes that one task a straggler writing
    one unbounded file.  The per-file row cap and salted spread once
    offered for it were set by no caller and measured only on a 32-core
    box (BENCH/HOTCELL_AB.md), so the write keeps one file per cell: the
    fastest shape when cells are balanced, as after tile-group splitting
    (operators/tile_groups.py)."""
    out = df.withColumn(
        PART_COL, cell_round(f"greatest({cell_col}, 0L)", level)
    )
    (out.repartition(PART_COL).write.partitionBy(PART_COL)
     .mode("overwrite").parquet(path))


# (appId, path, dir mtime) -> base DataFrame over the written layout.
# Serving runs issue many pruned scans against the same table; a fresh
# spark.read.parquet per QUERY pays a full driver-side schema inference
# (footer read + partition discovery merge, ~0.25s at sf0.1 — ~3x the
# whole pruned read) plus a fresh file listing (~0.09s).  Reusing one
# base DataFrame per written layout does both once; every per-query
# filter still reaches the shared scan as its own PartitionFilters.
# Keying on the directory mtime keeps overwrites safe: every write path
# (write_cell_partitioned, mode=overwrite at `path`) replaces the
# directory entries, so a rewrite changes the mtime and re-lists.  This
# caches table METADATA for the life of one written layout, never row
# data — every query still reads the parquet files.  100-TB note: the
# production analogue is the table-format catalog (Iceberg manifests),
# which serves exactly this metadata without listing.
_BASE_DF_CACHE: dict = {}


def _table_base_df(spark: SparkSession, path: str) -> DataFrame:
    import os

    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    app = spark.sparkContext.applicationId
    # sessions are sequential in every harness (pytest runs many): drop
    # entries pinned to stopped applications so the cache stays O(paths
    # of the live session)
    for k in [k for k in _BASE_DF_CACHE if k[0] != app]:
        del _BASE_DF_CACHE[k]
    key = (app, path, mtime)
    if key not in _BASE_DF_CACHE:
        _BASE_DF_CACHE[key] = spark.read.parquet(path)
    return _BASE_DF_CACHE[key]


def pruned_tile_scan(spark: SparkSession, path: str, qminx: int, qminy: int,
                     qmaxx: int, qmaxy: int, level: int,
                     cell_buffer: float = 0.05) -> DataFrame:
    """Scan only the partitions whose buffered cover intersects the query
    box, then apply the exact bbox residual.  `level` must equal the level
    the table was written with; `cell_buffer` must match the cell
    calculation buffer.  The isin() literal list reaches the scan as a
    partition filter — check .explain() for PartitionFilters + a pruned
    partition count."""
    cover = [int(c) for c in
             cover_cells(qminx, qminy, qmaxx, qmaxy, level, cell_buffer)]
    df = _table_base_df(spark, path).filter(F.col(PART_COL).isin(cover))
    return df.filter(
        (F.col("minx") <= F.lit(qmaxx)) & (F.col("miny") <= F.lit(qmaxy))
        & (F.col("maxx") >= F.lit(qminx)) & (F.col("maxy") >= F.lit(qminy))
    )
