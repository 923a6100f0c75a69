"""Snapshot + lineage bookkeeping: every pipeline stage lands in a
snapshot-committed table with per-file lineage rows, and a killed job
resumes from the last committed stage without recomputation.

Local backend: Parquet directories + atomically-renamed JSON manifests (the
rename is the commit point — a kill before it leaves the stage uncommitted
and it simply rebuilds).  The API is Iceberg-shaped on purpose: on a real
cluster `write` maps to `df.writeTo(table).createOrReplace()` (snapshot id =
Iceberg snapshot), `has/read` to catalog lookups, and the lineage table to a
plain appended Iceberg table.  Mirrors the role of the reference's
LocationsCache + tile files (/root/reference/locationscache/
locationscache.go:32-54, update/update.go:343-472): the store IS the
id->tile index that incremental update reads.

A commit runs no Spark job beyond the write itself and, when it
overwrites an existing stage, the checkpoint before it — a scan-only
frame commits in one job, two on overwrite:
  * lineage rows are per data file, in the shape of an Iceberg data-file
    manifest entry: (stage, file, row_count, cell_min, cell_max, bytes,
    snapshot_id) ~ (file_path, record_count, lower_bounds/upper_bounds of
    the cell column, file_size_in_bytes).  They come from the Parquet
    footers the write just produced, read on the driver — no Spark job;
  * the stage checksum comes from a `DataFrame.observe` on the frame being
    written, so the write job computes it in passing.  It is `row_checksum`
    — an order-insensitive sum of per-row xxhash64 over all columns — so
    two runs of a deterministic stage compare cheaply, and q58 re-derives
    it from the stored Parquet with the same definition;
  * the manifest records the commit's own metrics: row_count, checksum,
    files, bytes and wall_ms.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def row_checksum(cols) -> Column:
    """The ONE definition of the stage checksum: per-row xxhash64 over
    `cols`, folded to 32 bits before an order-insensitive sum so the int64
    sum cannot overflow under ANSI mode (below 2^31 rows).  NULL over no
    rows.  Observed by SnapshotStore.write at record time and recomputed by
    the q58 gate over the stored Parquet."""
    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 32)))


def _data_files(data_dir: str) -> list:
    return sorted(
        fn for fn in os.listdir(data_dir)
        if not fn.startswith(("_", ".")) and fn.endswith(".parquet")
    )


def _footer_bounds(md, col: str | None) -> tuple:
    """(min, max) of `col` over a file's row-group statistics; NULL when
    the column is absent, the file has no rows or every value is NULL."""
    lo = hi = None
    if col is None:
        return lo, hi
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            c = rg.column(j)
            if c.path_in_schema != col:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "_lineage"), exist_ok=True)

    # ------------------------------------------------------------- paths
    def _data_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, "_manifests", f"{stage}.json")

    # ---------------------------------------------------------- contract
    def has(self, stage: str) -> bool:
        return os.path.exists(self._manifest_path(stage))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self._data_dir(stage))

    def write(self, spark: SparkSession, stage: str, df: DataFrame,
              cell_col: str | None = "cell") -> DataFrame:
        """Materialize `df` as the stage's snapshot with no job beyond the
        write: observe the row count and `row_checksum` while writing, take one
        lineage row per data file from its Parquet footer, then atomically
        commit the manifest.  Returns the stored frame, read with `df`'s
        schema so no schema-inference job runs."""
        t0 = time.time()
        data_dir = self._data_dir(stage)
        existed = os.path.isdir(data_dir)
        if existed and os.listdir(data_dir):
            # overwrite of an EXISTING stage = the replay/self-heal
            # window, where df's lazy plan may read the very files this
            # overwrite is about to delete (a replayed batch derives its
            # outputs from the stage it previously committed).  Eagerly
            # materialize the plan while the old files still exist, so
            # the write neither dies FILE_NOT_EXIST nor silently re-reads
            # half-overwritten data.  Paid only on overwrites; on a real
            # cluster prefer a reliable checkpoint dir to localCheckpoint
            # if executor loss during recovery is a concern.
            df = df.localCheckpoint(eager=True)
        obs = Observation()
        df.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            row_checksum(df.columns).alias("checksum"),
        ).write.mode("overwrite").parquet(data_dir)
        if existed:
            # drop the shared file-index cache entry for the path — a
            # reader that listed the pre-overwrite files would otherwise
            # die FILE_NOT_EXIST on the deleted parts.  A directory that
            # did not exist before this write was never listed, so it has
            # no entry to drop.
            spark.catalog.refreshByPath(data_dir)
        observed = obs.get

        col = cell_col if cell_col in df.columns else None
        snapshot_id = int(time.time() * 1000)
        lineage_rows = []
        for fn in _data_files(data_dir):
            path = os.path.join(data_dir, fn)
            md = pq.read_metadata(path)
            lo, hi = _footer_bounds(md, col)
            lineage_rows.append({
                "stage": stage, "file": fn, "row_count": md.num_rows,
                "cell_min": lo, "cell_max": hi,
                "bytes": os.path.getsize(path), "snapshot_id": snapshot_id,
            })
        row_count = sum(r["row_count"] for r in lineage_rows)
        if row_count != observed["rows"]:
            raise RuntimeError(
                f"stage {stage}: the data files hold {row_count} rows but "
                f"the write observed {observed['rows']}; not committing"
            )
        with open(
            os.path.join(self.root, "_lineage", f"{stage}.{snapshot_id}.json"),
            "w",
        ) as f:
            json.dump(lineage_rows, f)

        manifest = {
            "stage": stage,
            "snapshot_id": snapshot_id,
            "row_count": row_count,
            "checksum": (observed["checksum"] or 0) % (1 << 63),
            "files": len(lineage_rows),
            "bytes": sum(r["bytes"] for r in lineage_rows),
            "wall_ms": int((time.time() - t0) * 1000),
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, self._manifest_path(stage))  # the commit point
        return spark.read.schema(df.schema).parquet(data_dir)

    def run_stage(self, spark: SparkSession, stage: str, builder,
                  cell_col: str | None = "cell") -> DataFrame:
        """Resume-aware stage execution: committed stages are read back
        (skipping recompute); uncommitted ones build + snapshot."""
        if self.has(stage):
            return self.read(spark, stage)
        return self.write(spark, stage, builder(), cell_col)

    def invalidate(self, stage: str) -> None:
        """Drop a stage's commit (its data dir may remain; it will be
        overwritten on rebuild)."""
        p = self._manifest_path(stage)
        if os.path.exists(p):
            os.remove(p)

    def lineage_rows(self, stage: str) -> list:
        out = []
        d = os.path.join(self.root, "_lineage")
        for fn in sorted(os.listdir(d)):
            if fn.startswith(stage + "."):
                with open(os.path.join(d, fn)) as f:
                    out.extend(json.load(f))
        return out


def calcqts_pipeline(spark: SparkSession, store: SnapshotStore,
                     nodes: DataFrame, way_refs: DataFrame,
                     rel_members: DataFrame | None = None,
                     buffer: float = 0.05, max_level: int = 18) -> dict:
    """The full calcqts pipeline as resumable snapshot stages (SURVEY.md
    §3.2 as four committed tables).  Each stage reads the previous stage's
    SNAPSHOT, not its logical plan — so a kill between stages resumes
    exactly at the first uncommitted stage."""
    from ..operators.calcqts import (
        node_cells, relation_cells, way_bboxes, way_cells,
    )

    wb = store.run_stage(
        spark, "way_bbox", lambda: way_bboxes(way_refs, nodes, salt_buckets=0),
        cell_col=None,
    )
    wc = store.run_stage(
        spark, "way_cells", lambda: way_cells(wb, buffer, max_level)
    )
    nc = store.run_stage(
        spark, "node_cells",
        lambda: node_cells(nodes, way_refs, wc, buffer, max_level),
    )
    out = {"way_bbox": wb, "way_cells": wc, "node_cells": nc}
    if rel_members is not None:
        out["rel_cells"] = store.run_stage(
            spark, "rel_cells",
            lambda: relation_cells(rel_members, wc, nc),
        )
    return out
