"""Incremental change feeds: batch-incremental (the reference's daily-diff
model) and Structured Streaming micro-batches.

Reference semantics chain: filterLastObj (newest version per element in a
batch, update.go:69-110) -> MergeOrigAndChange (delete/modify/create apply,
mergechange.go:18-65) -> recompute affected tiles only (update.go:343-472).
Here each applied batch commits a new snapshot in the SnapshotStore, so the
stream is resumable: a killed consumer re-reads the last committed snapshot
and (with checkpointed offsets) replays only unapplied batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.update import merge_changes
from ..plans.lineage import SnapshotStore


def apply_change_batches(spark: SparkSession, store: SnapshotStore,
                         base_stage: str, batches, key: str = "key",
                         ct_col: str = "change_type", seq_col: str = "seq",
                         val_cols=("val",), cell_col=None) -> DataFrame:
    """Apply change batches in order, committing a snapshot per batch
    (stages `{base_stage}@1..N`).  Resume: already-committed batch stages
    are skipped, mirroring snapshot-checkpointed MERGE INTO."""
    cur = store.read(spark, base_stage)
    for i, batch in enumerate(batches, start=1):
        stage = f"{base_stage}@{i}"
        if store.has(stage):
            cur = store.read(spark, stage)
            continue
        cur = store.write(
            spark, stage,
            merge_changes(cur, batch, key, ct_col, seq_col, val_cols),
            cell_col,
        )
    return cur


def stream_apply_changes(spark: SparkSession, store: SnapshotStore,
                         base_stage: str, stream_df: DataFrame,
                         checkpoint_dir: str, key: str = "key",
                         ct_col: str = "change_type", seq_col: str = "seq",
                         val_cols=("val",)):
    """Structured Streaming consumer: each micro-batch of change rows merges
    into the current snapshot via foreachBatch (the canonical
    stream-into-table upsert shape; with Iceberg this body is a single
    MERGE INTO).  Offsets checkpoint to `checkpoint_dir`, snapshots commit
    per batch — both sides of the resume story."""

    def _apply(batch_df: DataFrame, batch_id: int):
        stage = f"{base_stage}@s{batch_id}"
        if store.has(stage) or batch_df.isEmpty():
            return
        # find latest committed state
        cur = store.read(spark, _latest_stage(store, base_stage))
        store.write(spark, stage,
                    merge_changes(cur, batch_df, key, ct_col, seq_col,
                                  val_cols), None)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_update_tiles(spark: SparkSession, store: SnapshotStore,
                        base_stage: str, way_refs: DataFrame,
                        stream_df: DataFrame, checkpoint_dir: str,
                        buffer: float = 0.05, max_level: int = 18,
                        group_level: int = 12, transform=None,
                        maintain_pyramid: bool = False):
    """STREAMING CalcUpdateTiles: each micro-batch of node changes runs the
    full incremental pipeline (operators/update.calc_update_tiles —
    merge/affected-set/cell-recompute, update.go:343-540) against the
    latest committed snapshot of the nodes / way-cell / node-cell tables,
    then commits the merged tables plus the batch's affected-tile set as
    the next snapshot stages.  Incremental-across-batches == one full
    recompute over the merged input (asserted in pytest against the q33
    oracle logic).

    Requires base stages `{base_stage}_nodes`, `{base_stage}_wc`,
    `{base_stage}_nc` committed before starting.  stream_df: streaming
    (node_id, seq, change_type, lon, lat) — or any streaming source plus
    a `transform` mapping each micro-batch DataFrame to that shape (e.g.
    a binaryFile stream of .osc diffs through
    sources.osc.parse_osc_content + osc_node_changes).  Offsets
    checkpoint to `checkpoint_dir`; already-committed batch stages are
    skipped on replay — both halves of exactly-once resume.

    `maintain_pyramid=True` additionally keeps the q69 serving-stats
    pyramid current per batch (signed delta over the affected ways
    folded into the latest `{base_stage}_pyr` snapshot, which must be
    committed up front)."""
    from ..operators.update import calc_update_tiles

    def _apply(batch_df: DataFrame, batch_id: int):
        stage = f"{base_stage}_nodes@s{batch_id}"
        if store.has(stage) or batch_df.isEmpty():
            return
        if transform is not None:
            batch_df = transform(batch_df)
        nodes = store.read(spark, _latest_stage(store,
                                                f"{base_stage}_nodes"))
        wc = store.read(spark, _latest_stage(store, f"{base_stage}_wc"))
        nc = store.read(spark, _latest_stage(store, f"{base_stage}_nc"))
        out = calc_update_tiles(
            nodes, way_refs, wc, nc, batch_df,
            buffer=buffer, max_level=max_level, group_level=group_level,
        )
        if store.has(f"{base_stage}_wc@s{batch_id}"):
            # REPLAY of a crashed batch: the latest wc/nc stages are this
            # batch's own committed outputs, so every `out` plan reads
            # the very files the re-writes below overwrite.  Materialize
            # them while the old files still exist; the writes then can
            # neither die FILE_NOT_EXIST nor re-read half-overwritten
            # data.  First attempts (inputs = previous batch's stages)
            # skip this — no extra cost on the happy path.  The
            # change-sized sets (affected_ways, affected_nodes) are
            # already materialized by calc_update_tiles.
            out = {
                k: (v.localCheckpoint(eager=True)
                    if k in ("nodes", "way_cells", "node_cells",
                             "affected_tiles") else v)
                for k, v in out.items()
            }
        store.write(spark, f"{base_stage}_wc@s{batch_id}",
                    out["way_cells"], "cell")
        store.write(spark, f"{base_stage}_nc@s{batch_id}",
                    out["node_cells"], "cell")
        store.write(spark, f"{base_stage}_tiles@s{batch_id}",
                    out["affected_tiles"], None)
        if maintain_pyramid:
            # serving-stats pyramid maintained per batch, q69-style:
            # the signed affected-way delta (operators/tile_groups.py::
            # pyramid_delta) folded into the latest committed pyramid
            # (requires base `{base_stage}_pyr` committed up front).
            #
            # The OLD-side baseline is the wc stage PAIRED with the
            # pyramid's own latest stage — NOT the global latest wc: on a
            # crash-replay after wc@s{b} committed but pyr@s{b} didn't,
            # the global latest wc is already the post-batch table and a
            # delta against it would net to zero, silently dropping the
            # batch from the pyramid forever.  The paired read keeps the
            # replay delta identical to the first attempt (and a replay
            # after BOTH committed folds a zero delta onto pyr@s{b} —
            # overwrite-idempotent self-heal).  Both sides read the
            # already-materialized parquet stages, so the delta job never
            # re-runs the update DAG.
            from ..operators.tile_groups import pyramid_delta, pyramid_merge

            pyr_stage = _latest_stage(store, f"{base_stage}_pyr")
            suffix = pyr_stage[len(f"{base_stage}_pyr"):]
            wc_baseline = store.read(spark, f"{base_stage}_wc{suffix}")
            wc_after = store.read(spark, f"{base_stage}_wc@s{batch_id}")
            delta = pyramid_delta(
                wc_baseline.select("way_id", "cell"),
                wc_after.select("way_id", "cell"),
                out["affected_ways"], "way_id", "cell", max_level,
                sum_cols=("way_id",),
            )
            store.write(spark, f"{base_stage}_pyr@s{batch_id}",
                        pyramid_merge(store.read(spark, pyr_stage), delta),
                        "level")
        # nodes stage last: its presence marks the batch fully committed
        # (the skip guard above keys on it)
        store.write(spark, stage, out["nodes"], None)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_rollup(events_stream: DataFrame, ts_col: str = "ts",
                           window_dur: str = "1 hour",
                           watermark: str = "2 hours",
                           type_col: str = "event_type") -> DataFrame:
    """Streaming variant of the q28 tumbling-window rollup: watermarked
    event-time windows, so late rows inside the watermark still update
    their window and rows later than it are dropped — the canonical
    late-data story.  In append output mode a window finalizes (emits) once
    the watermark passes its end."""
    from pyspark.sql import functions as F

    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_dur).alias("w"), F.col(type_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .select(
            F.col("w.start").alias("win_start"), type_col, "n",
            "min_id", "max_id",
        )
    )


def stream_latest_version(changes_stream: DataFrame) -> DataFrame:
    """Custom stateful operator: the STREAMING filterLastObj
    (update.go:69-110 across micro-batches) via applyInPandasWithState —
    per-key state holds the newest (seq, change_type, val) seen so far;
    each batch emits the keys it changed with their current newest row.
    State is O(live keys), partitioned by key — the scale axis.

    changes_stream: (key long, seq long, change_type string, val double).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _newest(key, pdfs, state):
        best = state.get if state.exists else None  # (seq, ct, val)
        for pdf in pdfs:
            if not len(pdf):
                continue
            # deterministic total order: equal-seq ties break by the full
            # (seq, change_type, val) tuple, so the winner never depends
            # on micro-batch arrival order — the same tuple order batch
            # latest_version applies.  Vectorized: one lexicographic sort
            # per batch, no per-row Python.
            top = pdf.sort_values(
                ["seq", "change_type", "val"], kind="mergesort"
            ).iloc[-1]
            cand = (int(top.seq), str(top.change_type), float(top.val))
            if best is None or cand > tuple(best):
                best = cand
        if best is not None:
            state.update(best)
            yield pd.DataFrame(
                [{"key": int(key[0]), "seq": best[0],
                  "change_type": best[1], "val": best[2]}]
            )

    return changes_stream.groupBy("key").applyInPandasWithState(
        _newest,
        "key long, seq long, change_type string, val double",
        "seq long, change_type string, val double",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _latest_stage(store: SnapshotStore, base_stage: str) -> str:
    import os

    best, best_sid = base_stage, store.manifest(base_stage)["snapshot_id"]
    mdir = os.path.join(store.root, "_manifests")
    for fn in os.listdir(mdir):
        if fn.startswith(base_stage + "@") and fn.endswith(".json"):
            stage = fn[: -len(".json")]
            sid = store.manifest(stage)["snapshot_id"]
            if sid > best_sid:
                best, best_sid = stage, sid
    return best
