"""Incremental change feeds: batch-incremental (the reference's daily-diff
model) and Structured Streaming micro-batches.

Reference semantics chain: filterLastObj (newest version per element in a
batch, update.go:69-110) -> MergeOrigAndChange (delete/modify/create apply,
mergechange.go:18-65) -> recompute affected tiles only (update.go:343-472).
Here each applied batch commits new snapshot stages in the SnapshotStore, so
the stream is resumable: a killed consumer reads the stages of the last
committed batch and (with checkpointed offsets) replays only unapplied
batches.  stream_update_tiles uses calc_update_tiles' stage names (`nodes`,
`way_cells`, `node_cells`, `pyramid`, `tiles`, each `@s{batch}`) and pairs
its inputs by the `nodes` commit marker, so a replay takes no branch of its
own.
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
                        way_refs: DataFrame, stream_df: DataFrame,
                        checkpoint_dir: str, buffer: float = 0.05,
                        max_level: int = 18, group_level: int = 12,
                        transform=None):
    """STREAMING CalcUpdateTiles: micro-batch b of node changes runs
    operators/update.calc_update_tiles with the store (update.go:343-540),
    which commits way_cells@s{b} and node_cells@s{b}; then tiles@s{b} (the
    affected-tile set), pyramid@s{b} (the q69 pyramid plus the batch's
    signed delta) and last nodes@s{b}, the batch's commit marker.  The
    batches converge to one full recompute over the merged input (q59/q71).

    The store belongs to this stream and holds the base stages `nodes`,
    `way_cells`, `node_cells` and `pyramid`.  A batch reads all four at
    the last committed `nodes` marker, so it never reads a stage it
    writes: a replay after a crash sees its first attempt's inputs and
    `run_stage` reads back what already committed.  stream_df yields
    (node_id, seq, change_type, lon, lat), or any rows `transform` maps to
    that (e.g. binaryFile .osc diffs through sources.osc).  Offsets
    checkpoint to `checkpoint_dir`; marked batches are skipped."""
    from ..operators.tile_groups import pyramid_delta, pyramid_merge
    from ..operators.update import calc_update_tiles

    def _apply(batch_df: DataFrame, batch_id: int):
        b = f"s{batch_id}"
        if store.has(f"nodes@{b}") or batch_df.isEmpty():
            return
        if transform is not None:
            batch_df = transform(batch_df)
        last = _latest_stage(store, "nodes")[len("nodes"):]
        nodes, wc, nc, pyr = (
            store.read(spark, t + last)
            for t in ("nodes", "way_cells", "node_cells", "pyramid")
        )
        out = calc_update_tiles(
            nodes, way_refs, wc, nc, batch_df, buffer=buffer,
            max_level=max_level, group_level=group_level, store=store,
            batch_id=b,
        )
        store.run_stage(spark, f"tiles@{b}", lambda: out["affected_tiles"],
                        None)
        store.run_stage(
            spark, f"pyramid@{b}",
            lambda: pyramid_merge(pyr, pyramid_delta(
                wc, out["way_cells"], out["affected_ways"], "way_id",
                "cell", max_level, sum_cols=("way_id",),
            )),
            "level",
        )
        store.write(spark, f"nodes@{b}", out["nodes"], None)

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
