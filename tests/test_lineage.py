"""Snapshot store: resume-without-recompute, lineage rows, commit
atomicity, change-batch application, streaming micro-batch apply."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.plans.lineage import (
    SnapshotStore,
    calcqts_pipeline,
)
from osmquadtree_depreceated_spark.sources import tpch
from osmquadtree_depreceated_spark.streaming.changes import (
    apply_change_batches,
    stream_apply_changes,
)


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "snap"))


@pytest.fixture(scope="module")
def synth(spark, sf_dir):
    tpch.load_base_tables(spark, sf_dir)
    tpch.register_synth_views(spark)
    return spark.table("nodes"), spark.table("way_refs")


def test_resume_skips_committed_stages(spark, store, synth):
    nodes, way_refs = synth
    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return nodes.limit(100)

    df1 = store.run_stage(spark, "s1", builder, cell_col=None)
    assert calls["n"] == 1
    df2 = store.run_stage(spark, "s1", builder, cell_col=None)
    assert calls["n"] == 1  # resumed, not rebuilt
    assert df1.count() == df2.count()
    m = store.manifest("s1")
    assert m["row_count"] == 100
    rows = store.lineage_rows("s1")
    assert sum(r["row_count"] for r in rows) == 100
    assert all(r["snapshot_id"] == m["snapshot_id"] for r in rows)


def test_kill_before_commit_rebuilds(spark, store, synth):
    nodes, _ = synth
    # simulate a kill between data write and manifest commit:
    # data exists, manifest missing
    df = nodes.limit(50)
    df.write.mode("overwrite").parquet(store._data_dir("s2"))
    assert not store.has("s2")
    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return nodes.limit(75)

    out = store.run_stage(spark, "s2", builder, cell_col=None)
    assert calls["n"] == 1
    assert out.count() == 75  # rebuilt, not the orphaned 50-row write


def test_calcqts_pipeline_resume_identical(spark, store, synth):
    nodes, way_refs = synth
    out1 = calcqts_pipeline(spark, store, nodes, way_refs)
    chk1 = store.manifest("node_cells")["checksum"]
    # kill after way_cells: invalidate node_cells only
    store.invalidate("node_cells")
    out2 = calcqts_pipeline(spark, store, nodes, way_refs)
    chk2 = store.manifest("node_cells")["checksum"]
    assert chk1 == chk2  # identical output after resume
    # lineage rows carry cell ranges
    rows = store.lineage_rows("way_cells")
    assert rows and all(r["cell_min"] is not None for r in rows)


def test_change_batches_and_resume(spark, store, synth):
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "key long, val double"
    )
    store.write(spark, "base", base, cell_col=None)
    b1 = spark.createDataFrame(
        [(2, 1, "modify", 21.0), (3, 1, "delete", 0.0)],
        "key long, seq long, change_type string, val double",
    )
    b2 = spark.createDataFrame(
        [(4, 1, "create", 40.0), (2, 2, "modify", 22.0)],
        "key long, seq long, change_type string, val double",
    )
    out = apply_change_batches(spark, store, "base", [b1, b2])
    got = {r["key"]: r["val"] for r in out.collect()}
    assert got == {1: 10.0, 2: 22.0, 4: 40.0}
    # resume: rerun applies nothing new, same result
    out2 = apply_change_batches(spark, store, "base", [b1, b2])
    got2 = {r["key"]: r["val"] for r in out2.collect()}
    assert got2 == got


def test_stream_windowed_rollup_watermark(spark, tmp_path):
    from osmquadtree_depreceated_spark.streaming.changes import (
        stream_windowed_rollup,
    )

    feed = tmp_path / "evfeed"
    feed.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    sink = str(tmp_path / "wm_out")

    def _run(qname):
        stream = spark.readStream.schema(
            "event_id long, event_type string, ts timestamp"
        ).json(str(feed))
        q = (
            stream_windowed_rollup(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # run 1: two events in the 10:00 window plus one at 14:00 — commits a
    # watermark of 12:00 into the checkpoint
    (feed / "b1.json").write_text(
        '{"event_id": 1, "event_type": "a", "ts": "2024-01-01T10:05:00"}\n'
        '{"event_id": 2, "event_type": "a", "ts": "2024-01-01T10:45:00"}\n'
        '{"event_id": 3, "event_type": "a", "ts": "2024-01-01T14:00:00"}\n'
    )
    _run("winroll_a")
    # run 2 (same checkpoint, watermark carried over): a LATE row for the
    # 10:00 window — 10:10 < watermark 12:00, must be dropped — plus a
    # fresh event that pushes the watermark far enough to flush everything
    (feed / "b2.json").write_text(
        '{"event_id": 4, "event_type": "a", "ts": "2024-01-01T10:10:00"}\n'
        '{"event_id": 5, "event_type": "a", "ts": "2024-01-01T19:00:00"}\n'
    )
    _run("winroll_b")
    (feed / "b3.json").write_text(
        '{"event_id": 6, "event_type": "a", "ts": "2024-01-01T23:00:00"}\n'
    )
    _run("winroll_c")
    rows = {
        (r["win_start"].hour, r["n"])
        for r in spark.read.parquet(sink).collect()
    }
    # the 10:00 window finalized with n=2 — late event 4 was dropped
    assert (10, 2) in rows, rows
    assert (10, 3) not in rows, rows


def test_stream_latest_version_stateful(spark, tmp_path):
    from osmquadtree_depreceated_spark.streaming.changes import (
        stream_latest_version,
    )

    feed = tmp_path / "chfeed"
    feed.mkdir()
    (feed / "b1.json").write_text(
        '{"key": 1, "seq": 1, "change_type": "create", "val": 10.0}\n'
        '{"key": 2, "seq": 1, "change_type": "create", "val": 20.0}\n'
    )
    (feed / "b2.json").write_text(
        '{"key": 1, "seq": 3, "change_type": "modify", "val": 11.0}\n'
        '{"key": 1, "seq": 2, "change_type": "modify", "val": 99.0}\n'
    )
    stream = spark.readStream.schema(
        "key long, seq long, change_type string, val double"
    ).option("maxFilesPerTrigger", 1).json(str(feed))
    q = (
        stream_latest_version(stream)
        .writeStream.format("memory").queryName("latest")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from latest").collect()
    # last emission per key reflects the newest seq across ALL batches
    newest = {}
    for r in rows:
        newest[r["key"]] = (r["seq"], r["val"])
    assert newest[1] == (3, 11.0)  # seq-2 row never overrode seq-3 state
    assert newest[2] == (1, 20.0)


def test_streaming_micro_batches(spark, store, tmp_path, synth):
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "key long, val double"
    )
    store.write(spark, "sbase", base, cell_col=None)
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "b1.json").write_text(
        '{"key": 1, "seq": 1, "change_type": "delete", "val": 0.0}\n'
        '{"key": 2, "seq": 1, "change_type": "modify", "val": 25.0}\n'
    )
    stream = (
        spark.readStream.schema(
            "key long, seq long, change_type string, val double"
        ).json(str(feed))
    )
    q = stream_apply_changes(
        spark, store, "sbase", stream, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    from osmquadtree_depreceated_spark.streaming.changes import _latest_stage

    final = store.read(spark, _latest_stage(store, "sbase"))
    got = {r["key"]: r["val"] for r in final.collect()}
    assert got == {2: 25.0}


def _jobs(spark, group, fn):
    """Run `fn` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_commit_is_one_write_job(spark, store, tmp_path):
    src = str(tmp_path / "src")
    spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("cell")
    ).repartition(2).write.parquet(src)
    scan = spark.read.parquet(src)

    out, jobs = _jobs(spark, "commit-fresh",
                      lambda: store.write(spark, "one", scan))
    assert len(jobs) == 1
    _, jobs = _jobs(spark, "commit-schema", lambda: out.schema)
    assert jobs == []
    _, jobs = _jobs(spark, "commit-overwrite",
                    lambda: store.write(spark, "one", scan))
    assert len(jobs) == 2  # the localCheckpoint, then the write

    # the manifest's metrics come from the commit itself
    m = store.manifest("one")
    rows = store.lineage_rows("one")
    rows = [r for r in rows if r["snapshot_id"] == m["snapshot_id"]]
    data = sorted(f for f in os.listdir(store._data_dir("one"))
                  if f.endswith(".parquet"))
    assert sorted(r["file"] for r in rows) == data
    assert m["files"] == len(data)
    assert m["bytes"] == sum(
        os.path.getsize(os.path.join(store._data_dir("one"), f))
        for f in data)
    assert m["row_count"] == 500 and m["wall_ms"] >= 0
    assert min(r["cell_min"] for r in rows) == 0
    assert max(r["cell_max"] for r in rows) == 1497


def test_empty_and_null_cell_footer_rows(spark, store):
    from osmquadtree_depreceated_spark.gate import q58_check_stage

    empty = spark.createDataFrame([], "k long, cell long")
    store.write(spark, "empty", empty)
    rows = q58_check_stage(spark, store, "empty")
    assert rows and all(
        (r["row_count"], r["cell_min"], r["cell_max"]) == (0, None, None)
        for r in rows)
    assert store.manifest("empty")["row_count"] == 0

    nulls = spark.createDataFrame([(1, None), (2, None)], "k long, cell long")
    store.write(spark, "nulls", nulls)
    rows = q58_check_stage(spark, store, "nulls")
    assert sum(r["row_count"] for r in rows) == 2
    assert all(r["cell_min"] is None and r["cell_max"] is None
               for r in rows)


def test_q58_check_catches_a_torn_stage(spark, store):
    from osmquadtree_depreceated_spark.gate import q58_check_stage

    df = spark.createDataFrame([(1, 5), (2, 9)], "k long, cell long")
    store.write(spark, "torn", df.coalesce(1))
    data = store._data_dir("torn")
    # a stray part file written after the commit: rows the lineage never saw
    df.limit(1).coalesce(1).write.mode("append").parquet(data)
    with pytest.raises(AssertionError, match="q58"):
        q58_check_stage(spark, store, "torn")
