#!/usr/bin/env python
"""Benchmark harness.

    python bench.py

Runs the headline tile-assignment + spatial-join pipeline over the
tables at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables) on the
session qtbench/env.py sizes to the box (local[nproc], a sixteenth of RAM as
driver heap, engine defaults otherwise) and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "spark": {...}, "sf": ..., "cpus": ..., "box": {...},
   "settings": {...}, "calibration": {...}}

Methodology:
  * one untimed warmup pipeline first (JIT/codegen/Arrow buffers), then
    the minimum of two timed pipelines; `value` is that pipeline's wall
    time and `queries` holds its per-stage times;
  * the serving-layout, ANN and geomblob side stages run once after it
    and are not part of `value`;
  * every stage runs inside a qtbench/tracing.py span, and Spark's event
    log is folded into each stage's task time, task count and skew, GC,
    shuffle bytes and rows handed to Python (`spark`);
  * `calibration` is qtbench's line: a single-core busy-loop rate and the
    median time of a zero-work Spark action, so a slow window on a shared
    box shows itself.
Everything the run writes stays under .bench_work (removed at exit).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "qtbench"))

import env  # noqa: E402
import tracing  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Stages:
    """Runs each bench stage inside a tracer span, so its Spark jobs are
    charged to it, and keeps the stage's wall time."""

    def __init__(self, tr):
        self.tr = tr
        self.timings: dict = {}

    def __call__(self, name, thunk):
        with self.tr.span(name):
            t = time.perf_counter()
            out = thunk()
            self.timings[name] = round(time.perf_counter() - t, 3)
        return out


def _force(df):
    """Materialize fully on executors without driver transfer."""
    df.write.format("noop").mode("overwrite").save()


def _inputs(spark, sf_dir: str):
    """Synthesized nodes/way_refs, two partitions per core."""
    from osmquadtree_depreceated_spark.sources import tpch

    tpch.load_base_tables(spark, sf_dir)
    tpch.register_synth_views(spark)
    # The sandbox parquet is a single file (1-2 splits); a production table
    # has thousands of splits.  Spread it so scans use every core.
    n_parts = 2 * spark.sparkContext.defaultParallelism
    return (spark.table("nodes").repartition(n_parts),
            spark.table("way_refs").repartition(n_parts))


def run_pipeline(spark, nodes, way_refs, boxes_rows, stage: Stages):
    """Flagship: point cells -> salted way bboxes -> buffered way cells ->
    node Common fold -> query-bbox join -> z12 raster rollup."""
    from pyspark.sql import functions as F

    from osmquadtree_depreceated_spark import gate
    from osmquadtree_depreceated_spark.functions.cells import with_point_cell
    from osmquadtree_depreceated_spark.operators.calcqts import (
        node_cells,
        way_bboxes,
        way_cells,
    )
    from osmquadtree_depreceated_spark.operators.spatial_join import (
        bbox_join,
        raster_vector_join,
    )

    stage(
        "point_cells_native",
        lambda: _force(
            with_point_cell(nodes, "lon", "lat", "cell", 18)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        ),
    )

    # wb is reused by the serving join below — cache it alongside wc, or
    # the rollup stage silently recomputes the whole bbox aggregation and
    # masks the pruned join's actual cost
    wb = way_bboxes(way_refs, nodes, salt_buckets=0).cache()
    wc = way_cells(wb, 0.05, 18)
    wc.cache()
    n_ways = stage("way_cells", wc.count)

    stage(
        "node_common_fold",
        lambda: _force(node_cells(nodes, way_refs, wc, 0.05, 18)),
    )

    boxes = spark.createDataFrame(boxes_rows, gate.BOX_COLS)
    geoms = wc.join(wb, "way_id")
    stage("geoms_materialize", lambda: _force(geoms))
    stage(
        "bbox_join_raster_rollup",
        lambda: _force(
            raster_vector_join(bbox_join(boxes, geoms), 12)
            .groupBy("query_id", "tile_x", "tile_y", "tile_z")
            .agg(F.count(F.lit(1)).alias("n_ways"))
        ),
    )
    wc.unpersist()
    wb.unpersist()
    return n_ways


def _partitioned_serving(spark, nodes, way_refs, stage: Stages, work: str):
    """Write the way-geometry table partitioned on cell_round(cell, 6), then
    serve the 8 query boxes through partition-pruned scans."""
    from osmquadtree_depreceated_spark import gate
    from osmquadtree_depreceated_spark.operators.calcqts import (
        way_bboxes,
        way_cells,
    )
    from osmquadtree_depreceated_spark.plans.partitioned import (
        pruned_tile_scan,
        write_cell_partitioned,
    )

    path = os.path.join(work, "way_geoms")
    wb = way_bboxes(way_refs, nodes, salt_buckets=0)
    geoms = way_cells(wb, 0.05, 18).join(wb, "way_id")
    stage("partitioned_write",
          lambda: write_cell_partitioned(geoms, path, level=6))

    def serve():
        for b in gate.QUERY_BOXES:
            _force(pruned_tile_scan(spark, path, b[1], b[2], b[3], b[4],
                                    level=6))

    stage("pruned_tile_serving_8q", serve)


def _ann_stage(spark, stage: Stages):
    """IVF ANN top-10 for 32 queries over the embeddings table."""
    from osmquadtree_depreceated_spark.operators.ann import ivf_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.limit(32).select("vec_id", "embedding")
    stage("ann_ivf_topk_32q", lambda: _force(ivf_topk(queries, emb, 10)))


def _geomblob_stage(spark, nodes, way_refs, stage: Stages):
    """Packed geometry-blob codec: encode every node as a Point blob and
    every way as a Linestring blob (functions/geomblob.py), decode them
    back, count."""
    from pyspark.sql import functions as F

    from osmquadtree_depreceated_spark.functions.geomblob import (
        pack_linestring_udf, pack_point_udf, parse_geomblob_udf,
    )
    from osmquadtree_depreceated_spark.operators.geometry import (
        add_way_coords,
    )

    def codec():
        parse = parse_geomblob_udf()
        pts = nodes.withColumn(
            "blob", pack_point_udf()(F.col("node_id"), F.col("lon"),
                                     F.col("lat"), F.lit(0)),
        ).select(parse(F.col("blob")).alias("d"))
        ways = add_way_coords(way_refs, nodes).withColumn(
            "blob",
            pack_linestring_udf()("refs", "lons", "lats",
                                  (F.col("way_id") % 1001 - 500), F.lit(1)),
        ).select(parse(F.col("blob")).alias("d"))
        _force(pts.unionByName(ways).select("d.np"))

    stage("geomblob_pack_decode", codec)


def _timed_run(spark, tr, work: str) -> dict:
    """Warmup pipeline, then the faster of two timed pipelines, then the
    side stages.  Returns the stage timings, the pipeline seconds, the
    element count and the spans whose Spark metrics are reported."""
    from osmquadtree_depreceated_spark import gate

    nodes, way_refs = _inputs(spark, SF_DIR)
    nodes.cache()
    way_refs.cache()
    n_nodes = nodes.count()
    n_refs = way_refs.count()
    tr.iteration = tracing.WARM_UP
    run_pipeline(spark, nodes, way_refs, gate.QUERY_BOXES, Stages(tr))
    # min of 2 timed pipelines: this is a shared box and a single run
    # can land on a contention burst
    best = None
    for i in range(2):
        tr.iteration = i
        stage = Stages(tr)
        t0 = time.perf_counter()
        n_ways = run_pipeline(spark, nodes, way_refs, gate.QUERY_BOXES, stage)
        secs = round(time.perf_counter() - t0, 3)
        if best is None or secs < best[0]:
            best = (secs, i, stage)
    secs, i_best, stage = best
    # serving-layout, ANN and geomblob stages, timed separately (not part
    # of the headline pipeline seconds, which stays comparable across runs)
    tr.iteration = tracing.PROBE
    _partitioned_serving(spark, nodes, way_refs, stage, work)
    _ann_stage(spark, stage)
    _geomblob_stage(spark, nodes, way_refs, stage)
    chosen = [s for s in tr.spans
              if s["iteration"] in (i_best, tracing.PROBE)]
    return {"timings": stage.timings, "secs": secs,
            "elements": n_nodes + n_refs + n_ways, "spans": chosen}


def stage_spark_metrics(spans: list, chosen: list, groups: dict) -> dict:
    """Per stage: task time, task count and skew, GC, shuffle bytes and
    rows handed to Python, folded from the event log."""
    out = {}
    for name, agg in tracing.span_spark_metrics(spans, chosen,
                                                groups).items():
        out[name] = {k: round(v, 3) for k, v in
                     tracing.spark_suffixes(agg).items()}
        out[name]["python_rows"] = agg["python_rows"]
    return out


def main():
    b = env.box()
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    log_dir = os.path.join(work, "eventlog")
    env.launch_env(ROOT, work)
    try:
        spark = env.start_session(b, work, log_dir)
        try:
            settings = env.effective_conf(spark)
            calibration = {
                "busy_loop_kops": round(env.busy_loop_rate(), 1),
                "zero_work_action_ms": round(
                    env.zero_work_action_ms(spark), 1),
            }
            tr = tracing.Tracer(spark.sparkContext, "bench")
            run = _timed_run(spark, tr, work)
        finally:
            env.stop_session(spark)
        # the event log is complete once the session has stopped
        spark_metrics = stage_spark_metrics(
            tr.spans, run["spans"], tracing.read_event_log(log_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    secs, elements = run["secs"], run["elements"]
    results = {
        "metric": "tile-assignment + spatial-join throughput",
        "value": secs,
        "unit": "sec",
        "queries": {**run["timings"],
                    "docs_per_sec": round(elements / secs, 1),
                    "elements": elements},
        "spark": spark_metrics,
        "sf": SF_DIR,
        "cpus": b["cores"],
        "box": b,
        "settings": settings,
        "calibration": calibration,
    }
    print(json.dumps(results))


if __name__ == "__main__":
    main()
