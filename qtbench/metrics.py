"""The metric catalogue: every end-to-end and per-layer metric, its unit,
its better direction and, for per-layer metrics, the end-to-end metric and
workload it should move.  ``BENCHMARK.json`` lists the same names; a test
keeps the two in step.

The end-to-end metrics in the final JSON line are the ones every workload
reports and the benchmark bounds; ``peak_rss_mb`` sums the proportional
set size (PSS) of the driver, the JVM and the Python workers.  The report
above that line also prints ``op_p50_ms``, where an ``op`` is one build
of the whole docs table (tile_build), one bbox query plus one region query
(tile_serve) or one cycle of change batches, one of each size
(change_update), and the workload-specific names (``build_docs_per_s``,
``serve_bbox_p50_ms``, ...).

``BENCHMARK.json`` lists tile_serve and change_update.  tile_build runs
the same way but is left out: one cold build takes most of a minute on a
4-core box, more than the repeated runs can afford.  Its layers are still
measured, in tile_serve's traced run, which makes one full build after
the measured loop.
"""

from __future__ import annotations

# name, unit, better, bound: the metrics whose ten-seed spread stayed
# within the bound in two sets on a shared 4-core box.  Op latency
# (op_p50_ms and the workload-specific ones) is printed but not bounded:
# each run sees one change cycle or about fifteen queries, and between
# runs the neighbours' load moved its spread past 0.25.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

WORKLOADS = ("tile_build", "tile_serve", "change_update")

S, U = "tile_serve", "change_update"
# build layers: measured on tile_build, and in tile_serve's traced run on
# its one full build.  The serving layout tile_serve sets up runs all but
# the relation cells, the pyramid and the tile groups
B = "tile_build; tile_serve"
BUILD = "build_docs_per_s (tile_build); setup_s (tile_serve)"
BUILD_ONLY = "build_docs_per_s (tile_build)"
PYRAMID = "build_docs_per_s (tile_build); setup_s (change_update)"

# name, unit, moves (e2e metric), workload
_LAYER = [
    ("qtcore.calculate_cells.ns_per_row", "ns", BUILD, B),
    ("qtcore.cover_cells.us_per_call", "us", "serve_bbox_p50_ms", S),
    ("qtcore.point_in_poly.ns_per_row", "ns", "serve_region_p50_ms", S),
    ("functions.cell_of_bbox_udf.s", "s",
     f"{BUILD}; update_batch_p50_s", f"{B}; {U}"),
    ("functions.cell_of_bbox_udf.boundary_s", "s",
     f"{BUILD}; update_batch_p50_s", f"{B}; {U}"),
    ("functions.geomblob.pack_s", "s", BUILD, B),
    ("functions.geomblob.parse_s", "s", BUILD, B),
    ("functions.python_rows", "rows", "serve_region_p50_ms", S),
    ("functions.python_rows.bbox_queries", "rows", "serve_bbox_p50_ms", S),
    ("functions.python_rows.region_queries", "rows",
     "serve_region_p50_ms", S),
    ("sources.docs.parse_spans.s", "s", BUILD, B),
    ("sources.poly.poly_region_filter.plan_ms", "ms",
     "serve_region_p50_ms", S),
    ("sources.poly.poly_region_filter.exec_ms", "ms",
     "serve_region_p50_ms", S),
    ("sources.poly.poly_region_filter.rows_tested_per_row_returned",
     "ratio", "serve_region_p50_ms", S),
    ("operators.calcqts.way_bboxes.s", "s", BUILD, B),
    ("operators.calcqts.way_cells.s", "s", BUILD, B),
    ("operators.calcqts.node_cells.s", "s", BUILD, B),
    ("operators.calcqts.relation_cells.s", "s", BUILD_ONLY, B),
    ("operators.geometry.add_way_coords.s", "s", BUILD, B),
    ("operators.tile_groups.tile_pyramid.s", "s", PYRAMID, f"{B}; {U}"),
    ("operators.tile_groups.tile_groups_df.s", "s", BUILD_ONLY, B),
    ("operators.update.calc_update_tiles.s", "s", "update_batch_p50_s", U),
    ("operators.update.calc_update_tiles.affected_ways", "count",
     "update_batch_p50_s", U),
    ("operators.update.calc_update_tiles.affected_nodes", "count",
     "update_batch_p50_s", U),
    ("operators.update.calc_update_tiles.affected_tiles", "count",
     "update_batch_p50_s", U),
    ("operators.tile_groups.pyramid_merge.s", "s", "update_batch_tail_s", U),
    ("plans.lineage.SnapshotStore.write.s", "s",
     "update_batch_p50_s", f"{B}; {U}"),
    ("plans.lineage.SnapshotStore.write.bytes", "bytes",
     "build_bytes_per_input_byte; update_bytes_per_changed_node",
     f"{B}; {U}"),
    ("plans.partitioned.write_cell_partitioned.s", "s",
     BUILD, B),
    ("plans.partitioned.write_cell_partitioned.files", "count",
     BUILD, B),
    ("plans.partitioned.write_cell_partitioned.bytes", "bytes",
     "build_bytes_per_input_byte", B),
    ("plans.partitioned.pruned_tile_scan.plan_ms", "ms",
     "serve_bbox_p50_ms", S),
    ("plans.partitioned.pruned_tile_scan.exec_ms", "ms",
     "serve_bbox_p50_ms", S),
    ("plans.partitioned.pruned_tile_scan.files_read", "count",
     "serve_bbox_tail_ms", S),
    ("plans.partitioned.pruned_tile_scan.rows_read_per_row_returned",
     "ratio", "serve_qps", S),
    ("trace.overhead_share", "ratio", "(tracing cost, none)", f"{S}; {U}"),
    ("trace.uncovered_share", "ratio", "(span coverage, none)", f"{S}; {U}"),
]

# Spark task metrics per span; a suffix that always reads zero on a span
# (shuffles on the scans and probes) is left out, and spill, which reads
# zero everywhere at these sizes, is not folded at all
_FULL = ("task_s", "tasks", "task_skew", "gc_s", "shuffle_write_bytes",
         "shuffle_read_bytes")
_LIGHT = ("task_s", "tasks", "task_skew", "gc_s")
SPAN_SUFFIXES = {
    "sources.docs.parse_spans": (_FULL, BUILD, B),
    "operators.calcqts.way_bboxes": (_FULL, BUILD, B),
    "operators.calcqts.way_cells": (_FULL, BUILD, B),
    "operators.calcqts.node_cells": (_FULL, BUILD, B),
    "operators.calcqts.relation_cells": (_FULL, BUILD_ONLY, B),
    "operators.geometry.add_way_coords": (_FULL, BUILD, B),
    "operators.tile_groups.tile_pyramid": (_FULL, PYRAMID, f"{B}; {U}"),
    "operators.tile_groups.tile_groups_df": (_LIGHT, BUILD_ONLY, B),
    "plans.partitioned.write_cell_partitioned": (_FULL, BUILD, B),
    "plans.lineage.SnapshotStore.write": (_FULL, "update_batch_p50_s",
                                          f"{B}; {U}"),
    "operators.update.calc_update_tiles": (_FULL, "update_batch_p50_s", U),
    "operators.tile_groups.pyramid_merge": (_FULL, "update_batch_p50_s", U),
    "plans.partitioned.pruned_tile_scan": (_LIGHT, "serve_bbox_p50_ms", S),
    "sources.poly.poly_region_filter": (_LIGHT, "serve_region_p50_ms", S),
    "functions.cell_of_bbox_udf": (("task_s",), BUILD, B),
}

_UNITS = {"task_s": "s", "tasks": "count", "task_skew": "ratio",
          "gc_s": "s", "shuffle_write_bytes": "bytes",
          "shuffle_read_bytes": "bytes"}


def per_layer() -> list:
    """[(name, unit, better, moves, workload)] for every per-layer
    metric; every one reads lower-is-better."""
    out = [(n, u, "lower", m, w) for n, u, m, w in _LAYER]
    for span, (suffixes, moves, wl) in SPAN_SUFFIXES.items():
        for s in suffixes:
            out.append((f"{span}.{s}", _UNITS[s], "lower", moves, wl))
    return out
