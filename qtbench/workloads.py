"""The three workloads, each driven through the engine's public functions.

``tile_build``    the batch tiling job over the docs table;
``tile_serve``    bbox and ``.poly`` region queries against the tiled layout;
``change_update`` node-change batches that recompute only affected tiles.

Each workload has ``prepare`` (the set-up a user pays before the first
operation), ``warm_up``, ``step`` (one closed-loop operation, returning the
latencies it produced), ``check`` (output checks, outside any timed
region) and, for traced runs, ``probes`` (per-layer micro-measures).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.functions.geomblob import (
    pack_linestring_udf, pack_point_udf, parse_geomblob_udf,
)
from osmquadtree_depreceated_spark.functions.udfs import cell_of_bbox_udf
from osmquadtree_depreceated_spark.operators.calcqts import (
    node_cells, relation_cells, way_bboxes, way_cells,
)
from osmquadtree_depreceated_spark.operators.geometry import add_way_coords
from osmquadtree_depreceated_spark.operators.spatial_join import (
    raster_vector_join,
)
from osmquadtree_depreceated_spark.operators.tile_groups import (
    pyramid_delta, pyramid_merge, tile_groups_df, tile_pyramid,
)
from osmquadtree_depreceated_spark.operators.update import calc_update_tiles
from osmquadtree_depreceated_spark.plans.lineage import SnapshotStore
from osmquadtree_depreceated_spark.plans.partitioned import (
    pruned_tile_scan, write_cell_partitioned,
)
from osmquadtree_depreceated_spark.qtcore import (
    calculate_cells, cover_cells, point_in_poly,
)
from osmquadtree_depreceated_spark.sources.docs import parse_spans
from osmquadtree_depreceated_spark.sources.poly import (
    PolyRegion, poly_region_filter,
)

from checks import Checker
import gen

BUFFER = 0.05
MAX_LEVEL = 18
PART_LEVEL = 8       # partition level of the tiled layout
TILE_ZOOM = 12       # raster tiles a bbox query counts per
GROUP_TARGET = 1000  # tile-group size


def dir_stats(path: str) -> tuple:
    """(files, bytes) of the data files under `path`."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


class Store(SnapshotStore):
    """The engine's snapshot store with each commit inside its own span
    and the committed bytes counted."""

    def __init__(self, root: str, tr):
        super().__init__(root)
        self.tr = tr
        self.bytes = 0

    def write(self, spark, stage, df, cell_col="cell"):
        with self.tr.span("plans.lineage.SnapshotStore.write") as c:
            out = super().write(spark, stage, df, cell_col)
            c["bytes"] = dir_stats(self._data_dir(stage))[1]
            self.bytes += c["bytes"]
        return out


class Ctx:
    """What every workload shares: the session, the tracer, the input
    directory and a scratch directory for its outputs."""

    def __init__(self, spark, tr, inputs: str, work: str, info: dict):
        self.spark = spark
        self.tr = tr
        self.inputs = inputs
        self.work = work
        self.info = info
        self.docs_path = os.path.join(inputs, "docs")
        self._n = 0

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{name}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def docs(self):
        return self.spark.read.parquet(self.docs_path)


# ------------------------------------------------------------ the build

def parsed_tables(ctx):
    """parse_spans over the docs table, plus the exploded way refs and
    relation members; all lazy."""
    parsed = parse_spans(ctx.docs())
    nodes, ways, rels = parsed["nodes"], parsed["ways"], parsed["rels"]
    way_refs = ways.select("way_id",
                           F.posexplode("refs").alias("pos", "ref"))
    rel_members = rels.select("rel_id", F.explode("members").alias("m")) \
        .select("rel_id", "m.mtype", "m.ref")
    return nodes, ways, rels, way_refs, rel_members


def calcqts_cells(ctx, store, nodes, way_refs, rel_members=None):
    tr, spark = ctx.tr, ctx.spark
    pts = nodes.select("node_id", "lon", "lat")
    with tr.span("operators.calcqts.way_bboxes"):
        wb = store.write(spark, "way_bbox", way_bboxes(way_refs, pts), None)
    with tr.span("operators.calcqts.way_cells"):
        wc = store.write(spark, "way_cells", way_cells(wb, BUFFER, MAX_LEVEL))
    with tr.span("operators.calcqts.node_cells"):
        nc = store.write(spark, "node_cells",
                         node_cells(pts, way_refs, wc, BUFFER, MAX_LEVEL))
    rc = None
    if rel_members is not None:
        with tr.span("operators.calcqts.relation_cells"):
            rc = store.write(spark, "rel_cells",
                             relation_cells(rel_members, wc, nc))
    return wb, wc, nc, rc


def build(ctx, root: str, serving: bool = False) -> dict:
    """One tile build: parse, calcqts, tile groups, geometry blobs and the
    cell-partitioned layout.  Returns what the checks need.

    ``serving=True`` builds only what tile_serve queries, the same way:
    node and way rows, without relation cells, the pyramid or the tile
    groups (on a 4-core box those take about half of a 50 s build)."""
    tr, spark = ctx.tr, ctx.spark
    store = Store(os.path.join(root, "store"), tr)
    nodes, ways, rels, way_refs, rel_members = parsed_tables(ctx)
    # the parsed element tables are committed first, so the later stages
    # read parquet instead of re-running the parse inside their plans
    with tr.span("sources.docs.parse_spans"):
        nodes = store.write(spark, "nodes", nodes, None)
        way_refs = store.write(spark, "way_refs", way_refs, None)
        if not serving:
            rel_members = store.write(spark, "rel_members", rel_members,
                                      None)
    wb, wc, nc, rc = calcqts_cells(ctx, store, nodes, way_refs,
                                   None if serving else rel_members)

    node_rows = nodes.join(nc, "node_id").select(
        "doc_id", F.lit("node").alias("kind"), "cell",
        F.col("lon").alias("minx"), F.col("lat").alias("miny"),
        F.col("lon").alias("maxx"), F.col("lat").alias("maxy"))
    way_rows = ways.select("doc_id", "way_id").join(wc, "way_id") \
        .join(wb, "way_id").select(
            "doc_id", F.lit("way").alias("kind"), "cell",
            "minx", "miny", "maxx", "maxy")
    elements = node_rows.unionByName(way_rows)
    out = {"root": root, "store": store,
           "kinds": ("node", "way") if serving else
           ("node", "way", "relation")}
    if not serving:
        null = F.lit(None).cast("long")
        elements = elements.unionByName(
            rels.select("doc_id", "rel_id").join(rc, "rel_id").select(
                "doc_id", F.lit("relation").alias("kind"), "cell",
                null.alias("minx"), null.alias("miny"), null.alias("maxx"),
                null.alias("maxy")))
        valid = elements.where(F.col("cell") >= 0)
        with tr.span("operators.tile_groups.tile_pyramid"):
            out["pyramid"] = store.write(
                spark, "pyramid", tile_pyramid(valid, "cell", MAX_LEVEL),
                None)
        with tr.span("operators.tile_groups.tile_groups_df"):
            out["groups"] = tile_groups_df(
                spark,
                valid.groupBy("cell").agg(F.count(F.lit(1)).alias("n")),
                target=GROUP_TARGET).collect()

    # geometry blobs: packed, then parsed back so the layout carries the
    # round trip's point count and ref sum; they run inside the layout
    # write, and traced runs time them apart in `probes`
    coords = add_way_coords(way_refs, nodes.select("node_id", "lon", "lat"))
    way_blobs = ways.select("doc_id", "way_id").join(coords, "way_id") \
        .select("doc_id", pack_linestring_udf()(
            "refs", "lons", "lats", F.lit(0).cast("long"),
            F.lit(1)).alias("blob"))
    node_blobs = nodes.select("doc_id", pack_point_udf()(
        "node_id", "lon", "lat", F.lit(0)).alias("blob"))
    blobs = node_blobs.unionByName(way_blobs).select(
        "doc_id", "blob", parse_geomblob_udf()("blob").alias("d")).select(
        "doc_id", "blob", F.col("d.np").alias("blob_np"),
        F.col("d.sum_ref").alias("blob_sum_ref"))

    layout = ctx.docs().join(elements, "doc_id").join(blobs, "doc_id", "left")
    path = os.path.join(root, "layout")
    with tr.span("plans.partitioned.write_cell_partitioned") as c:
        write_cell_partitioned(layout, path, level=PART_LEVEL)
        c["files"], c["bytes"] = dir_stats(path)
    out["layout"] = path
    return out


# ------------------------------------------------------------ workloads

class TileBuild:
    name = "tile_build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.last = None
        self.checker = Checker(ctx)
        self.n_docs = ctx.info["sizes"]["docs"]

    def prepare(self):
        self.ctx.docs().count()

    def warm_up(self):
        self._one()

    def _one(self):
        root = self.ctx.fresh_dir("build")
        t = time.perf_counter()
        out = build(self.ctx, root)
        dt = time.perf_counter() - t
        if self.last is not None:
            shutil.rmtree(self.last["root"], ignore_errors=True)
        self.last = out
        return dt, out

    def step(self):
        dt, out = self._one()
        self.checker.build_manifests(out)
        return {"op": [dt], "items": self.n_docs, "ops": 1}

    def check(self, ops: int):
        self.checker.build_outputs(self.last)

    def extra(self) -> dict:
        committed = self.last["store"].bytes + dir_stats(
            self.last["layout"])[1]
        return {"build_bytes_per_input_byte":
                committed / self.ctx.info["sizes"]["docs_parquet_bytes"]}

    def probes(self, out: dict):
        build_probes(self.ctx, self.last["store"], out)


def build_probes(ctx, store, out: dict):
    """Traced runs only: time the build's lazy steps on their own (they
    otherwise run fused inside the layout write) and the cell kernel and
    UDF against the build's bbox arrays."""
    tr, spark = ctx.tr, ctx.spark
    nodes = store.read(spark, "nodes")
    way_refs = store.read(spark, "way_refs")
    pts = store.read(spark, "node_cells").join(
        nodes.select("node_id", "lon", "lat"), "node_id").drop("cell") \
        .cache()
    pts.count()
    # each step lands in parquet, so the next one reads a few file splits
    # instead of the previous step's shuffle partitions
    probe_dir = ctx.fresh_dir("probe-blobs")
    with tr.span("operators.geometry.add_way_coords"):
        add_way_coords(way_refs, pts).write.parquet(probe_dir + "/coords")
    with tr.span("functions.geomblob.pack"):
        t = time.perf_counter()
        spark.read.parquet(probe_dir + "/coords").select(
            pack_linestring_udf()("refs", "lons", "lats",
                                  F.lit(0).cast("long"), F.lit(1))
            .alias("blob")).write.parquet(probe_dir + "/blobs")
        out["functions.geomblob.pack_s"] = time.perf_counter() - t
    with tr.span("functions.geomblob.parse"):
        t = time.perf_counter()
        spark.read.parquet(probe_dir + "/blobs").select(
            parse_geomblob_udf()("blob").alias("d")) \
            .agg(F.sum("d.np")).collect()
        out["functions.geomblob.parse_s"] = time.perf_counter() - t
    boxes = pts.select(F.col("lon").alias("minx"), F.col("lat").alias("miny"),
                       (F.col("lon") + 1).alias("maxx"),
                       (F.col("lat") + 1).alias("maxy")).unionByName(
        store.read(spark, "way_bbox").drop("way_id"))
    udf_probe(ctx, boxes, out)
    pts.unpersist()
    shutil.rmtree(probe_dir, ignore_errors=True)


def udf_probe(ctx, boxes, out: dict):
    """The cell UDF over cached bbox rows, split into kernel, native
    projection and Python-boundary time."""
    tr = ctx.tr
    cached = boxes.cache()
    arr = cached.toPandas()
    cols = [arr[c].to_numpy(np.int64) for c in ("minx", "miny", "maxx",
                                                 "maxy")]
    reps, t = 0, time.perf_counter()
    while True:
        calculate_cells(*cols, BUFFER, MAX_LEVEL)
        reps += 1
        if time.perf_counter() - t > 0.2:
            break
    kernel_s = (time.perf_counter() - t) / reps
    out["qtcore.calculate_cells.ns_per_row"] = kernel_s / len(arr) * 1e9
    # the Python-boundary share is charged in run.layer_metrics from the
    # task time of these two spans minus this kernel time
    out["_kernel_s"] = kernel_s
    with tr.span("functions.cell_of_bbox_udf"):
        t = time.perf_counter()
        cached.select(cell_of_bbox_udf(BUFFER, MAX_LEVEL)(
            "minx", "miny", "maxx", "maxy").alias("c")) \
            .agg(F.max("c")).collect()
        out["functions.cell_of_bbox_udf.s"] = time.perf_counter() - t
    with tr.span("probe.native_projection"):
        cached.select((F.col("minx") + F.col("miny") + F.col("maxx")
                       + F.col("maxy")).alias("c")).agg(F.max("c")).collect()
    cached.unpersist()


class TileServe:
    name = "tile_serve"

    def __init__(self, ctx):
        self.ctx = ctx
        self.checker = Checker(ctx)
        bq = pq.read_table(os.path.join(ctx.inputs, "bbox_queries.parquet"))
        self.bbox = np.stack([bq[c].to_numpy() for c in
                              ("minx", "miny", "maxx", "maxy")], axis=1)
        self.regions = load_regions(os.path.join(ctx.inputs,
                                                  "regions.parquet"))
        self.i = 0
        self.results = []   # (kind, query index, result)

    def prepare(self):
        self.layout = build(self.ctx, self.ctx.fresh_dir("serve"),
                            serving=True)
        self.points = self.ctx.spark.read.parquet(self.layout["layout"]) \
            .where(F.col("kind") == "node").select(
            "doc_id", F.col("minx").alias("lon"), F.col("miny").alias("lat"))

    def warm_up(self):
        # the stream's last queries, which the measured loop never reaches
        self._bbox(len(self.bbox) - 1)
        self._region(len(self.regions) - 1)
        self.results.clear()

    def _bbox(self, q):
        minx, miny, maxx, maxy = (int(v) for v in self.bbox[q])
        with self.ctx.tr.span("plans.partitioned.pruned_tile_scan") as c:
            t = time.perf_counter()
            df = pruned_tile_scan(self.ctx.spark, self.layout["layout"],
                                  minx, miny, maxx, maxy, PART_LEVEL,
                                  BUFFER)
            tiles = raster_vector_join(df, TILE_ZOOM).groupBy(
                "tile_x", "tile_y", "tile_z").count()
            t1 = time.perf_counter()
            rows = tiles.collect()
            t2 = time.perf_counter()
            c["plan_ms"] = (t1 - t) * 1000
            c["exec_ms"] = (t2 - t1) * 1000
            c["rows_returned"] = sum(r["count"] for r in rows)
        self.results.append(("bbox", q, {(r["tile_x"], r["tile_y"],
                                          r["tile_z"]): r["count"]
                                         for r in rows}))
        return t2 - t

    def _region(self, q):
        region = self.regions[q]
        with self.ctx.tr.span("sources.poly.poly_region_filter") as c:
            t = time.perf_counter()
            df = poly_region_filter(self.points, region).select("doc_id")
            t1 = time.perf_counter()
            ids = [r[0] for r in df.collect()]
            t2 = time.perf_counter()
            c["plan_ms"] = (t1 - t) * 1000
            c["exec_ms"] = (t2 - t1) * 1000
            c["rows_returned"] = len(ids)
        self.results.append(("region", q, set(ids)))
        return t2 - t

    def step(self):
        i, self.i = self.i, self.i + 1
        b = self._bbox(i % len(self.bbox))
        r = self._region(i % len(self.regions))
        return {"op": [b + r], "bbox": [b], "region": [r], "items": 2,
                "ops": 2}

    def check(self, ops: int):
        self.checker.build_outputs(self.layout)
        self.checker.serve_results(self.layout, self.bbox, self.regions,
                                   self.results)

    def extra(self) -> dict:
        return {}

    def probes(self, out: dict):
        # one full tile build, so the layers the serving layout leaves out
        # (relation cells, pyramid, tile groups) are measured here too; it
        # is checked like tile_build's and serves no query
        full = build(self.ctx, self.ctx.fresh_dir("build"))
        self.checker.build_outputs(full)
        build_probes(self.ctx, full["store"], out)
        reps, t = 0, time.perf_counter()
        while time.perf_counter() - t < 0.3:
            for q in self.bbox[:50]:
                cover_cells(*(int(v) for v in q), PART_LEVEL, BUFFER)
                reps += 1
        out["qtcore.cover_cells.us_per_call"] = (
            (time.perf_counter() - t) / reps * 1e6)
        pts = self.checker.layout_arrays(self.layout)
        nodes = pts["kind"] == "node"
        x, y = pts["minx"][nodes], pts["miny"][nodes]
        tested, t = 0, time.perf_counter()
        for region in self.regions[:20]:
            for lons, lats in region.polys + region.holes:
                point_in_poly(np.asarray(lons), np.asarray(lats), x, y)
                tested += len(x)
        out["qtcore.point_in_poly.ns_per_row"] = (
            (time.perf_counter() - t) / tested * 1e9)


def load_regions(path: str) -> list:
    t = pq.read_table(path).to_pydict()
    regions: dict = {}
    for rid, hole, lons, lats in zip(t["region_id"], t["is_hole"],
                                     t["lons"], t["lats"]):
        r = regions.setdefault(rid, PolyRegion(name=f"r{rid}"))
        (r.holes if hole else r.polys).append((lons, lats))
    return [regions[k] for k in sorted(regions)]


class ChangeUpdate:
    name = "change_update"

    def __init__(self, ctx):
        self.ctx = ctx
        self.checker = Checker(ctx)
        ch = pq.read_table(os.path.join(ctx.inputs, "changes.parquet"),
                           columns=["batch"])
        self.batch_sizes = np.bincount(ch["batch"].to_numpy())
        self.cycle = len(gen.PROPS["batch_cycle"])
        self.changes_path = os.path.join(ctx.inputs, "changes.parquet")
        self.b = 0
        self.state = None
        self.bytes = []
        self.affected = []  # traced runs: (span counts, batch outputs)

    def prepare(self):
        ctx, spark = self.ctx, self.ctx.spark
        root = ctx.fresh_dir("update")
        store = Store(os.path.join(root, "store"), ctx.tr)
        nodes, _, _, way_refs, _ = parsed_tables(ctx)
        with ctx.tr.span("sources.docs.parse_spans"):
            nodes = store.write(spark, "nodes",
                                nodes.select("node_id", "lon", "lat"), None)
            way_refs = store.write(spark, "way_refs", way_refs, None)
        _, wc, nc, _ = calcqts_cells(ctx, store, nodes, way_refs)
        with ctx.tr.span("operators.tile_groups.tile_pyramid"):
            pyr = store.write(spark, "pyramid",
                              tile_pyramid(wc, "cell", MAX_LEVEL,
                                           sum_cols=("way_id",)), None)
        self.state = {"root": root, "store": store, "nodes": nodes,
                      "way_refs": way_refs, "wc": wc, "nc": nc, "pyr": pyr}
        self.b = 0

    def warm_up(self):
        # the stream opens with small warm-up batches; the timed loop then
        # starts on a cycle boundary
        for _ in gen.PROPS["warmup_batches"]:
            self._batch()
        self.bytes.clear()
        self.affected.clear()

    def _batch(self):
        b, self.b = self.b, self.b + 1
        s, tr, spark = self.state, self.ctx.tr, self.ctx.spark
        store = s["store"]
        before = store.bytes
        t = time.perf_counter()
        changes = spark.read.parquet(self.changes_path) \
            .where(F.col("batch") == b).drop("batch")
        with tr.span("operators.update.calc_update_tiles") as c:
            out = calc_update_tiles(s["nodes"], s["way_refs"], s["wc"],
                                    s["nc"], changes, BUFFER, MAX_LEVEL,
                                    TILE_ZOOM, store=store,
                                    batch_id=f"b{b}")
            nodes = store.write(spark, f"nodes@b{b}", out["nodes"], None)
        with tr.span("operators.tile_groups.pyramid_merge"):
            delta = pyramid_delta(s["wc"], out["way_cells"],
                                  out["affected_ways"], "way_id", "cell",
                                  MAX_LEVEL, sum_cols=("way_id",))
            pyr = store.write(spark, f"pyramid@b{b}",
                              pyramid_merge(s["pyr"], delta), None)
        dt = time.perf_counter() - t
        if tr.active:
            self.affected.append((c, out))
        self.bytes.append((store.bytes - before, int(self.batch_sizes[b])))
        s.update(nodes=nodes, wc=out["way_cells"], nc=out["node_cells"],
                 pyr=pyr)
        return dt, int(self.batch_sizes[b])

    def step(self):
        """One cycle of batches: every batch size once; None once the
        generated stream has no whole cycle left."""
        if self.b + self.cycle > len(self.batch_sizes):
            return None
        lat, items = [], 0
        for _ in range(self.cycle):
            dt, n = self._batch()
            lat.append(dt)
            items += n
        return {"op": [sum(lat)], "batch": lat, "items": items,
                "ops": len(lat)}

    def check(self, ops: int):
        self.checker.update_state(self.state, ops)

    def extra(self) -> dict:
        return {"update_bytes_per_changed_node":
                sum(b for b, _ in self.bytes) / sum(n for _, n in self.bytes)}

    def probes(self, out: dict):
        # affected-set sizes, counted after the loop so the extra jobs stay
        # out of the measured batches; every snapshot they read is kept
        for c, res in self.affected:
            for k in ("affected_ways", "affected_nodes", "affected_tiles"):
                c[k] = res[k].count()
        s = self.state
        wb = way_bboxes(s["way_refs"], s["nodes"]).drop("way_id").limit(256)
        udf_probe(self.ctx, wb, out)


WORKLOADS = {w.name: w for w in (TileBuild, TileServe, ChangeUpdate)}
