"""Output checks, run outside every timed region.

Each check reports the operations whose output it rejected; the run adds
them to ``failed`` and exits nonzero.  The references are independent of
the engine's Spark code: element truth is parsed from the docs parquet
with Arrow, cells come from ``qtcore.scalar_ref``, bbox answers from a
NumPy filter over the layout's bboxes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.calcqts import (
    node_cells, way_bboxes, way_cells,
)
from osmquadtree_depreceated_spark.operators.tile_groups import tile_pyramid
from osmquadtree_depreceated_spark.qtcore import (
    cells_to_tuples, round_cells, scalar_ref,
)
from osmquadtree_depreceated_spark.sources.docs import spans_checksum

BUFFER = 0.05
MAX_LEVEL = 18
TILE_ZOOM = 12
SAMPLE_SEED = 12345

LAYOUT_COLS = ["doc_id", "kind", "cell", "minx", "miny", "maxx", "maxy",
               "blob_np", "blob_sum_ref"]


# --------------------------------------------------------- pure checks

def bbox_answer(arrays: dict, q) -> dict:
    """Rows whose bbox meets query box q, counted per zoom-12 tile."""
    minx, miny, maxx, maxy = (int(v) for v in q)
    has = arrays["has_bbox"]
    m = (has & (arrays["minx"] <= maxx) & (arrays["miny"] <= maxy)
         & (arrays["maxx"] >= minx) & (arrays["maxy"] >= miny))
    x, y, z = cells_to_tuples(round_cells(arrays["cell"][m], TILE_ZOOM))
    keys, counts = np.unique(np.stack([x, y, z], axis=1), axis=0,
                             return_counts=True)
    return {tuple(int(v) for v in k): int(c) for k, c in zip(keys, counts)}


def region_member(region, lon: int, lat: int) -> bool:
    inside = any(scalar_ref.point_in_poly(lons, lats, lon, lat)
                 for lons, lats in region.polys)
    return inside and not any(scalar_ref.point_in_poly(lons, lats, lon, lat)
                              for lons, lats in region.holes)


def region_sample_ok(arrays: dict, region, got: set, seed: int,
                     k: int = 40) -> bool:
    """Membership of up to k node points in the region's envelope, plus a
    few outside it, against the scalar pnpoly."""
    nodes = np.flatnonzero(arrays["kind"] == "node")
    x, y = arrays["minx"][nodes], arrays["miny"][nodes]
    ex0, ey0, ex1, ey1 = region.envelope()
    near = nodes[(x >= ex0) & (x <= ex1) & (y >= ey0) & (y <= ey1)]
    rng = np.random.default_rng(seed)
    pick = np.concatenate([
        rng.choice(near, min(k, len(near)), replace=False),
        rng.choice(nodes, min(10, len(nodes)), replace=False)])
    for i in pick:
        want = region_member(region, int(arrays["minx"][i]),
                             int(arrays["miny"][i]))
        if want != (arrays["doc_id"][i] in got):
            return False
    return True


def read_truth(docs_dir: str) -> dict:
    """Element tables parsed from the docs parquet with Arrow compute."""
    t = pq.read_table(docs_dir)
    spans = t["spans"].combine_chunks()
    parent = pc.list_parent_indices(spans)
    flat = pc.list_flatten(spans)
    kind = flat.field("kind")
    text = flat.field("text")
    doc_id = pc.take(t["doc_id"].combine_chunks(), parent)
    out = {}
    for k in ("node", "way", "relation"):
        m = pc.equal(kind, k)
        out[k] = {
            "doc_id": pc.filter(doc_id, m).to_numpy(zero_copy_only=False),
            "text": pc.filter(text, m).to_pylist()}
    return out


class Truth:
    """Scalar reference cells for sampled elements."""

    def __init__(self, docs_dir: str):
        raw = read_truth(docs_dir)
        self.node_xy, self.node_doc = {}, {}
        for d, txt in zip(raw["node"]["doc_id"], raw["node"]["text"]):
            nid, lon, lat = (int(v) for v in txt.split())
            self.node_xy[nid] = (lon, lat)
            self.node_doc[nid] = d
        self.way_refs, self.way_doc, self.parents = {}, {}, {}
        for d, txt in zip(raw["way"]["doc_id"], raw["way"]["text"]):
            wid, refs = txt.split(" ", 1)
            refs = [int(r) for r in refs.split(",")]
            self.way_refs[int(wid)] = refs
            self.way_doc[int(wid)] = d
            for r in refs:
                self.parents.setdefault(r, set()).add(int(wid))
        self.rel_members, self.rel_doc = {}, {}
        for d, txt in zip(raw["relation"]["doc_id"], raw["relation"]["text"]):
            rid, body = txt.split(" ", 1)
            self.rel_members[int(rid)] = [
                (m.split(":")[0], int(m.split(":")[1]))
                for m in body.split(";") if m]
            self.rel_doc[int(rid)] = d
        self._wc, self._nc, self._rc = {}, {}, {}

    def way_cell(self, wid: int) -> int:
        if wid not in self._wc:
            pts = [self.node_xy[r] for r in self.way_refs[wid]]
            xs, ys = [p[0] for p in pts], [p[1] for p in pts]
            self._wc[wid] = scalar_ref.calculate(
                min(xs), min(ys), max(xs), max(ys), BUFFER, MAX_LEVEL)
        return self._wc[wid]

    def node_cell(self, nid: int) -> int:
        if nid not in self._nc:
            q = -1
            for w in sorted(self.parents.get(nid, ())):
                q = scalar_ref.common(q, self.way_cell(w))
            if q < 0:
                lon, lat = self.node_xy[nid]
                q = scalar_ref.calculate(lon, lat, lon + 1, lat + 1,
                                         BUFFER, MAX_LEVEL)
            self._nc[nid] = q
        return self._nc[nid]

    def rel_cell(self, rid: int) -> int:
        if rid not in self._rc:
            q = -1
            for mt, ref in self.rel_members[rid]:
                c = {"n": self.node_cell, "w": self.way_cell,
                     "r": self.rel_cell}[mt](ref)
                if c >= 0:
                    q = scalar_ref.common(q, c)
            self._rc[rid] = q
        return self._rc[rid]


# ------------------------------------------------------------- checker

class Checker:
    """Runs the checks of one workload and keeps the failures."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.failed_ops = 0
        self.messages: list = []
        self._arrays = None

    def fail(self, ops: int, msg: str) -> None:
        self.failed_ops += ops
        self.messages.append(msg)

    def layout_arrays(self, layout: dict) -> dict:
        if self._arrays is None or self._arrays[0] != layout["layout"]:
            t = pq.read_table(layout["layout"], columns=LAYOUT_COLS)
            a = {c: t[c].to_numpy(zero_copy_only=False) for c in LAYOUT_COLS}
            has = ~pc.is_null(t["minx"]).to_numpy(zero_copy_only=False)
            for c in ("minx", "miny", "maxx", "maxy"):
                a[c] = np.where(has, np.nan_to_num(a[c].astype(float)),
                                0).astype(np.int64)
            a["cell"] = a["cell"].astype(np.int64)
            a["has_bbox"] = has
            self._arrays = (layout["layout"], a)
        return self._arrays[1]

    # tile_build -----------------------------------------------------
    def build_manifests(self, out: dict) -> None:
        """Cheap per-iteration check: committed row counts."""
        sizes = self.ctx.info["sizes"]
        want = {"way_bbox": sizes["ways"], "way_cells": sizes["ways"],
                "node_cells": sizes["nodes"], "rel_cells": sizes["relations"]}
        store = out["store"]
        bad = {k: store.manifest(k)["row_count"] for k in want
               if store.manifest(k)["row_count"] != want[k]}
        if bad:
            self.fail(1, f"build row counts {bad} != {want}")

    def build_outputs(self, out: dict) -> None:
        """Full checks on one build's layout: sampled cells and blobs
        against the scalar reference, the span-checksum multiset of the
        docs the layout holds and, for a full build, the pyramid and
        tile-group totals."""
        ctx = self.ctx
        a = self.layout_arrays(out)
        by_doc = {d: i for i, d in enumerate(a["doc_id"])}
        truth = Truth(os.path.join(ctx.inputs, "docs"))
        rng = np.random.default_rng(SAMPLE_SEED)
        errors = []

        def cell_of(doc):
            return int(a["cell"][by_doc[doc]]) if doc in by_doc else None

        ways = rng.choice(sorted(truth.way_refs), 100, replace=False)
        for w in ways:
            w = int(w)
            i = by_doc.get(truth.way_doc[w])
            if cell_of(truth.way_doc[w]) != truth.way_cell(w):
                errors.append(f"way {w} cell")
            elif (a["blob_np"][i] != len(truth.way_refs[w])
                  or a["blob_sum_ref"][i] != sum(truth.way_refs[w])):
                errors.append(f"way {w} blob")
        for n in rng.choice(sorted(truth.node_xy), 200, replace=False):
            n = int(n)
            i = by_doc.get(truth.node_doc[n])
            if cell_of(truth.node_doc[n]) != truth.node_cell(n):
                errors.append(f"node {n} cell")
            elif a["blob_np"][i] != 1 or a["blob_sum_ref"][i] != n:
                errors.append(f"node {n} blob")
        held = set(truth.node_doc.values()) | set(truth.way_doc.values())
        if "relation" in out["kinds"]:
            held |= set(truth.rel_doc.values())
            for r in rng.choice(sorted(truth.rel_members), 50,
                                replace=False):
                r = int(r)
                if cell_of(truth.rel_doc[r]) != truth.rel_cell(r):
                    errors.append(f"relation {r} cell")

        def checksums(df, keep=None):
            return sorted(r[1] for r in spans_checksum(df).select(
                "doc_id", "spans_checksum").collect()
                if keep is None or r[0] in keep)

        if checksums(ctx.spark.read.parquet(out["layout"])) != checksums(
                ctx.docs(), held):
            errors.append("span checksums differ between docs and layout")

        if "pyramid" in out:
            n_valid = int((a["cell"] >= 0).sum())
            level0 = out["pyramid"].where(F.col("level") == 0) \
                .agg(F.sum("n")).collect()[0][0]
            if level0 != n_valid:
                errors.append(f"pyramid level 0 {level0} != rows {n_valid}")
            total = sum(g["group_total"] for g in out["groups"])
            if total != n_valid:
                errors.append(f"tile group total {total} != rows {n_valid}")
        if errors:
            self.fail(1, "build: " + "; ".join(errors[:5]))

    # tile_serve -----------------------------------------------------
    def serve_results(self, layout, bbox, regions, results) -> None:
        a = self.layout_arrays(layout)
        for kind, q, got in results:
            if kind == "bbox":
                ok = bbox_answer(a, bbox[q]) == got
            else:
                # every region query's result is sampled, a few at a time
                ok = region_sample_ok(a, regions[q], got, seed=q, k=10)
            if not ok:
                self.fail(1, f"{kind} query {q} wrong")

    # change_update --------------------------------------------------
    def update_state(self, state: dict, batches: int) -> None:
        """Incremental state after the last batch == a full recompute
        over the merged nodes."""
        nodes, way_refs = state["nodes"], state["way_refs"]
        wc = way_cells(way_bboxes(way_refs, nodes), BUFFER, MAX_LEVEL)
        nc = node_cells(nodes, way_refs, wc, BUFFER, MAX_LEVEL)
        pyr = tile_pyramid(wc, "cell", MAX_LEVEL, sum_cols=("way_id",))
        errors = []

        def as_map(df, key):
            return {tuple(r[:key]): tuple(r[key:]) for r in df.collect()}

        if as_map(state["wc"], 1) != as_map(wc, 1):
            errors.append("way cells")
        if as_map(state["nc"], 1) != as_map(nc, 1):
            errors.append("node cells")
        cols = ["level", "pcell", "n", "sum_way_id"]
        got_pyr = as_map(state["pyr"].select(*cols), 2)
        if got_pyr != as_map(pyr.select(*cols), 2):
            errors.append("pyramid")
        n_valid = state["wc"].where(F.col("cell") >= 0).count()
        if sum(v[0] for k, v in got_pyr.items() if k[0] == 0) != n_valid:
            errors.append("pyramid level 0 count")
        if errors:
            self.fail(batches, "update state differs from full recompute: "
                      + ", ".join(errors))
