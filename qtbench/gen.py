"""Seeded input generator: the docs table, the query stream and the
node-change batches, written as parquet before any timing starts.

Everything is built with NumPy and Arrow compute over whole columns; no
Python loop runs per row.  The same seed gives byte-identical files (and
so the same checksum); the sizes and shape properties in ``PROPS`` are
fixed, so seeds differ in content but not in the amount of work.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Fixed-point 1e-7 degrees, as in the docs span encoding.
DEG = 10_000_000

PROPS = {
    "n_nodes": 24_000,
    "n_ways": 4_800,
    "n_rels": 600,
    # the data extent: lon -2..2 deg, lat 50..53 deg
    "extent": [-2 * DEG, 50 * DEG, 2 * DEG, 53 * DEG],
    # fixed city centres (lon, lat in degrees): seeds move the points
    # around them, not the cities, so every seed has the same density map
    "hotspots": [[-1.23, 50.77], [0.61, 52.14], [1.38, 51.06],
                 [-0.47, 52.52]],
    "hotspot_share": 0.4,
    "hotspot_sigma": int(0.02 * DEG),
    # share of ways whose refs are drawn from the whole extent
    "long_way_share": 0.03,
    "refs_per_way_mean": 6.0,
    "refs_per_way_max": 40,
    "closed_way_share": 0.1,
    "rel_depth": 3,
    "rel_members_mean": 3.0,
    "tags_per_doc_max": 6,
    "info_share": 0.8,
    "media_per_doc_max": 2,
    "caption_words": 6,
    "docs_files": 8,
    # query stream
    "n_bbox_queries": 600,
    "n_region_queries": 600,
    "bbox_min_deg": 360.0 / 2 ** 14,  # one z14 tile
    "bbox_max_deg": 0.5,              # a whole city
    "extent_steps": 8,
    "query_hot_share": 0.7,
    "region_sections_max": 3,
    # change batches: a warm-up batch, then a fixed cycle of sizes three
    # orders of magnitude apart, repeated more often than a run reaches at
    # today's speed (one cycle in 15 s on a 4-core box), so a faster
    # engine still has input
    "warmup_batches": [8],
    "batch_cycle": [4096, 4],
    "n_batch_cycles": 16,
    "change_hot_share": 0.6,
    "change_mix": {"modify": 0.7, "create": 0.2, "delete": 0.1},
    "change_move": int(0.0005 * DEG),
}

_TAG_KEYS = np.array(["highway", "name", "amenity", "building", "natural",
                      "landuse", "surface", "oneway", "ref", "source"])
_TAG_VALS = np.array(["primary", "secondary", "residential", "yes", "no",
                      "water", "wood", "asphalt", "survey", "bing",
                      "Station Road", "High Street"])
_USERS = np.array(["alice", "bob", "carol", "dave", "erin", "frank"])
# a fixed interleaving of the extent steps, small and large alternating
_SCHEDULE = np.array([0, 7, 3, 5, 1, 6, 2, 4])
_WORDS = np.array(["river", "bridge", "north", "market", "old", "church",
                   "park", "view", "street", "photo", "sunset", "tower"])


def _strs(a) -> pa.Array:
    return pa.array(np.asarray(a)).cast(pa.string())


def _within(counts: np.ndarray) -> np.ndarray:
    """0..c-1 for each group of a ragged layout given its counts."""
    starts = np.cumsum(counts) - counts
    return np.arange(counts.sum()) - np.repeat(starts, counts)


def _join_ragged(values: pa.Array, counts: np.ndarray, sep: str) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), values),
                          sep)


def _morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Interleave the low 16 bits of x and y."""
    def spread(v):
        v = v.astype(np.uint64) & np.uint64(0xFFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x33333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x55555555)
        return v
    return spread(x) | (spread(y) << np.uint64(1))


def _evenly(n: int, share: float) -> np.ndarray:
    """n flags, `share` of them set, spread evenly: every prefix holds
    close to that share."""
    i = np.arange(n)
    return np.floor((i + 1) * share) > np.floor(i * share)


def _points(rng, n, hot_share, centres, sigma, extent):
    # which points are hot, and around which centre, follow a fixed
    # pattern; seeds move the points, not the mix, so the few queries a
    # run reaches hold the same share of hot ones whatever the seed
    minx, miny, maxx, maxy = extent
    hot = _evenly(n, hot_share)
    which = np.arange(n) % len(centres)
    lon = np.where(hot, centres[which, 0] + rng.normal(0, sigma, n),
                   rng.uniform(minx, maxx, n))
    lat = np.where(hot, centres[which, 1] + rng.normal(0, sigma, n),
                   rng.uniform(miny, maxy, n))
    lon = np.clip(lon, minx, maxx).astype(np.int64)
    lat = np.clip(lat, miny, maxy).astype(np.int64)
    return lon, lat


def _elements(rng, p):
    """Nodes, ways and relations as flat arrays."""
    minx, miny, maxx, maxy = p["extent"]
    centres = (np.array(p["hotspots"]) * DEG).astype(np.int64)
    n, w, r = p["n_nodes"], p["n_ways"], p["n_rels"]
    lon, lat = _points(rng, n, p["hotspot_share"], centres,
                       p["hotspot_sigma"], p["extent"])
    node_id = np.arange(1, n + 1, dtype=np.int64)
    # spatial order: a local way takes consecutive nodes along a Z-curve
    qx = ((lon - minx) * 65535 // (maxx - minx)).astype(np.int64)
    qy = ((lat - miny) * 65535 // (maxy - miny)).astype(np.int64)
    zorder = np.argsort(_morton(qx, qy), kind="stable")

    k = np.clip(2 + rng.poisson(p["refs_per_way_mean"] - 2, w), 2,
                p["refs_per_way_max"]).astype(np.int64)
    long_way = rng.random(w) < p["long_way_share"]
    start = np.sort(rng.integers(0, n - p["refs_per_way_max"], w))
    pos = _within(k)
    local_rank = np.repeat(start, k) + pos
    refs = np.where(np.repeat(long_way, k),
                    rng.integers(1, n + 1, k.sum()),
                    node_id[zorder[local_rank]])
    # closed rings: last ref repeats the first
    closed = (rng.random(w) < p["closed_way_share"]) & (k >= 4)
    first = np.cumsum(k) - k
    last = np.cumsum(k) - 1
    refs[last[closed]] = refs[first[closed]]

    # relations: level 0 holds ways and nodes, level l > 0 adds members
    # from level l - 1, so nesting depth is rel_depth
    depth = p["rel_depth"]
    shares = np.array([0.6 ** d for d in range(depth)])
    level = np.sort(rng.choice(depth, r, p=shares / shares.sum()))
    rel_id = np.arange(1, r + 1, dtype=np.int64)
    m = np.clip(1 + rng.poisson(p["rel_members_mean"] - 1, r), 1, 12)
    mrel = np.repeat(np.arange(r), m)
    mpos = _within(m)
    # members are consecutive way ids from a random start: way ids are
    # in spatial order, so a relation stays local
    base_way = rng.integers(1, w - 12, r)
    mtype = np.where(rng.random(m.sum()) < 0.25, "n", "w").astype("<U1")
    mref = np.repeat(base_way, m) + mpos
    node_ref = refs[first[mref - 1]]
    mref = np.where(mtype == "n", node_ref, mref)
    # the first member of a nested relation is a relation one level down
    lvl_start = np.searchsorted(level, np.arange(depth))
    lvl_count = np.bincount(level, minlength=depth)
    child_lvl = np.maximum(level - 1, 0)
    child = (lvl_start[child_lvl]
             + rng.integers(0, 1 << 30, r) % np.maximum(lvl_count[child_lvl],
                                                         1)) + 1
    nested_first = (mpos == 0) & (level[mrel] > 0)
    mtype = np.where(nested_first, "r", mtype)
    mref = np.where(nested_first, child[mrel], mref)
    roles = np.array(["outer", "inner", ""])[rng.integers(0, 3, m.sum())]
    return {
        "centres": centres, "node_id": node_id, "lon": lon, "lat": lat,
        "way_k": k, "refs": refs, "rel_m": m, "mtype": mtype, "mref": mref,
        "mrole": roles, "rel_level": level, "rel_id": rel_id,
        "long_way": long_way,
    }


def _docs_table(rng, p, el) -> pa.Table:
    n, w, r = p["n_nodes"], p["n_ways"], p["n_rels"]
    d = n + w + r
    node_txt = pc.binary_join_element_wise(
        _strs(el["node_id"]), _strs(el["lon"]), _strs(el["lat"]), " ")
    way_txt = pc.binary_join_element_wise(
        _strs(np.arange(1, w + 1)),
        _join_ragged(_strs(el["refs"]), el["way_k"], ","), " ")
    member = pc.binary_join_element_wise(
        _strs(el["mtype"]), _strs(el["mref"]), _strs(el["mrole"]), ":")
    rel_txt = pc.binary_join_element_wise(
        _strs(el["rel_id"]), _join_ragged(member, el["rel_m"], ";"), " ")
    elem_kind = np.repeat(np.array(["node", "way", "relation"]), [n, w, r])
    elem_txt = pa.concat_arrays([node_txt, way_txt, rel_txt])

    n_tags = rng.integers(0, p["tags_per_doc_max"] + 1, d)
    has_info = (rng.random(d) < p["info_share"]).astype(np.int64)
    n_media = rng.integers(0, p["media_per_doc_max"] + 1, d)

    t = int(n_tags.sum())
    tag_txt = pc.binary_join_element_wise(
        _strs(_TAG_KEYS[rng.integers(0, len(_TAG_KEYS), t)]),
        _strs(_TAG_VALS[rng.integers(0, len(_TAG_VALS), t)]), "=")
    i = int(has_info.sum())
    info_txt = pc.binary_join_element_wise(
        _strs(rng.integers(1, 9, i)),
        _strs(rng.integers(1_400_000_000, 1_700_000_000, i)),
        _strs(rng.integers(1, 100_000, i)),
        _strs(rng.integers(1, 1000, i)),
        _strs(_USERS[rng.integers(0, len(_USERS), i)]), " ")
    mcount = int(n_media.sum())
    cw = p["caption_words"]
    caption = _join_ragged(
        _strs(_WORDS[rng.integers(0, len(_WORDS), mcount * cw)]),
        np.full(mcount, cw), " ")
    media_ref = pc.binary_join_element_wise(
        pa.array(["m:/"] * mcount),
        _strs(rng.integers(1 << 40, 1 << 62, mcount)), "/")

    # span order inside a doc: element, tags, info, media
    counts = 1 + n_tags + has_info + n_media
    doc = np.concatenate([np.arange(d), np.repeat(np.arange(d), n_tags),
                          np.flatnonzero(has_info),
                          np.repeat(np.arange(d), n_media)])
    slot = np.concatenate([np.zeros(d, np.int64), 1 + _within(n_tags),
                           np.zeros(i, np.int64) + 100,
                           200 + _within(n_media)])
    order = np.lexsort((slot, doc))
    kind = np.concatenate([elem_kind, np.repeat("tag", t),
                           np.repeat("info", i), np.repeat("media", mcount)])
    text = pa.concat_arrays([elem_txt, tag_txt, info_txt, caption])
    mref = pa.concat_arrays([pa.array([""] * (d + t + i)), media_ref])
    idx = pa.array(order)
    spans = pa.StructArray.from_arrays(
        [pc.take(_strs(kind), idx), pc.take(text, idx), pc.take(mref, idx),
         pa.array(_within(counts).astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"])
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    spans_col = pa.ListArray.from_arrays(pa.array(offsets), spans)
    doc_id = pc.binary_join_element_wise(
        pa.array(["d"] * d), pc.utf8_lpad(_strs(np.arange(d)), 10, "0"), "")
    table = pa.table({"doc_id": doc_id, "spans": spans_col})
    return table.take(pa.array(rng.permutation(d)))


def _queries(rng, p, el):
    centres = el["centres"]
    q = p["n_bbox_queries"]
    # extents follow a fixed log-spaced schedule from one z14 tile to a
    # city, so every seed sends the same mix of sizes; positions and
    # aspect ratios are seeded
    k = p["extent_steps"]
    steps = np.exp(np.linspace(np.log(p["bbox_min_deg"]),
                               np.log(p["bbox_max_deg"]), k))
    ext = steps[_SCHEDULE[np.arange(q) % k]] * DEG
    aspect = np.exp(rng.uniform(-0.7, 0.7, q))
    cx, cy = _points(rng, q, p["query_hot_share"], centres, 0.05 * DEG,
                     p["extent"])
    hw = (ext * aspect / 2).astype(np.int64)
    hh = (ext / aspect / 2).astype(np.int64)
    bbox = pa.table({"qid": np.arange(q), "minx": cx - hw, "miny": cy - hh,
                     "maxx": cx + hw, "maxy": cy + hh,
                     "extent_deg": ext / DEG})

    g = p["n_region_queries"]
    # 1, 2 or 3 outer sections in a fixed rotation, as with the extents
    sections = 1 + np.arange(g) % p["region_sections_max"]
    s = int(sections.sum())
    region = np.repeat(np.arange(g), sections)
    rcx, rcy = _points(rng, g, p["query_hot_share"], centres, 0.05 * DEG,
                       p["extent"])
    # sections after the first sit beside it, not on top of it
    shift = _within(sections)
    radius = np.exp(np.linspace(np.log(0.01), np.log(0.15), k))[
        _SCHEDULE[np.repeat(np.arange(g), sections) % k]] * DEG
    sx = rcx[region] + (shift * 2.5 * radius).astype(np.int64)
    sy = rcy[region]
    hole = (shift == 0) & (np.repeat(np.arange(g), sections) % 5 < 2)
    # every outer section, and a hole inside the first outer section of two
    # regions in five
    ring_cx = np.concatenate([sx, sx[hole]])
    ring_cy = np.concatenate([sy, sy[hole]])
    ring_r = np.concatenate([radius, radius[hole] * 0.35])
    ring_region = np.concatenate([region, region[hole]])
    ring_is_hole = np.concatenate([np.zeros(s, bool),
                                   np.ones(hole.sum(), bool)])
    nv = rng.integers(8, 33, len(ring_cx))
    ang = 2 * np.pi * _within(nv) / np.repeat(nv, nv)
    wobble = rng.uniform(0.6, 1.0, nv.sum())
    vr = np.repeat(ring_r, nv) * wobble
    vx = (np.repeat(ring_cx, nv) + vr * np.cos(ang)).astype(np.int64)
    vy = (np.repeat(ring_cy, nv) + vr * np.sin(ang) * 0.62).astype(np.int64)
    offs = pa.array(np.concatenate([[0], np.cumsum(nv)]).astype(np.int32))
    regions = pa.table({
        "region_id": ring_region, "is_hole": ring_is_hole,
        "lons": pa.ListArray.from_arrays(offs, pa.array(vx)),
        "lats": pa.ListArray.from_arrays(offs, pa.array(vy)),
    }).sort_by([("region_id", "ascending"), ("is_hole", "ascending")])
    return bbox, regions, sections, hole


def _changes(rng, p, el) -> pa.Table:
    cycle = np.array(p["batch_cycle"], dtype=np.int64)
    sizes = np.concatenate([p["warmup_batches"],
                            np.tile(cycle, p["n_batch_cycles"])])
    total = int(sizes.sum())
    batch = np.repeat(np.arange(len(sizes)), sizes)
    mix = p["change_mix"]
    kinds = np.array(list(mix))
    kind = kinds[rng.choice(len(kinds), total, p=list(mix.values()))]
    n = p["n_nodes"]
    # hot-biased choice of existing nodes: hotspot nodes sit closest to a
    # centre, so draw from the nodes nearest a random centre
    c = el["centres"][rng.integers(0, len(el["centres"]), total)]
    hot = rng.random(total) < p["change_hot_share"]
    near = rng.integers(0, n, total)
    cand = rng.integers(0, n, (total, 4))
    dist = (np.abs(el["lon"][cand] - c[:, :1]) + np.abs(el["lat"][cand]
                                                           - c[:, 1:]))
    near_hot = cand[np.arange(total), np.argmin(dist, axis=1)]
    target = np.where(hot, near_hot, near)
    node_id = el["node_id"][target]
    move = p["change_move"]
    lon = el["lon"][target] + rng.integers(-move, move + 1, total)
    lat = el["lat"][target] + rng.integers(-move, move + 1, total)
    is_create = kind == "create"
    nlon, nlat = _points(rng, int(is_create.sum()), p["change_hot_share"],
                         el["centres"], p["hotspot_sigma"], p["extent"])
    node_id[is_create] = n + 1 + np.arange(int(is_create.sum()))
    lon[is_create], lat[is_create] = nlon, nlat
    return pa.table({"batch": batch.astype(np.int32), "node_id": node_id,
                     "seq": np.arange(total, dtype=np.int64),
                     "change_type": kind, "lon": lon, "lat": lat})


def _write(table: pa.Table, path: str) -> None:
    # small row groups: the change batches are read one batch at a time,
    # and the row-group statistics let the scan skip the others
    pq.write_table(table, path, compression="snappy", row_group_size=4096)


def generate(seed: int, out_dir: str, props: dict | None = None) -> dict:
    """Write docs/, queries and changes under `out_dir`; return the
    recorded input sizes, properties and content checksum."""
    p = dict(PROPS, **(props or {}))
    rng = np.random.default_rng(seed)
    el = _elements(rng, p)
    docs = _docs_table(rng, p, el)
    bbox, regions, sections, holes = _queries(rng, p, el)
    changes = _changes(rng, p, el)

    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    files = []
    parts = np.array_split(np.arange(docs.num_rows), p["docs_files"])
    for j, ix in enumerate(parts):
        f = os.path.join(docs_dir, f"part-{j:05d}.parquet")
        _write(docs.slice(int(ix[0]), len(ix)), f)
        files.append(f)
    for name, t in (("bbox_queries", bbox), ("regions", regions),
                    ("changes", changes)):
        f = os.path.join(out_dir, f"{name}.parquet")
        _write(t, f)
        files.append(f)

    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    docs_bytes = sum(os.path.getsize(f) for f in files[:p["docs_files"]])
    k = el["way_k"]
    return {
        "seed": seed,
        "checksum": h.hexdigest(),
        "sizes": {
            "docs": docs.num_rows, "nodes": p["n_nodes"],
            "ways": p["n_ways"], "relations": p["n_rels"],
            "spans": int(pc.sum(pc.list_value_length(docs["spans"])).as_py()),
            "docs_parquet_bytes": docs_bytes,
            "bbox_queries": bbox.num_rows,
            "region_queries": p["n_region_queries"],
            "change_batches": (len(p["warmup_batches"])
                               + len(p["batch_cycle"]) * p["n_batch_cycles"]),
            "changes": changes.num_rows,
        },
        "props": {
            "hotspot_share": p["hotspot_share"],
            "hotspots": p["hotspots"],
            "long_way_share": round(float(el["long_way"].mean()), 4),
            "refs_per_way_mean": round(float(k.mean()), 3),
            "refs_per_way_max": int(k.max()),
            "rel_depth": int(el["rel_level"].max()) + 1,
            "spans_per_doc_mean": round(float(
                pc.mean(pc.list_value_length(docs["spans"])).as_py()), 3),
            "bbox_extent_deg": [p["bbox_min_deg"], p["bbox_max_deg"]],
            "region_sections_mean": round(float(sections.mean()), 3),
            # holes sit in a region's first section: a share of regions
            "region_hole_share": round(float(holes.sum()) / len(sections), 3),
            "batch_cycle": p["batch_cycle"],
            "change_mix": p["change_mix"],
        },
    }
