"""Geometry construction: way coords, point/line/polygon creation,
multipolygon relation assembly.

Pipeline (reference GenerateGeometries, /root/reference/geometry/
geometry.go:225-327, re-expressed as joins + grouped-map):

  1. add_way_coords — way node-refs ⋈ node locations, re-assembled in ref
     order (coordstore.go:170-274's streaming tile-cache join becomes one
     shuffle join + collect_list/array_sort); ways with missing nodes are
     dropped and counted (coordstore.go:49-51).
  2. make_way_geometries — closed+poly-tagged rings become polygons, the
     rest linestrings (makegeometries.go:139-189); bbox native; area via
     the mercator shoelace (zorder.go:133-199); z-order from tags; cell
     recalculated with buffer 0.025 (geometry.go:311-317).
  3. assemble_multipolygons — groupBy(rel_id).applyInPandas over member-way
     rings: merge_rings / group_rings / finishRel semantics
     (makegeometries.go:335-643).  Per-group Python over a handful of rings
     — the distribution axis is the relation id; mega-relations are the
     known skew case and ride on AQE skew splitting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import cell_of_bbox_udf
from ..qtcore import rings as R

GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON, GEOM_MULTIPOLYGON = 1, 2, 3, 7


# regex (as a Spark SQL string literal) matching any char the verbatim
# JSON fold can't emit: outside printable ASCII, or '"', or '\'
_JSON_RISKY_RE = r"[^\\x20-\\x21\\x23-\\x5B\\x5D-\\x7E]"


def _json_fold_udf():
    """Arrow-batched escape-capable other_tags fold: exact json.dumps
    (sorted keys, compact separators — the add_other_tags semantic,
    qtcore/tags.py) for rows the native verbatim fold can't serialize.
    Receives NULL for safe rows, so per-row cost is only paid where
    escaping is actually needed."""
    import json

    @F.pandas_udf("string")
    def _jfold(m: pd.Series) -> pd.Series:
        def f(entries):
            if entries is None:
                return None
            d = entries if isinstance(entries, dict) else dict(entries)
            return json.dumps(d, sort_keys=True, separators=(",", ":"))

        return m.map(f)

    # NOTE: deliberately left deterministic.  An asNondeterministic()
    # flag here would also stop predicate pushdown below the rewrite —
    # which fixes the q31 pushdown blowup but was measured to tip the
    # 72-gate single-session stress run at sf0.1 into executor OOM at
    # default heap (filters that prune rows early stopped pushing for
    # every rewrite consumer).  The pushdown blowup is instead fenced at
    # its source: the synthesized tags views derive the map from an
    # aggregate output (gate._WAY_TAGS_SPARK_SQL), which predicates
    # cannot cross, so expensive tag predicates stop at the per-way
    # boundary while cheap row filters keep pushing.
    return _jfold


def with_tag_rewrite(df: DataFrame, which: str = "way",
                     tag_filter: dict | None = None,
                     tags_col: str = "tags") -> DataFrame:
    """Native tag filter/rewrite (wayTags/nodeTags + addOtherTags,
    makegeometries.go:24-120): keep style keys for `which` ('way'|'node'),
    fold every other key — plus any pre-existing other_tags value — into a
    sorted-key compact JSON string under 'other_tags', and derive:

      * `is_feature` — any style feature key present
      * `is_poly`    — (way only) any poly-ish key, area=yes, or boundary
      * `z_order`    — (way only) the zorder.go:66-121 rule over the
                       REWRITTEN tags: railway beats highway (sorted-key
                       iteration order), layer*10, bridge/tunnel +/-1,
                       explicit z_order override

    All hot-path columns are pure Catalyst expressions: ONE packed struct
    holds every value derived from the input map, and exactly two
    projection layers sit above it.  Do not re-step it into chained
    withColumns — that brings back the measured 17x CollapseProject
    inlining of the tags expression (see the comments below).

    JSON escaping: the native fold emits values verbatim, which equals
    json.dumps output only for printable-ASCII payloads without " or \\.
    Rows whose folded keys/values fall outside that set are detected
    natively (one rlike over the fold entries) and routed through an
    Arrow-batched json.dumps fallback — the UDF receives NULL for every
    safe row, so arbitrary payloads are always well-formed JSON while the
    common case stays JVM-side.  Scalar reference: qtcore/tags.py
    (property-tested parity).
    """
    from ..qtcore.tags import DEFAULT_TAG_FILTER

    tf = DEFAULT_TAG_FILTER if tag_filter is None else tag_filter
    is_which = (lambda tt: tt.is_way) if which == "way" else (
        lambda tt: tt.is_node)
    keep = [k for k, tt in tf.items() if is_which(tt) and k != "other_tags"]
    feat = [k for k, tt in tf.items()
            if is_which(tt) and tt.is_feature and k != "other_tags"]
    poly = [k for k, tt in tf.items()
            if tt.is_way and tt.is_poly and k != "other_tags"]
    fold_enabled = "other_tags" in tf
    keep_l = ", ".join(f"'{k}'" for k in keep) or "''"
    feat_l = ", ".join(f"'{k}'" for k in feat) or "''"
    poly_l = ", ".join(f"'{k}'" for k in poly) or "''"
    t = "__tr"
    tc = tags_col

    # ONE pack expression holds every value derived directly from the
    # input map, so `{tc}` appears in exactly one projection entry.  The
    # stepped form this replaces referenced `{tc}` once per derived
    # column, and Catalyst's pairwise CollapseProject inlined the
    # (possibly expensive — e.g. a synthesized-map-literal) tags
    # expression into every reference transitively: 17 copies measured
    # in the q31 optimized plan.  Higher-order functions are
    # CodegenFallback (interpreted), so each copy re-evaluated per row —
    # 13 s for the 14.7k-row q31 projection at sf0.1.  Packing restores
    # one evaluation (plan 17 -> 2 copies, stage ~1 s); downstream steps
    # read cheap struct fields.
    pack_fields = [
        f"{tc} is null as isnil",
        f"{tc} is not null and "
        f"exists(map_keys({tc}), k -> k in ({feat_l})) as feat",
        f"map_filter({tc}, (k, v) -> k in ({keep_l})) as kept",
        f"map_filter({tc}, (k, v) -> not k in ({keep_l})) as fold",
        f"{str(fold_enabled).lower()} and {tc} is not null and ("
        f"exists(map_keys({tc}),"
        f"  k -> not k in ({keep_l}, 'other_tags')) "
        f"or element_at({tc}, 'other_tags') is not null) as need",
    ]
    if which == "way":
        # area=yes counts only when the style lists 'area' as a way key
        # (wayTags checks it inside the filtered-key branch,
        # makegeometries.go:99-103)
        area_tt = tf.get("area")
        area_clause = (
            "or lower(coalesce(element_at({tc}, 'area'), '')) "
            "in ('1', 'yes', 'true') ".format(tc=tc)
            if area_tt is not None and area_tt.is_way else ""
        )
        pack_fields.append(
            f"{tc} is not null and ("
            f"exists(map_keys({tc}), k -> k in ({poly_l})) "
            f"{area_clause}"
            f"or element_at({tc}, 'boundary') is not null) as poly"
        )
    fold_sql = f"map_filter({tc}, (k, v) -> not k in ({keep_l}))"
    # the fold-derived values live INSIDE the pack too (each re-states the
    # fold expression — sibling struct fields cannot reference each other
    # — but that only adds references to the materialized input map, not
    # copies of its producing expression)
    pack_fields.append(
        f"'{{' || array_join(transform(array_sort("
        f"map_entries({fold_sql})), "
        "e -> '\"' || e.key || '\":\"' || e.value || '\"'), ',') "
        f"|| '}}' as json"
    )
    # chars the verbatim fold cannot emit as valid JSON: anything
    # outside printable ASCII minus '"' (x22) and '\' (x5C)
    pack_fields.append(
        f"exists(map_entries({fold_sql}), e -> "
        f"e.key rlike '{_JSON_RISKY_RE}' "
        f"or e.value rlike '{_JSON_RISKY_RE}') as risky"
    )
    pk = f"{t}_pack"
    df = df.withColumn(
        pk, F.expr("struct(" + ", ".join(pack_fields) + ")")
    )
    # Exactly TWO projection layers above the pack — the Python-UDF layer
    # and ONE final fan-out select.  A chain of withColumns here would
    # re-trigger the transitive inlining the pack exists to stop: each
    # step referencing the pack once collapses pairwise, duplicating the
    # pack (and the tags expression inside it) per consumer.  With all
    # consumers in one projection, CollapseProject's multi-use guard
    # keeps the pack — and below it the input tags expression —
    # materialized once per row.
    df = df.withColumn(
        f"{t}_jesc",
        _json_fold_udf()(
            F.expr(f"case when {pk}.need and {pk}.risky "
                   f"then {pk}.fold end")
        ),
    )
    tags_out_sql = (
        f"case when {pk}.isnil then null "
        f"when {pk}.need then map_concat({pk}.kept, "
        f"map('other_tags', coalesce({t}_jesc, {pk}.json))) "
        f"else {pk}.kept end"
    )
    extra = [F.expr(tags_out_sql).alias("tags_out")]
    if which == "way":
        # z-order over the REWRITTEN tags == z-order over the kept map:
        # find_zorder only reads highway/railway/layer/bridge/tunnel/
        # z_order, never 'other_tags', and for every key k != 'other_tags'
        # element_at(tags_out, k) == element_at(kept, k) in all branches
        # (need=true adds only 'other_tags'; need=false is kept verbatim;
        # tags null makes both maps null).  Reading the materialized kept
        # field avoids re-inlining the tags_out construction into the 8
        # element_at references of the z-order chain.
        extra.append(F.expr(_zorder_sql(f"{pk}.kept")).alias("z_order"))
        extra.append(F.col(f"{pk}.poly").alias("is_poly"))
    extra.append(F.col(f"{pk}.feat").alias("is_feature"))
    # input columns named like an output are replaced, as withColumn would
    outs = {"tags_out", "z_order", "is_poly", "is_feature"}
    return df.select(
        *[F.col(f"`{c}`") for c in df.columns
          if c not in outs and not c.startswith(t)],
        *extra,
    )


def _zorder_sql(kept: str) -> str:
    """find_zorder (zorder.go:60-119 — exact semantics, order-independent)
    as ONE SQL expression over a cheap map reference: zo = max(highway rank
    if > 1, 5 if railway, 0); l = sum(int(layer)) +1/-1 for bridge/tunnel
    unless explicitly false; an explicit z_order tag replaces zo
    (unparseable -> 0 outright); l*10 added last.  The rank table is a map
    literal, no UDF (scalar reference: qtcore.rings.find_zorder).  A NULL
    map gives 0, like an empty one."""
    hw = ", ".join(
        f"'{k}', {v}L" for k, v in sorted(R.HIGHWAY_ORDER.items())
    )
    hwv = (f"coalesce(element_at(map({hw}), "
           f"element_at({kept}, 'highway')), 0L)")
    l = (
        f"coalesce(try_cast(element_at({kept}, 'layer') as bigint), 0L) "
        f"+ (case when element_at({kept}, 'bridge') is not null and "
        f"not lower(element_at({kept}, 'bridge')) in ('0','no','false')"
        f" then 1L else 0L end) "
        f"- (case when element_at({kept}, 'tunnel') is not null and "
        f"not lower(element_at({kept}, 'tunnel')) in ('0','no','false')"
        f" then 1L else 0L end)"
    )
    base = (
        f"greatest(case when {hwv} > 1 then {hwv} else 0L end, "
        f"case when element_at({kept}, 'railway') is not null "
        f"then 5L else 0L end)"
    )
    return (
        f"case when coalesce(element_at({kept}, 'z_order'), '') != ''"
        f" then (case when try_cast(element_at({kept}, 'z_order')"
        f" as bigint) is null then 0L else"
        f" try_cast(element_at({kept}, 'z_order') as bigint)"
        f" + ({l}) * 10 end) "
        f"else {base} + ({l}) * 10 end"
    )


def make_node_geometries(nodes_with_tags: DataFrame,
                         tag_filter: dict | None = None,
                         max_level: int = 18) -> DataFrame:
    """Node -> Point features (makegeometries.go:139-157): the nodeTags
    pass runs natively (with_tag_rewrite 'node'), nodes WITHOUT a
    node-feature tag are dropped, survivors emit GEOM_POINT rows with the
    rewritten tags, a degenerate point bbox, and the depth-`max_level`
    point cell — all pure Catalyst expressions.

    nodes_with_tags: (node_id, lon, lat, tags map<string,string>).
    """
    from ..functions.cells import with_point_cell

    df = with_tag_rewrite(nodes_with_tags, "node", tag_filter)
    df = (
        df.filter(F.col("is_feature"))
        .drop("tags")
        .withColumnRenamed("tags_out", "tags")
        .withColumn("geom_type", F.lit(GEOM_POINT))
        .withColumn("minx", F.col("lon"))
        .withColumn("miny", F.col("lat"))
        .withColumn("maxx", F.col("lon"))
        .withColumn("maxy", F.col("lat"))
    )
    return with_point_cell(df, "lon", "lat", "cell", max_level)


def add_way_coords(way_refs: DataFrame, nodes: DataFrame,
                   drop_missing: bool = True) -> DataFrame:
    """way_refs(way_id, pos, ref) ⋈ nodes(node_id, lon, lat) ->
    (way_id, refs, lons, lats, n_refs, n_found).  Ref order preserved via
    sort_array over (pos, ...) structs.  drop_missing drops ways whose node
    set is incomplete (the reference logs and skips them,
    coordstore.go:49-51); pass False to keep them for accounting."""
    j = way_refs.join(
        nodes, way_refs["ref"] == nodes["node_id"], "left"
    ).select("way_id", "pos", "ref", "lon", "lat")
    agg = (
        j.groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "ref", "lon", "lat"))
            ).alias("pts"),
            F.count(F.lit(1)).alias("n_refs"),
            F.count("lon").alias("n_found"),
        )
        .select(
            "way_id",
            F.expr("transform(pts, p -> p.ref)").alias("refs"),
            F.expr("transform(pts, p -> p.lon)").alias("lons"),
            F.expr("transform(pts, p -> p.lat)").alias("lats"),
            "n_refs",
            "n_found",
        )
    )
    if drop_missing:
        return agg.filter(F.col("n_refs") == F.col("n_found"))
    return agg


def make_way_geometries(way_coords: DataFrame, way_tags: DataFrame | None,
                        recalc_buffer: float = 0.025,
                        max_level: int = 18,
                        tag_filter: dict | None = None) -> DataFrame:
    """Way rows -> geometry rows: rewritten tags, geom_type, bbox, z_order,
    way_area, is_feature, cell (makegeometries.go:160-189).

    With way_tags (way_id, tags map): the full wayTags pass runs natively
    (with_tag_rewrite) — style keys kept, the rest folded into other_tags
    JSON, is_poly from poly-ish keys / area=yes / boundary, z_order per
    zorder.go.  is_poly additionally requires a closed ring (:165-167).
    way_tags=None keeps the assembly-only mode (all closed rings become
    polygons, tags null).  Area: vectorized flat-ragged Arrow kernel
    (qtcore.rings.ring_areas_vectorized) — no per-row Python."""
    df = way_coords
    if way_tags is not None:
        df = df.join(way_tags, "way_id", "left")
        df = with_tag_rewrite(df, "way", tag_filter)
        df = df.drop("tags").withColumnRenamed("tags_out", "tags")
        poly_tag = F.col("is_poly")
    else:
        df = (
            df.withColumn("tags", F.expr("cast(null as map<string,string>)"))
            .withColumn("z_order", F.lit(0).cast("long"))
            .withColumn("is_feature", F.lit(False))
        )
        poly_tag = F.lit(True)

    closed = F.expr(
        "size(refs) >= 3 and element_at(refs, 1) = element_at(refs, -1)"
    )
    df = (
        df.withColumn("is_ring", closed)
        .withColumn("is_poly", closed & poly_tag)
        .withColumn(
            "geom_type",
            F.when(F.col("is_poly"), F.lit(GEOM_POLYGON)).otherwise(
                F.lit(GEOM_LINESTRING)
            ),
        )
        .withColumn("minx", F.array_min("lons"))
        .withColumn("miny", F.array_min("lats"))
        .withColumn("maxx", F.array_max("lons"))
        .withColumn("maxy", F.array_max("lats"))
    )
    area = _ring_area_udf()
    calc = cell_of_bbox_udf(recalc_buffer, max_level)
    return (
        df.withColumn(
            "way_area",
            F.when(F.col("is_poly"), area("lons", "lats")).otherwise(F.lit(0.0)),
        )
        .withColumn("cell", calc("minx", "miny", "maxx", "maxy"))
    )


def _ring_area_udf():
    """Arrow-batched ragged ring area: one vectorized kernel per batch
    (flattened offsets + position-wise sequential fold — bit-identical to
    the scalar polygon_area, see qtcore.rings.ring_areas_vectorized)."""

    @F.pandas_udf("double")
    def _area(lons: pd.Series, lats: pd.Series) -> pd.Series:
        return pd.Series(R.ring_areas_vectorized(list(lons), list(lats)))

    return _area


_MP_SCHEMA = (
    "rel_id long, geom_type int, n_rings int, n_groups int, "
    "way_area double, minx long, miny long, maxx long, maxy long, "
    "outer_refs array<long>, z_order long, tags map<string,string>, "
    "del_pairs array<struct<way_id: long, key: string>>, "
    "rings array<struct<grp: int, lons: array<long>, lats: array<long>>>"
)


def assemble_multipolygons(rel_way_members: DataFrame,
                           way_coords: DataFrame,
                           rel_tags: DataFrame | None = None,
                           way_tags: DataFrame | None = None,
                           tag_filter: dict | None = None) -> DataFrame:
    """Multipolygon assembly (finishRel, makegeometries.go:472-643).

    rel_way_members: (rel_id, ref, role in 'outer'/'inner'/'' [, mpos]) —
    mpos is the member's position within the relation; rings are processed
    in member order like the reference (without it, grouped-map row order
    would be nondeterministic and merge_rings order-sensitive).
    way_coords: add_way_coords output.
    rel_tags / way_tags: optional (rel_id|way_id, tags map) — when given,
    the full tag merge-back runs per group: outer-way tags accumulate with
    Add/Clip conflict semantics into the relation tags (skipped for
    boundary relations), wayTags filters + folds other_tags + decides
    polygon-ness, relations left tagless or non-poly are DROPPED, and tags
    the final relation shares with an outer way are emitted as `del_pairs`
    for apply_outer_tag_deletions (:603-627).

    Each group runs merge_rings -> check_ring -> group_rings -> area.
    Polygon if one ring group, MultiPolygon if several; relations with no
    valid outer ring are dropped, orphan inners dropped (allowLoose).
    Distribution axis is the relation id; mega-relations are the known skew
    case and ride on AQE skew splitting.
    """
    from ..qtcore import tags as T

    with_tags = rel_tags is not None
    members = rel_way_members
    if "mpos" not in members.columns:
        members = members.withColumn("mpos", F.lit(0).cast("long"))
    if with_tags:
        if way_tags is not None:
            members = members.join(
                way_tags.select(F.col("way_id").alias("ref"),
                                F.col("tags").alias("wtags")),
                "ref", "left",
            )
        else:
            members = members.withColumn(
                "wtags", F.expr("cast(null as map<string,string>)")
            )
    joined = (
        members.join(
            way_coords.select("way_id", "refs", "lons", "lats"),
            members["ref"] == way_coords["way_id"],
            "inner",
        )
        .select("rel_id", "mpos", "role", "way_id", "refs", "lons", "lats",
                *(["wtags"] if with_tags else []))
    )
    if with_tags:
        joined = joined.join(
            rel_tags.select("rel_id", F.col("tags").alias("rtags")),
            "rel_id", "left",
        )

    def _assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rel_id = int(key[0])
        pdf = pdf.sort_values(["mpos", "way_id"], kind="mergesort")
        if with_tags:
            rt0 = pdf["rtags"].iloc[0]
            rt = dict(rt0) if rt0 is not None else {}
        else:
            rt = {}
        isboundary = "boundary" in rt
        outers, inners, outer_refs, outer_tags = [], [], [], {}
        way_tag_map = {}
        # zip over column arrays, not iterrows: same per-member work minus
        # pandas row-boxing (matters on mega-relations, the skew axis)
        wtags_col = (
            pdf["wtags"] if with_tags else [None] * len(pdf)
        )
        for role, way_id, refs, lons, lats, wtags_v in zip(
            pdf["role"], pdf["way_id"], pdf["refs"], pdf["lons"],
            pdf["lats"], wtags_col,
        ):
            ring = [
                (int(r), int(a), int(b))
                for r, a, b in zip(refs, lons, lats)
            ]
            if role == "inner":
                inners.append(ring)
            else:
                outers.append(ring)
                wid = int(way_id)
                outer_refs.append(wid)
                if with_tags:
                    wt = dict(wtags_v) if wtags_v is not None else {}
                    way_tag_map[wid] = wt
                    if not isboundary:
                        T.tags_add(outer_tags, wt)
        if not outers:
            return _MP_EMPTY()
        outer_rings = [r for r in R.merge_rings(outers) if R.check_ring(r)]
        inner_rings = [r for r in R.merge_rings(inners) if R.check_ring(r)]
        if not outer_rings:
            return _MP_EMPTY()
        groups = R.group_rings(outer_rings, inner_rings, allow_loose=True)

        zo = 0
        del_pairs: list = []
        if with_tags:
            # rt.Add(outerTags); rt.Clip(); wayTags(rt) (:603-607)
            T.tags_add(rt, outer_tags)
            T.tags_clip(rt)
            zo, isp, rt = T.way_tags_filter(rt, tag_filter)
            if not rt or not isp:
                return _MP_EMPTY()
            if not isboundary:
                # duplicated (k,v) deleted from outer ways (:611-627)
                for wid in outer_refs:
                    wt = way_tag_map.get(wid, {})
                    for k, v in rt.items():
                        if wt.get(k) == v:
                            del_pairs.append({"way_id": wid, "key": k})

        area = 0.0
        for g in groups:
            try:
                area += R.polygon_area(g)
            except ValueError:
                pass
        pts = [p for g in groups for ring in g for p in ring]
        # per-ring coordinates (post polygon_area orientation fixing, which
        # mutates ring order in place like the reference) for WKB/WKT sinks
        rings_out = [
            {
                "grp": gi,
                "lons": [int(p[1]) for p in ring],
                "lats": [int(p[2]) for p in ring],
            }
            for gi, g in enumerate(groups)
            for ring in g
        ]
        return pd.DataFrame(
            [
                {
                    "rel_id": rel_id,
                    "geom_type": GEOM_POLYGON if len(groups) == 1
                    else GEOM_MULTIPOLYGON,
                    "n_rings": sum(len(g) for g in groups),
                    "n_groups": len(groups),
                    "way_area": area,
                    "minx": min(p[1] for p in pts),
                    "miny": min(p[2] for p in pts),
                    "maxx": max(p[1] for p in pts),
                    "maxy": max(p[2] for p in pts),
                    "outer_refs": sorted(outer_refs),
                    "z_order": zo,
                    "tags": rt if with_tags else None,
                    "del_pairs": del_pairs,
                    "rings": rings_out,
                }
            ]
        )

    out = joined.groupBy("rel_id").applyInPandas(_assemble, _MP_SCHEMA)
    # relations re-Calculate their quadtree cell from the assembled bbox
    # with buffer 0.025, exactly like ways (geometry/geometry.go:311-317)
    # — without it the features can't be tiled/served
    calc = cell_of_bbox_udf(0.025, 18)
    return out.withColumn("cell", calc("minx", "miny", "maxx", "maxy"))


_MP_COLS = ["rel_id", "geom_type", "n_rings", "n_groups", "way_area",
            "minx", "miny", "maxx", "maxy", "outer_refs", "z_order",
            "tags", "del_pairs", "rings"]
_MP_DTYPES = {
    "rel_id": "int64", "geom_type": "int32", "n_rings": "int32",
    "n_groups": "int32", "way_area": "float64", "minx": "int64",
    "miny": "int64", "maxx": "int64", "maxy": "int64",
    "outer_refs": "object", "z_order": "int64", "tags": "object",
    "del_pairs": "object", "rings": "object",
}


def _MP_EMPTY() -> pd.DataFrame:
    return pd.DataFrame(columns=_MP_COLS).astype(_MP_DTYPES)


def apply_outer_tag_deletions(way_geoms: DataFrame, mp_out: DataFrame,
                              tag_filter: dict | None = None) -> DataFrame:
    """Second pass of the finishRel tag merge-back (makegeometries.go
    :538-556): outer ways re-emit standalone only after the tags their
    relations inherited are deleted, and only if a feature tag remains.

    way_geoms: rows with (way_id, tags map); mp_out: assemble_multipolygons
    output (del_pairs are aggregated per way across ALL owning relations —
    the reference's ww-consumed bookkeeping collapses to this since every
    relation contributes its deletions).  Fully distributed: explode + one
    aggregation + one join; the per-row tag subtraction and feature test
    are native map expressions.
    """
    from ..qtcore.tags import DEFAULT_TAG_FILTER

    tf = DEFAULT_TAG_FILTER if tag_filter is None else tag_filter
    feature_keys = [k for k, tt in tf.items() if tt.is_way and tt.is_feature]
    dels = (
        mp_out.select(F.explode("del_pairs").alias("d"))
        .select(F.col("d.way_id").alias("way_id"), F.col("d.key").alias("key"))
        .groupBy("way_id")
        .agg(F.collect_set("key").alias("_del_keys"))
    )
    out = way_geoms.join(dels, "way_id", "left").withColumn(
        "tags",
        F.expr(
            "case when _del_keys is null then tags else "
            "map_filter(tags, (k, v) -> not array_contains(_del_keys, k)) end"
        ),
    ).drop("_del_keys")
    if not feature_keys:  # no way-feature keys in the style -> drop all
        return out.filter(F.lit(False))
    feat = " or ".join(
        f"element_at(tags, '{k}') is not null" for k in feature_keys
    )
    return out.filter(F.expr(f"tags is not null and ({feat})"))


def generate_geometries(nodes: DataFrame, node_tags: DataFrame | None,
                        way_refs: DataFrame, way_tags: DataFrame | None,
                        rel_members: DataFrame | None,
                        rel_tags: DataFrame | None,
                        tag_filter: dict | None = None,
                        recalc_buffer: float = 0.025,
                        max_level: int = 18) -> DataFrame:
    """The fused GenerateGeometries DAG (entry point C,
    geometry/geometry.go:225-327) — what a user actually runs end-to-end:

      1. node points     = nodeTags rewrite -> feature filter -> point cell
      2. way coords      = ordered node-location assembly
      3. way geometries  = wayTags rewrite, ring/poly split, z-order,
                           mercator area, buffer-`recalc_buffer` cell
      4. multipolygons   = finishRel assembly + tag merge-back + cell
      5. outer deletions = relation-inherited tags deleted from member
                           outer ways; non-feature ways drop
      6. one unified features table (kind, id, geom_type, cell, z_order,
         bbox, way_area, tags) ready for tile grouping / partitioned
         serving (plans/partitioned.py).

    Every seam is the operator gated individually (q26/q27/q31/q34/q37/
    q38); this function pins the cross-stage schema so the composition
    itself is testable (gate q39).  nodes: (node_id, lon, lat);
    node_tags/way_tags/rel_tags: (id, tags map); rel_members:
    (rel_id, mpos, ref, role).
    """
    nt = nodes
    if node_tags is not None:
        nt = nodes.join(node_tags, "node_id", "left")
    else:
        nt = nodes.withColumn(
            "tags", F.expr("cast(null as map<string,string>)")
        )
    points = make_node_geometries(nt, tag_filter, max_level).select(
        F.lit("point").alias("kind"),
        F.col("node_id").alias("id"),
        "geom_type", "cell",
        F.lit(0).cast("long").alias("z_order"),
        "minx", "miny", "maxx", "maxy",
        F.lit(0.0).alias("way_area"), "tags",
    )

    wc = add_way_coords(way_refs, nodes)
    wgeoms = make_way_geometries(
        wc, way_tags, recalc_buffer, max_level, tag_filter
    )

    if rel_members is not None:
        mp = assemble_multipolygons(
            rel_members, wc,
            rel_tags=rel_tags,
            way_tags=wgeoms.select("way_id", "tags"),
            tag_filter=tag_filter,
        )
        rels = mp.select(
            F.lit("relation").alias("kind"),
            F.col("rel_id").alias("id"),
            "geom_type", "cell", "z_order",
            "minx", "miny", "maxx", "maxy", "way_area", "tags",
        )
        ways_final = apply_outer_tag_deletions(wgeoms, mp, tag_filter)
    else:
        rels = None
        ways_final = wgeoms.filter(F.col("is_feature"))

    ways_out = ways_final.select(
        F.lit("way").alias("kind"),
        F.col("way_id").alias("id"),
        "geom_type", "cell", "z_order",
        "minx", "miny", "maxx", "maxy", "way_area", "tags",
    )
    out = points.unionByName(ways_out)
    if rels is not None:
        out = out.unionByName(rels)
    return out
