"""Driver-gate query suite: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus an equivalent DuckDB oracle SQL.

The Spark side runs ENGINE code (native cell expressions, Arrow UDF kernels,
operator modules); the oracle side runs independently-generated DuckDB SQL
(oracle/sqlgen.py + oracle/duck_calc.py).  Inputs are the driver's parquet
tables plus the deterministic spatial synthesis of sources/tpch.py, which is
dialect-neutral SQL shared verbatim by both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.cells import (
    cell_round,
    cell_string,
    with_cell_tuple,
    with_point_cell,
)
from .operators.ann import cosine_topk
from .operators.calcqts import node_cells, relation_cells, way_bboxes, way_cells
from .operators.spatial_join import bbox_join, knn_join, raster_vector_join
from .operators.update import latest_version, merge_changes
from .oracle import sqlgen
from .oracle.duck_calc import calculate_cte_fragments
from .oracle.sqlgen import DUCK
from .sources import tpch
from .sources.poly import PolyRegion, poly_region_filter

# ---------------------------------------------------------------- constants

QUERY_BOXES = [
    (1, -6000000, 503000000, -4000000, 507000000),
    (2, 2000000, 514000000, 4000000, 516000000),
    (3, 7000000, 510000000, 9000000, 512000000),
    (4, -10000000, 500000000, 10000000, 520000000),
    (5, 0, 505000000, 1000000, 506000000),
    (6, -9500000, 518000000, -9000000, 519000000),
    (7, 4800000, 500100000, 5200000, 500500000),
    (8, -1000000, 509000000, 1000000, 511000000),
]
BOX_COLS = ["query_id", "qminx", "qminy", "qmaxx", "qmaxy"]

POLY_LONS = [-6000000, -2000000, 0, 2000000, -1000000, -5000000]
POLY_LATS = [502000000, 501000000, 505000000, 512000000, 516000000, 511000000]

KNN_POINTS = [
    (1, -5000000, 505000000),
    (2, 3000000, 515000000),
    (3, 8000000, 511000000),
    (4, 0, 510000000),
    (5, -9999999, 500000001),
    (6, 9999999, 519999999),
    (7, 123456, 507654321),
    (8, -7654321, 513000000),
]
KNN_K = 5
ANN_K = 3
ANN_N_QUERIES = 5

_prepped: dict = {}


def _prep(spark: SparkSession, sf_dir: str) -> None:
    # keyed on the JVM application id, not id(spark): Python session proxies
    # can be GC'd and a new one allocated at the same address
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _prepped:
        from .conf import apply_engine_conf

        apply_engine_conf(spark)
        tpch.load_base_tables(spark, sf_dir)
        tpch.register_synth_views(spark)
        _prepped[key] = True


def _values_sql(rows, cols, alias="q") -> str:
    vals = ", ".join("(" + ", ".join(str(v) for v in r) + ")" for r in rows)
    return f"(values {vals}) as {alias}({', '.join(cols)})"


def _boxes_df(spark):
    return spark.createDataFrame(QUERY_BOXES, BOX_COLS)


def _way_bbox_df(spark):
    return way_bboxes(
        spark.table("way_refs"), spark.table("nodes"), salt_buckets=0
    )


# way-bbox CTE shared by several oracles
_WB_CTE = """wb as (
  select way_id, min(n.lon) as minx, min(n.lat) as miny,
         max(n.lon) as maxx, max(n.lat) as maxy
  from way_refs w join nodes n on w.ref = n.node_id
  group by way_id
)"""


def _way_cells_oracle_ctes() -> str:
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")[len("with "):]
        + ",\n" + _WB_CTE + ",\n"
        + calculate_cte_fragments("select * from wb", "way_id", 0.05, 18,
                                  prefix="wc")
    )


def _all_cells_cte() -> str:
    """CTE chain ending in all_cells(cell) = node cells UNION ALL way cells
    — the independent DuckDB computation of the full element cell set
    (shared by the q25 histogram pass and the q25 oracle SQL)."""
    fin = sqlgen.common_finish_sql(DUCK, "p.mn", "p.mx", "p.md")
    fb_src = ("select node_id, lon as minx, lat as miny, "
              "lon + 1 as maxx, lat + 1 as maxy from nodes")
    return (
        _way_cells_oracle_ctes() + ",\n"
        + calculate_cte_fragments(fb_src, "node_id", 0.05, 18, prefix="fb")
        + """,
parent as (
  select w.ref as node_id,
         min((case when c.cell >= 0 then c.cell end) & (-32)) as mn,
         max((case when c.cell >= 0 then c.cell end) & (-32)) as mx,
         min((case when c.cell >= 0 then c.cell end) & 31) as md
  from way_refs w join wc_cells c using (way_id)
  group by w.ref
),
nc_cells as (
  select n.node_id,
         coalesce(""" + fin + """, f.cell) as cell
  from nodes n
  left join parent p on n.node_id = p.node_id
  join fb_cells f on n.node_id = f.node_id
),
all_cells as (
  select cell from nc_cells union all select cell from wc_cells
)"""
    )


# ---------------------------------------------------------------- queries


def q01_node_cell_histogram(spark, sf_dir) -> DataFrame:
    """Point-cell assignment (native closed form) + per-cell counts — the
    minimum end-to-end slice of SURVEY.md §7.1 step 3."""
    _prep(spark, sf_dir)
    return (
        with_point_cell(spark.table("nodes"), "lon", "lat", "cell", 18)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def q01_oracle() -> str:
    cell = sqlgen.point_cell_sql(DUCK, "lon", "lat", 18)
    return (
        tpch.synth_cte_prefix("nodes")
        + f"\nselect {cell} as cell, count(*) as n_nodes from nodes group by 1"
    )


def q02_cell_codec(spark, sf_dir) -> DataFrame:
    """Cell codec surface: int64 -> 'ABCD…' string and slippy (x,y,z)."""
    _prep(spark, sf_dir)
    cells = (
        with_point_cell(spark.table("nodes"), "lon", "lat", "cell", 18)
        .select("cell")
        .distinct()
    )
    return with_cell_tuple(cells, "cell", prefix="tile_").select(
        "cell",
        cell_string("cell").alias("cell_str"),
        "tile_x",
        "tile_y",
        "tile_z",
    )


def q02_oracle() -> str:
    cell = sqlgen.point_cell_sql(DUCK, "lon", "lat", 18)
    tup = sqlgen.cell_tuple_sql(DUCK, "cell")
    s = sqlgen.cell_string_sql(DUCK, "cell")
    return (
        tpch.synth_cte_prefix("nodes")
        + f""",
cells as (select distinct {cell} as cell from nodes)
select cell, {s} as cell_str, {tup['x']} as tile_x,
       {tup['y']} as tile_y, {tup['z']} as tile_z
from cells"""
    )


def q03_way_cells(spark, sf_dir) -> DataFrame:
    """Way bbox aggregation (salted two-phase) + buffered cell calculation —
    the calcqts way pass (resortwaynodes.go:539-630)."""
    _prep(spark, sf_dir)
    return way_cells(_way_bbox_df(spark), 0.05, 18)


def q03_oracle() -> str:
    return (
        "with " + _way_cells_oracle_ctes()
        + "\nselect way_id, cell from wc_cells"
    )


def q04_node_cells(spark, sf_dir) -> DataFrame:
    """Node cell = Common over parent-way cells (distributed min/max fold)
    with point-box fallback (resortwaynodes.go:696-709)."""
    _prep(spark, sf_dir)
    wcells = way_cells(_way_bbox_df(spark), 0.05, 18)
    return node_cells(
        spark.table("nodes"), spark.table("way_refs"), wcells, 0.05, 18
    )


def q04_oracle() -> str:
    fin = sqlgen.common_finish_sql(DUCK, "p.mn", "p.mx", "p.md")
    fb_src = ("select node_id, lon as minx, lat as miny, "
              "lon + 1 as maxx, lat + 1 as maxy from nodes")
    return (
        "with " + _way_cells_oracle_ctes() + ",\n"
        + calculate_cte_fragments(fb_src, "node_id", 0.05, 18, prefix="fb")
        + """,
parent as (
  select w.ref as node_id,
         min((case when c.cell >= 0 then c.cell end) & (-32)) as mn,
         max((case when c.cell >= 0 then c.cell end) & (-32)) as mx,
         min((case when c.cell >= 0 then c.cell end) & 31) as md
  from way_refs w join wc_cells c using (way_id)
  group by w.ref
)
select n.node_id,
       coalesce(""" + fin + """, f.cell) as cell
from nodes n
left join parent p on n.node_id = p.node_id
join fb_cells f on n.node_id = f.node_id"""
    )


def q05_rel_cells(spark, sf_dir) -> DataFrame:
    """Relation cells: Common over member-way cells with the 5-edge
    rel->rel closure machinery (resortwaynodes.go:767-824)."""
    _prep(spark, sf_dir)
    wcells = way_cells(_way_bbox_df(spark), 0.05, 18)
    members = spark.table("rels").select(
        "rel_id", F.lit("w").alias("mtype"), F.col("member_way").alias("ref")
    )
    empty_nodes = spark.createDataFrame([], "node_id long, cell long")
    return relation_cells(members, wcells, empty_nodes)


def q05_oracle() -> str:
    fin = sqlgen.common_finish_sql(DUCK, "mn", "mx", "md")
    return (
        "with " + _way_cells_oracle_ctes() + ",\n"
        + tpch.synth_cte_prefix("rels")[len("with "):] + """,
agg as (
  select rel_id,
         min((case when cell >= 0 then cell end) & (-32)) as mn,
         max((case when cell >= 0 then cell end) & (-32)) as mx,
         min((case when cell >= 0 then cell end) & 31) as md
  from rels r join wc_cells c on r.member_way = c.way_id
  group by rel_id
)
select rel_id, coalesce(""" + fin + """, -1) as cell from agg"""
    )


def q06_bbox_join(spark, sf_dir) -> DataFrame:
    """Query-bbox × way-bbox spatial join (packeddatastore.go:382-425),
    running through the CELL-PRUNED path: cover-expansion of each query box
    to level-8 prefixes -> broadcast equi-join on cell_round -> residual
    exact intersect.  Same rows as the unpruned join (oracle is the plain
    cross-product filter)."""
    _prep(spark, sf_dir)
    wb = _way_bbox_df(spark)
    geoms = wb.join(way_cells(wb, 0.05, 18), "way_id")
    return bbox_join(_boxes_df(spark), geoms).select("query_id", "way_id")


def q06_oracle() -> str:
    boxes = _values_sql(QUERY_BOXES, BOX_COLS)
    pred = sqlgen.bbox_intersects_sql(
        {"minx": "minx", "miny": "miny", "maxx": "maxx", "maxy": "maxy"},
        {"minx": "qminx", "miny": "qminy", "maxx": "qmaxx", "maxy": "qmaxy"},
    )
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f",\n{_WB_CTE}\nselect query_id, way_id from wb, {boxes} where {pred}"
    )


def q07_pip_join(spark, sf_dir) -> DataFrame:
    """Point-in-polygon join (pnpoly crossing number, bbox.go:158-194): a
    one-section region filter, as ReadPolyFile unwraps a single-section
    file (filter/poly.go:179-242)."""
    _prep(spark, sf_dir)
    return poly_region_filter(
        spark.table("nodes"), PolyRegion(polys=[(POLY_LONS, POLY_LATS)])
    ).select("node_id")


def q07_oracle() -> str:
    pred = sqlgen.pnpoly_sql(POLY_LONS, POLY_LATS, "lon", "lat")
    return (
        tpch.synth_cte_prefix("nodes")
        + f"\nselect node_id from nodes where {pred}"
    )


def q08_knn(spark, sf_dir) -> DataFrame:
    """kNN per query point (squared-euclidean, ties by id — FIXTURES.md
    golden_knn)."""
    _prep(spark, sf_dir)
    qdf = spark.createDataFrame(KNN_POINTS, ["query_id", "qlon", "qlat"])
    return knn_join(qdf, spark.table("nodes"), KNN_K)


def q08_oracle() -> str:
    pts = _values_sql(KNN_POINTS, ["query_id", "qlon", "qlat"])
    return (
        tpch.synth_cte_prefix("nodes")
        + f"""
select query_id, rank, node_id, dist2 from (
  select query_id, node_id,
         (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) as dist2,
         row_number() over (
           partition by query_id
           order by (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) asc,
                    node_id asc
         ) as rank
  from nodes, {pts}
) where rank <= {KNN_K}"""
    )


def q09_raster_tiles(spark, sf_dir) -> DataFrame:
    """Raster-tile↔vector join key: way cells rounded to z12 slippy tiles,
    counted per tile (quadtree.go:181-213)."""
    _prep(spark, sf_dir)
    wcells = way_cells(_way_bbox_df(spark), 0.05, 18)
    tiles = raster_vector_join(wcells, 12)
    return tiles.groupBy("tile_x", "tile_y", "tile_z").agg(
        F.count(F.lit(1)).alias("n_ways")
    )


def q09_oracle() -> str:
    rounded = sqlgen.cell_round_sql(DUCK, "cell", 12)
    tup = sqlgen.cell_tuple_sql(DUCK, "tile_cell")
    return (
        "with " + _way_cells_oracle_ctes()
        + f""",
t as (select {rounded} as tile_cell from wc_cells)
select {tup['x']} as tile_x, {tup['y']} as tile_y, {tup['z']} as tile_z,
       count(*) as n_ways
from t group by 1, 2, 3"""
    )


def q10_ann_topk(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (ANN baseline;
    Arrow-batched local top-k combiner + global window)."""
    _prep(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_N_QUERIES)
    return cosine_topk(queries, emb, ANN_K)


def q10_oracle() -> str:
    return f"""
with q as (select vec_id as qid, embedding as qe from embeddings
           where vec_id < {ANN_N_QUERIES})
select qid as query_id, rank, neighbor_id from (
  select q.qid, e.vec_id as neighbor_id,
         row_number() over (
           partition by q.qid
           order by list_cosine_similarity(e.embedding, q.qe) desc,
                    e.vec_id asc
         ) as rank
  from embeddings e, q
  where e.vec_id <> q.qid
) where rank <= {ANN_K}"""


def q11_span_roundtrip(spark, sf_dir) -> DataFrame:
    """Interleaved docs pipeline with span-sequence preservation: build
    docs(doc_id, spans) rows, parse the node span natively, assign cells,
    spatially filter, then join back and re-emit the ORIGINAL spans —
    exploded so the driver value-hashes every (kind, text, media_ref,
    offset)."""
    _prep(spark, sf_dir)
    docs = spark.sql(_SPAN_DOCS_SPARK_SQL)
    from .sources.docs import parse_spans

    nodes = parse_spans(docs)["nodes"]
    cells = with_point_cell(
        nodes.select("doc_id", "lon", "lat"), "lon", "lat", "cell", 18
    )
    keep = cells.filter(
        (F.col("lon") >= -6000000) & (F.col("lon") <= 2000000)
        & (F.col("lat") >= 503000000) & (F.col("lat") <= 516000000)
    ).select("doc_id")
    survived = docs.join(keep, "doc_id")  # shuffle; spans untouched
    return survived.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


_SPAN_DERIVE = """
select doc_id,
  ((doc_id * 48271) % 20000001) - 10000000 as lon,
  500000000 + ((doc_id * 69621) % 20000001) as lat,
  text
from documents
"""

_SPAN_DOCS_SPARK_SQL = f"""
select cast(doc_id as string) as doc_id,
  array(
    struct('node' as kind,
           concat(cast(doc_id as string), ' ', cast(lon as string), ' ',
                  cast(lat as string)) as text,
           '' as media_ref, 0 as offset),
    struct('media' as kind,
           concat('cap ', substr(md5(text), 1, 8)) as text,
           concat('m://', md5(text)) as media_ref, 1 as offset),
    struct('tag' as kind, concat('src=', cast(doc_id % 7 as string)) as text,
           '' as media_ref, 2 as offset)
  ) as spans
from ({_SPAN_DERIVE}) d
"""


def q11_oracle() -> str:
    return f"""
with d as ({_SPAN_DERIVE}),
docs as (
  select cast(doc_id as varchar) as doc_id, lon, lat,
    [
      struct_pack(kind := 'node',
                  text := cast(doc_id as varchar) || ' ' ||
                          cast(lon as varchar) || ' ' || cast(lat as varchar),
                  media_ref := '', "offset" := 0),
      struct_pack(kind := 'media',
                  text := 'cap ' || substr(md5(text), 1, 8),
                  media_ref := 'm://' || md5(text), "offset" := 1),
      struct_pack(kind := 'tag',
                  text := 'src=' || cast(doc_id % 7 as varchar),
                  media_ref := '', "offset" := 2)
    ] as spans
  from d
),
kept as (
  select * from docs
  where lon >= -6000000 and lon <= 2000000
    and lat >= 503000000 and lat <= 516000000
),
ex as (select doc_id, unnest(spans) as s from kept)
select doc_id, s."offset" as "offset", s.kind as kind, s.text as text,
       s.media_ref as media_ref
from ex"""


def q12_latest_event(spark, sf_dir) -> DataFrame:
    """Newest event per user (filterLastObj semantics, update.go:69-110)."""
    _prep(spark, sf_dir)
    ev = spark.table("events")
    return latest_version(
        ev, ["user_id"], [("ts", "desc"), ("event_id", "desc")]
    ).select("user_id", "event_id", "event_type", "value")


def q12_oracle() -> str:
    return """
select user_id, event_id, event_type, value from (
  select user_id, event_id, event_type, value,
         row_number() over (partition by user_id
                            order by ts desc, event_id desc) as rn
  from events
) where rn = 1"""


def q13_change_merge(spark, sf_dir) -> DataFrame:
    """Change-batch merge with Delete/Modify/Create semantics
    (mergechange.go:18-65): base = orders, synthetic change stream derived
    from lineitem."""
    _prep(spark, sf_dir)
    base = spark.table("orders").select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("val")
    )
    changes = spark.sql(_CHANGES_SQL)
    return merge_changes(base, changes, "key", "change_type", "seq", ["val"])


# (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
# change stream aggregates to one row per (key, seq) — otherwise the
# newest-version window would break ties nondeterministically.
_CHANGES_SQL = """
select key, seq, change_type, max(val) as val from (
  select l_orderkey as key, cast(l_linenumber as bigint) as seq,
    case when l_linenumber % 3 = 0 then 'delete'
         when l_linenumber % 3 = 1 then 'modify'
         else 'create' end as change_type,
    l_extendedprice as val
  from lineitem
) raw group by key, seq, change_type
"""


def q13_oracle() -> str:
    return f"""
with changes as ({_CHANGES_SQL}),
last as (
  select key, change_type, val from (
    select key, change_type, val,
           row_number() over (partition by key order by seq desc) as rn
    from changes
  ) where rn = 1
),
base as (select o_orderkey as key, o_totalprice as val from orders)
select coalesce(b.key, c.key) as key,
       case when c.change_type in ('modify', 'create') then c.val
            else b.val end as val
from base b full outer join last c on b.key = c.key
where c.change_type is null or c.change_type <> 'delete'"""


# ------------------------------------------------- documents pipeline ops

_SW = "'the', 'and', 'of', 'a', 'to', 'in', 'is'"

# DuckDB CTE computing per-doc token stats over the augmented docs table
_DUCK_TEXT_CTE = """
t as (
  select doc_id, text, source, n_chars, string_split(text, ' ') as w
  from docs_aug
),
ts as (
  select doc_id, text, source, n_chars,
         len(w) as nt,
         len(list_filter(w, x -> x in (%s))) as sc,
         cast(floor(list_aggregate(list_transform(w, x -> length(x)), 'sum')
              * 100.0 / greatest(len(w), 1)) as bigint) as atl
  from t
)""" % _SW


def q14_text_stats(spark, sf_dir) -> DataFrame:
    """Per-document text statistics (token counts, stopword counts, average
    token length, quality bucket) — all native expressions."""
    _prep(spark, sf_dir)
    from .functions import text as T

    return spark.table("docs_aug").select(
        "doc_id",
        T.n_tokens().alias("n_tokens"),
        T.stopword_count().alias("stopword_cnt"),
        T.avg_token_len_x100().alias("avg_token_len_x100"),
        T.quality_bucket().alias("quality_bucket"),
    )


def q14_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug") + ",\n" + _DUCK_TEXT_CTE + """
select doc_id, nt as n_tokens, sc as stopword_cnt, atl as avg_token_len_x100,
  case when nt < 10 then 0
       when sc * 20 < nt then 1
       when sc * 2 > nt then 2
       else 3 end as quality_bucket
from ts"""
    )


def q15_lang_id(spark, sf_dir) -> DataFrame:
    """Multi-class language/domain ID: character-trigram weight scorer
    (functions/text.py LANG_CLASSES/TRIGRAM_WEIGHTS), evaluated natively —
    per-class summed trigram weights, argmax with deterministic tie-break,
    'unk' below the min score.  The legacy stopword-ratio vote stays as a
    second column (en_vote).  Oracle: the identical weight table evaluated
    through DuckDB's list machinery (range/list_transform/list_aggregate)."""
    _prep(spark, sf_dir)
    from .functions import text as T

    # one materialized scores struct; label + per-class columns are cheap
    # field reads off it, so each class's trigram scan runs once per row
    # (the previous shape re-evaluated the aggregates inside the argmax
    # chain — these higher-order aggregates never codegen)
    return spark.table("docs_aug").withColumn(
        "__sc", T.trigram_scores_struct()
    ).select(
        "doc_id",
        T.lang_from_scores("__sc").alias("lang_guess"),
        *[
            F.col(f"__sc.s{i}").alias(f"s_{c}")
            for i, c in enumerate(T.LANG_CLASSES)
        ],
        F.when(
            T.stopword_count() * 5 >= T.n_tokens(), F.lit("en")
        ).otherwise(F.lit("unk")).alias("en_vote"),
    )


def q15_oracle() -> str:
    from .functions.text import LANG_CLASSES, LANG_MIN_SCORE, TRIGRAM_WEIGHTS

    score_cols = []
    for c in LANG_CLASSES:
        cases = " ".join(
            f"when substr(text, i, 3) = '{g}' then {w}"
            for g, w in sorted(TRIGRAM_WEIGHTS[c].items())
        )
        score_cols.append(
            f"cast(case when length(text) < 3 then 0 else "
            f"list_aggregate(list_transform(range(1, length(text) - 1), "
            f"i -> (case {cases} else 0 end)), 'sum') end as bigint) "
            f"as s_{c}"
        )
    best = "greatest(" + ", ".join(f"s_{c}" for c in LANG_CLASSES) + ")"
    argmax = " ".join(
        f"when s_{c} >= {LANG_MIN_SCORE} and s_{c} = {best} then '{c}'"
        for c in LANG_CLASSES
    )
    return (
        tpch.synth_cte_prefix("docs_aug") + ",\n" + _DUCK_TEXT_CTE + f""",
tri as (
  select doc_id, {', '.join(score_cols)}, sc, nt from ts
)
select doc_id,
       case {argmax} else 'unk' end as lang_guess,
       {', '.join(f's_{c}' for c in LANG_CLASSES)},
       case when sc * 5 >= nt then 'en' else 'unk' end as en_vote
from tri"""
    )


def q16_token_count(spark, sf_dir) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens + BPE-ish
    estimate (ceil(chars/4))."""
    _prep(spark, sf_dir)
    from .functions import text as T

    return (
        spark.table("docs_aug")
        .select("source", T.n_tokens().alias("nt"),
                T.bpe_token_estimate().alias("bpe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("bpe").alias("total_bpe_est"),
        )
    )


def q16_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug") + ",\n" + _DUCK_TEXT_CTE + """
select source, count(*) as n_docs,
       cast(sum(nt) as bigint) as total_tokens,
       cast(sum(cast(ceil(n_chars / 4.0) as bigint)) as bigint)
         as total_bpe_est
from ts group by source"""
    )


def q17_fingerprint(spark, sf_dir) -> DataFrame:
    """Document fingerprint (md5-prefix native fast path; the rolling-hash
    winnowing variant is rolling_fingerprint_udf, exercised in tests)."""
    _prep(spark, sf_dir)
    from .functions.text import fingerprint_md5_16

    return spark.table("docs_aug").select(
        "doc_id", fingerprint_md5_16().alias("fp16")
    )


def q17_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug")
        + "\nselect doc_id, substr(md5(text), 1, 16) as fp16 from docs_aug"
    )


def q18_dedup_exact(spark, sf_dir) -> DataFrame:
    """Exact duplicate groups via content-hash groupBy."""
    _prep(spark, sf_dir)
    from .operators.dedup import exact_duplicates

    return exact_duplicates(spark.table("docs_aug"))


def q18_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug")
        + """
select md5(text) as text_md5, count(*) as n_copies, min(doc_id) as min_doc_id
from docs_aug group by 1 having count(*) > 1"""
    )


_DUCK_SHINGLE_CTE = """
t as (select doc_id as doc, string_split(text, ' ') as w from docs_aug),
s as (
  select doc,
    case when len(w) < 3 then []
         else list_transform(generate_series(1, len(w) - 2),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) end
      as sh
  from t
),
m as (
  select doc,
    list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') as mh0,
    list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') as mh1,
    list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') as mh2,
    list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') as mh3
  from s
),
bands as (
  select doc, concat_ws('|', '0', mh0, mh1) as band_key from m
  where mh0 is not null and mh1 is not null
  union all
  select doc, concat_ws('|', '1', mh2, mh3) as band_key from m
  where mh2 is not null and mh3 is not null
),
cand as (
  select distinct a.doc as doc_a, b.doc as doc_b
  from bands a join bands b on a.band_key = b.band_key and a.doc < b.doc
)"""


def q19_minhash_bands(spark, sf_dir) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (banded equi-join — the
    no-all-pairs scale path)."""
    _prep(spark, sf_dir)
    from .operators.dedup import minhash_candidates

    return minhash_candidates(spark.table("docs_aug"))


def q19_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug") + ",\n" + _DUCK_SHINGLE_CTE
        + "\nselect doc_a, doc_b from cand"
    )


def q20_jaccard_verify(spark, sf_dir) -> DataFrame:
    """Exact shingle-Jaccard verification of the MinHash candidates."""
    _prep(spark, sf_dir)
    from .operators.dedup import jaccard_verify, minhash_candidates

    docs = spark.table("docs_aug")
    return jaccard_verify(docs, minhash_candidates(docs))


def q20_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug") + ",\n" + _DUCK_SHINGLE_CTE + """,
ex as (
  select distinct doc, shingle from (
    select doc, unnest(sh) as shingle from s
  )
),
sizes as (select doc, count(*) as n from ex group by doc),
inter as (
  select c.doc_a, c.doc_b, count(*) as ni
  from cand c
  join ex ea on ea.doc = c.doc_a
  join ex eb on eb.doc = c.doc_b and eb.shingle = ea.shingle
  group by 1, 2
)
select i.doc_a, i.doc_b,
       cast(floor(1000.0 * i.ni / (na.n + nb.n - i.ni)) as bigint)
         as jaccard_x1000
from inter i
join sizes na on na.doc = i.doc_a
join sizes nb on nb.doc = i.doc_b
where cast(floor(1000.0 * i.ni / (na.n + nb.n - i.ni)) as bigint) >= 500"""
    )


# embeddings augmented with planted near-duplicates: x0.5-scaled copies
# (exact in both float32 and float64, cosine == 1 up to rounding)
_EMB_AUG_SPARK_SQL = """
select vec_id, embedding from embeddings
union all
select vec_id + 10000 as vec_id,
       transform(embedding, x -> x * cast(0.5 as float)) as embedding
from embeddings where vec_id % 4 = 0
"""

_EMB_AUG_DUCK = """
emb_aug as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 10000 as vec_id,
         list_transform(embedding, x -> x * 0.5) as embedding
  from embeddings where vec_id % 4 = 0
)"""


def q21_embed_neardup(spark, sf_dir) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.95), brute-force
    baseline with planted x0.5-scaled duplicates."""
    _prep(spark, sf_dir)
    from .operators.dedup import embedding_neardup_brute

    aug = spark.sql(_EMB_AUG_SPARK_SQL)
    return embedding_neardup_brute(aug, 0.95)


def q21_oracle() -> str:
    return f"""
with {_EMB_AUG_DUCK}
select a.vec_id as doc_a, b.vec_id as doc_b
from emb_aug a join emb_aug b on a.vec_id < b.vec_id
where list_cosine_similarity(a.embedding, b.embedding) >= 0.95"""


def q22_simhash(spark, sf_dir) -> DataFrame:
    """60-bit SimHash per document (native aggregates).  The oracle decodes
    the 15-hex-char token hash arithmetically (instr-based digit lookup),
    which both engines evaluate in exact int64 — so the full per-bit
    majority vote is value-verified."""
    _prep(spark, sf_dir)
    from .operators.dedup import simhash64

    return simhash64(spark.table("docs_aug"))


def q22_oracle(bits: int = 60) -> str:
    hexpr = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(t), {i + 1}, 1)) - 1) "
        f"* {16 ** (14 - i)}"
        for i in range(15)
    )
    votes = ",\n         ".join(
        f"sum(case when (h >> {i}) & 1 = 1 then 1 else -1 end) as v{i}"
        for i in range(bits)
    )
    fold = " + ".join(
        f"(case when v{i} > 0 then {1 << i} else 0 end)" for i in range(bits)
    )
    return (
        tpch.synth_cte_prefix("docs_aug") + f""",
tok as (select doc_id as doc, unnest(string_split(text, ' ')) as t
        from docs_aug),
hh as (select doc, cast({hexpr} as bigint) as h from tok),
v as (select doc,
         {votes}
      from hh group by doc)
select doc, cast({fold} as bigint) as simhash from v"""
    )


def q23_embed_neardup_lsh(spark, sf_dir) -> DataFrame:
    """LSH sign-bucket near-dup scale path — the AXIS-ALIGNED deterministic
    variant, fully oracle-verified (bucket keys are per-coordinate sign
    tests, reproducible in SQL; within-bucket exact cosine >= tau).  The
    Gaussian-plane variant's recall vs brute force is asserted in pytest."""
    _prep(spark, sf_dir)
    from .operators.dedup import embedding_neardup_lsh_axis

    aug = spark.sql(_EMB_AUG_SPARK_SQL)
    return embedding_neardup_lsh_axis(aug, 0.95)


def q23_oracle(tau: float = 0.95, n_planes: int = 8, n_tables: int = 4,
               dim: int = 64, seed: int = 42) -> str:
    from .operators.dedup import axis_plane_indices

    idx = axis_plane_indices(n_planes, n_tables, dim, seed)
    branches = []
    for t in range(n_tables):
        key = " + ".join(
            f"(case when embedding[{int(idx[t][p]) + 1}] > 0 "
            f"then {1 << p} else 0 end)"
            for p in range(n_planes)
        )
        branches.append(
            f"select vec_id as doc, embedding, "
            f"cast({t * (1 << n_planes)} + {key} as bigint) as bucket"
            f" from emb_aug"
        )
    buckets = "\n  union all\n  ".join(branches)
    return f"""
with {_EMB_AUG_DUCK},
bk as (
  {buckets}
),
pr as (
  select x.doc as doc_a, y.doc as doc_b,
         x.embedding as ea, y.embedding as eb
  from bk x join bk y on x.bucket = y.bucket and x.doc < y.doc
)
select distinct doc_a, doc_b from pr
where list_cosine_similarity(ea, eb) >= {tau}"""


# -------------------------------------------- spatial extract / geometry


def q24_knn_cells(spark, sf_dir) -> DataFrame:
    """kNN via cell-neighborhood expansion — must equal the brute-force
    result exactly, so it shares q08's oracle."""
    _prep(spark, sf_dir)
    from .operators.spatial_join import knn_cell_join

    return knn_cell_join(KNN_POINTS, spark.table("nodes"), KNN_K, spark=spark)


def q25_tile_groups(spark, sf_dir) -> DataFrame:
    """Tile grouping (FindQtGroups port) over the FULL element cell set —
    ways/relations carry shallow cells, giving the counting tree the
    interior mass the harvest rule needs (qttree.go:369-439 requires
    count != 0 at the harvested node) — plus distributed longest-prefix
    assignment.  Oracle: independent DuckDB histogram -> independent
    recursive FindQtGroups reimplementation -> groups frozen as VALUES ->
    SQL-side assignment + rollup (q25_oracle_build)."""
    _prep(spark, sf_dir)
    from .operators.tile_groups import assign_groups, tile_groups_df

    wcells = way_cells(_way_bbox_df(spark), 0.05, 18)
    ncells = node_cells(
        spark.table("nodes"), spark.table("way_refs"), wcells, 0.05, 18
    )
    all_cells = ncells.select("cell").unionByName(wcells.select("cell"))
    hist = all_cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    groups = tile_groups_df(spark, hist, target=800, minimum=1)
    assigned = assign_groups(all_cells, groups, "cell")
    return assigned.groupBy("group_cell").agg(
        F.count(F.lit(1)).alias("n_elements")
    )


def q25_oracle_build() -> str | None:
    """q25 oracle, built lazily (it needs one DuckDB pass over the target
    parquet at build time).

    Independence: the element-cell histogram is computed by the DuckDB CTE
    descent (oracle/duck_calc.py — never engine code), the grouping runs
    through oracle/qtgroups_ref.py (a structurally-different second
    implementation of FindQtGroups that cross-checks the engine port), and
    group ASSIGNMENT + the per-group rollup happen in SQL with the groups
    embedded as VALUES.  Returns None (-> rows-only) if the parquet is
    unavailable."""
    import os

    sf_dir = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
        or "/root/testdata/sf0.01"
    )
    try:
        import duckdb

        con = duckdb.connect()
        for t in ("part", "lineitem"):
            con.execute(
                f"create view {t} as select * from "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        hist = con.execute(
            "with " + _all_cells_cte()
            + "\nselect cell, count(*) as n from all_cells group by cell"
        ).fetchall()
        con.close()
    except Exception:
        return None
    from .oracle.qtgroups_ref import find_qt_groups_ref

    groups = find_qt_groups_ref(
        [r[0] for r in hist], [r[1] for r in hist], target=800, minimum=1
    )
    vals = ", ".join(f"({int(g)})" for g, _ in groups)
    return (
        "with " + _all_cells_cte()
        + f""",
groups(group_cell) as (values {vals}),
dc as (select distinct cell from all_cells),
anc as (
  select dc.cell, g.group_cell, (g.group_cell & 31) as gd
  from dc join groups g
    on (case when (dc.cell & 31) < (g.group_cell & 31) then dc.cell
        else ((dc.cell >> (63 - 2 * (g.group_cell & 31)))
              << (63 - 2 * (g.group_cell & 31))) + (g.group_cell & 31)
        end) = g.group_cell
),
best as (
  select cell, arg_max(group_cell, gd) as group_cell from anc group by cell
)
select b.group_cell, count(*) as n_elements
from all_cells a left join best b using (cell)
group by b.group_cell"""
    )


# ------------------------------------------------- way_area oracle pieces
#
# Cross-engine float story (the round-2 blocker, solved in three parts):
#   1. ARITHMETIC (merc x, shoelace terms, the fold, abs/2) is IEEE-754
#      double with identical operation ORDER on both sides — DuckDB's
#      list_reduce is a sequential left fold exactly like the engine's
#      position-wise accumulation in qtcore.rings.ring_areas_vectorized,
#      so these bits match by construction.  DuckDB literals must be
#      e-notation (plain decimals parse as DECIMAL, not DOUBLE).
#   2. TRANSCENDENTALS (the mercator y = ln(tan(...))) are NOT portable:
#      numpy's SIMD ln/tan differ from libm by 1 ulp on ~25-40% of inputs
#      (measured in-container).  y depends only on the integer lat, so the
#      lazy oracle builder freezes a ylut(lat, y) VALUES table — distinct
#      lats read from the parquet via DuckDB, y computed by the engine's
#      transform, serialized via repr() (shortest round-trip form, parsed
#      back bit-exact by DuckDB's strtod).
#   3. INDEPENDENCE of the frozen transform is guarded by pytest, not the
#      gate: tests/test_geometry.py checks the numpy transform against
#      libm (math.*) within a small ulp bound over the full lat domain,
#      and numpy's batch evaluation is position-independent (verified:
#      same value -> same bits at any array offset/length).  The gate then
#      verifies everything downstream of the transform bit-exactly.

_AREA_FOLD_CTES = """kp as (
  select way_id, rn, lon, lat,
         (rn = 1 or lon <> lag(lon) over wd or lat <> lag(lat) over wd)
           as keep
  from pts
  window wd as (partition by way_id order by rn)
),
kp2 as (
  select way_id, lon, lat,
         row_number() over (partition by way_id order by rn) as rn2
  from kp where keep
),
xy as (
  select k.way_id, k.rn2,
         count(*) over (partition by k.way_id) as m,
         ((k.lon * 1e-07) * 20037508.3428e0) / 180e0 as x,
         y.y as y
  from kp2 k join ylut y using (lat)
),
terms as (
  select way_id, rn2, m,
         case when rn2 < m then x * (lead(y) over wf - lag(y) over wf)
              else first_value(x) over wf
                   * (nth_value(y, 2) over wf - lag(y) over wf) end as t
  from xy
  window wf as (partition by way_id order by rn2
                rows between unbounded preceding and unbounded following)
  qualify rn2 >= 2
),
warea as (
  select way_id,
         case when max(m) >= 4
              then abs(list_reduce(list(t order by rn2), (a, b) -> a + b))
                   / 2e0
              else 0e0 end as way_area
  from terms group by way_id
)"""


def _dlit(v) -> str:
    """Float -> DuckDB DOUBLE literal: repr() is the shortest string that
    round-trips to the same float64; force e-notation so DuckDB does not
    parse it as DECIMAL.  Non-finite values (degenerate/overflowed areas)
    need an explicit cast — DuckDB rejects bare inf/nan DOUBLE literals,
    which would make the frozen oracle fail to PARSE instead of failing
    the value comparison."""
    import math

    f = float(v)
    if not math.isfinite(f):
        return f"cast('{f}' as double)"
    s = repr(f)
    return s if ("e" in s or "E" in s) else s + "e0"


def _gate_work_dir(spark, *sub: str) -> str:
    """Run-unique scratch dir for gates that write-then-read parquet
    (q36/q39): keyed on the Spark applicationId so two concurrent gate
    runs by the same user never overwrite each other's files mid-read
    (a fixed per-uid path raced; mkdtemp leaked a copy per invocation).
    Registered for atexit cleanup — the path must outlive the returned
    lazy DataFrame, so it cannot be deleted inside the gate itself."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"gate_parts_{os.getuid()}_{spark.sparkContext.applicationId}",
    )
    if root not in _gate_work_dirs:
        _gate_work_dirs.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, *sub)


_gate_work_dirs: set = set()


_ylut_cache: dict = {}


def _ylut_cte() -> str | None:
    """ylut(lat, y) VALUES CTE — web-mercator y per DISTINCT node lat.
    Lats come from a DuckDB pass over the oracle parquet (the same synth
    SQL both sides share); y from the engine transform (see the
    independence note above).  None when the parquet is unavailable."""
    import os

    sf_dir = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
        or "/root/testdata/sf0.01"
    )
    if sf_dir in _ylut_cache:
        return _ylut_cache[sf_dir]
    try:
        import duckdb
        import numpy as np

        con = duckdb.connect()
        con.execute(
            "create view part as select * from "
            f"read_parquet('{sf_dir}/part.parquet')"
        )
        lats = con.execute(
            tpch.synth_cte_prefix("nodes")
            # order by: DISTINCT output order is process-dependent
            # (hash-seeded), and this order is FROZEN into the oracle SQL
            # text — unsorted, the same tree produced different q26/q38
            # oracle text run-to-run (semantics identical; the driver
            # fingerprints the text)
            + "\nselect distinct lat from nodes order by lat"
        ).fetchnumpy()["lat"].astype(np.int64)
        con.close()
    except Exception:
        return None
    from .qtcore.rings import _merc_xy_arrays

    _, ys = _merc_xy_arrays(np.zeros(len(lats), dtype=np.int64), lats)
    out = "ylut(lat, y) as (values " + ", ".join(
        f"({int(a)}, {_dlit(b)})" for a, b in zip(lats, ys)
    ) + ")"
    _ylut_cache[sf_dir] = out
    return out


def q26_way_geometry(spark, sf_dir) -> DataFrame:
    """Way geometry construction: ordered coords assembly, closed-ring
    detection, polygon/linestring split, native bbox, and the mercator
    shoelace way_area (makegeometries.go:139-189, zorder.go:133-199) —
    way_area is HASH-VERIFIED bit-exactly against the DuckDB sequential
    fold (q26_oracle_build)."""
    _prep(spark, sf_dir)
    from .operators.geometry import add_way_coords, make_way_geometries

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    g = make_way_geometries(wc, way_tags=None)
    return g.select(
        "way_id", "geom_type", "minx", "miny", "maxx", "maxy",
        F.size("refs").alias("n_points"), "way_area",
    )


def q26_oracle_build() -> str | None:
    ylut = _ylut_cte()
    if ylut is None:
        return None
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f""",
{ylut},
pts as (
  select w.way_id, w.pos, w.ref, n.lon, n.lat,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as n_points
  from way_refs w join nodes n on w.ref = n.node_id
),
ends as (
  select way_id, n_points,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = n_points then ref end) as last_ref,
         min(lon) as minx, min(lat) as miny,
         max(lon) as maxx, max(lat) as maxy
  from pts group by way_id, n_points
),
closedw as (
  select way_id from ends where n_points >= 3 and first_ref = last_ref
),
{_AREA_FOLD_CTES}
select e.way_id,
       case when c.way_id is not null then 3 else 2 end as geom_type,
       e.minx, e.miny, e.maxx, e.maxy,
       cast(e.n_points as int) as n_points,
       case when c.way_id is not null then coalesce(w.way_area, 0e0)
            else 0e0 end as way_area
from ends e
left join closedw c using (way_id)
left join warea w using (way_id)"""
    )


# all-ways-closed synthesis: append each way's first ref after its last
# pos, turning every >=2-ref way into a ring — mass coverage for the
# polygon area path (q26's natural layer closes only a handful of ways).
# Dialect-neutral: runs verbatim in Spark SQL and as DuckDB oracle CTEs.
_WAY_REFS_CLOSED_CTES = """wr_stats as (
  select way_id, min(pos) as min_pos, max(pos) as max_pos
  from way_refs group by way_id
),
firstr as (
  select w.way_id, w.ref as first_ref
  from way_refs w join wr_stats s
    on w.way_id = s.way_id and w.pos = s.min_pos
),
way_refs_closed as (
  select way_id, pos, ref from way_refs
  union all
  select s.way_id, s.max_pos + 1 as pos, f.first_ref as ref
  from wr_stats s join firstr f on s.way_id = f.way_id
)"""


def q38_way_area(spark, sf_dir) -> DataFrame:
    """Mercator polygon area over EVERY way, closed by ring-completing
    synthesis: drop-repeats, orientation-free single-ring shoelace with
    sequential float64 fold, degenerate (<4 kept points) -> 0.0
    (zorder.go:133-199 via qtcore.rings.ring_areas_vectorized).  The
    oracle replays the identical fold in DuckDB over the frozen mercator-y
    lookup — every area value hash-verified bit-exactly."""
    _prep(spark, sf_dir)
    from .operators.geometry import add_way_coords, make_way_geometries

    closed_refs = spark.sql(
        "with " + _WAY_REFS_CLOSED_CTES + "\nselect * from way_refs_closed"
    )
    wc = add_way_coords(closed_refs, spark.table("nodes"))
    g = make_way_geometries(wc, way_tags=None)
    return g.select(
        "way_id", "geom_type", F.size("refs").alias("n_points"), "way_area"
    )


def q38_oracle_build() -> str | None:
    ylut = _ylut_cte()
    if ylut is None:
        return None
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f""",
{_WAY_REFS_CLOSED_CTES},
{ylut},
pts as (
  select w.way_id, w.ref, n.lon, n.lat,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as n_points
  from way_refs_closed w join nodes n on w.ref = n.node_id
),
ends as (
  select way_id, n_points,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = n_points then ref end) as last_ref
  from pts group by way_id, n_points
),
closedw as (
  select way_id from ends where n_points >= 3 and first_ref = last_ref
),
{_AREA_FOLD_CTES}
select e.way_id,
       case when c.way_id is not null then 3 else 2 end as geom_type,
       cast(e.n_points as int) as n_points,
       case when c.way_id is not null then coalesce(w.way_area, 0e0)
            else 0e0 end as way_area
from ends e
left join closedw c using (way_id)
left join warea w using (way_id)"""
    )


_Q27_FIXTURE = dict(n_nodes=800, n_ways=400, n_rels=120, seed=42)
# larger fixture for q46's relation serving rows: more surviving NAMED
# multipolygons (the view filter keeps name-is-not-null rows only)
_Q46_REL_FIXTURE = dict(n_nodes=1600, n_ways=800, n_rels=300, seed=7)


def _mp_fixture_df(spark, fixture=None) -> DataFrame:
    """assemble_multipolygons over the deterministic docs fixture — the
    shared engine pipeline behind q27 (full output), q43 (GeoJSON
    sink round-trip) and q46's relation serving rows."""
    from .operators.geometry import (
        add_way_coords,
        assemble_multipolygons,
        with_tag_rewrite,
    )
    from .sources.docs import docs_to_spark, generate_docs, parse_spans

    rows, _ = generate_docs(**(fixture or _Q27_FIXTURE))
    parsed = parse_spans(docs_to_spark(spark, rows))
    nodes = parsed["nodes"].select("node_id", "lon", "lat")
    way_refs = parsed["ways"].select(
        "way_id", F.posexplode("refs").alias("pos", "ref")
    )
    wc = add_way_coords(way_refs, nodes)
    tags = parsed["tags"]
    way_tags = (
        parsed["ways"].select("way_id", "doc_id")
        .join(tags, "doc_id", "left")
        .select("way_id", "tags")
    )
    # member ways carry wayTags-FILTERED tags into the relation pass, as in
    # the reference (geometries were already tag-rewritten)
    way_tags = with_tag_rewrite(way_tags, "way").select(
        "way_id", F.col("tags_out").alias("tags")
    )
    rel_tags = (
        parsed["rels"].select("rel_id", "doc_id")
        .join(tags, "doc_id", "left")
        .select("rel_id", "tags")
    )
    members = (
        parsed["rels"]
        .select("rel_id", F.posexplode("members").alias("mpos", "m"))
        .filter(F.col("m.mtype") == "w")
        .select("rel_id", "mpos", F.col("m.ref").alias("ref"),
                F.col("m.role").alias("role"))
    )
    return assemble_multipolygons(members, wc, rel_tags=rel_tags,
                                  way_tags=way_tags)


def q27_multipolygon(spark, sf_dir) -> DataFrame:
    """Multipolygon relation assembly with the FULL finishRel tag pass
    (merge_rings / group_rings / outer-tag Add+Clip merge-back / wayTags
    filter / duplicated-tag deletions, makegeometries.go:472-643) over the
    deterministic docs fixture.  Oracle: an independent pure-Python
    replication over the generator's ground-truth tables, frozen as VALUES
    (q27_oracle) — verifies the Spark plumbing (joins, member ordering,
    grouped-map marshalling) end to end."""
    _prep(spark, sf_dir)
    from .functions.wkb import wkb_collection_udf

    out = _mp_fixture_df(spark)
    out = out.withColumn("wkb", wkb_collection_udf()(F.col("rings")))
    return out.select(
        "rel_id", "geom_type", "n_rings", "n_groups", "way_area",
        "minx", "miny", "maxx", "maxy", "z_order", "cell",
        F.length("wkb").alias("wkb_len"),
        F.lower(F.hex(F.expr("substring(wkb, 1, 9)"))).alias("hdr_hex"),
        F.expr(
            "array_join(array_sort(transform(map_entries(tags),"
            " e -> concat(e.key, '=', e.value))), ';')"
        ).alias("tags_sig"),
        F.expr(
            "array_join(array_sort(transform(del_pairs,"
            " d -> concat(cast(d.way_id as string), ':', d.key))), ';')"
        ).alias("del_sig"),
    )


def _mp_replicate(truth) -> list:
    """Scalar replication of the multipolygon pass over the generator's
    ground-truth tables (no Spark involved) — shared by the q27 and q39
    oracles.  Returns one dict per surviving relation with all structural
    fields (incl. the post-polygon_area mutated ring groups)."""
    from .qtcore import rings as R
    from .qtcore import tags as T
    from .operators.geometry import GEOM_MULTIPOLYGON, GEOM_POLYGON

    nodes = {nid: (lon, lat) for _, nid, lon, lat in truth["nodes"]}
    ways = {wid: refs for _, wid, refs in truth["ways"]}
    wtags = {
        wid: T.way_tags_filter(truth["tags"].get(("way", wid), {}))[2]
        for wid in ways
    }
    out = []
    for _, rid, members in truth["rels"]:
        rt = dict(truth["tags"].get(("relation", rid), {}))
        isboundary = "boundary" in rt
        outers, inners, outer_refs, outer_tags = [], [], [], {}
        for mt, ref, role in members:
            if mt != "w" or ref not in ways:
                continue
            refs = ways[ref]
            if any(r not in nodes for r in refs):
                continue  # add_way_coords drops incomplete ways
            ring = [(r, nodes[r][0], nodes[r][1]) for r in refs]
            if role == "inner":
                inners.append(ring)
            else:
                outers.append(ring)
                outer_refs.append(ref)
                if not isboundary:
                    T.tags_add(outer_tags, wtags[ref])
        if not outers:
            continue
        outer_rings = [r for r in R.merge_rings(outers) if R.check_ring(r)]
        inner_rings = [r for r in R.merge_rings(inners) if R.check_ring(r)]
        if not outer_rings:
            continue
        groups = R.group_rings(outer_rings, inner_rings, allow_loose=True)
        T.tags_add(rt, outer_tags)
        T.tags_clip(rt)
        zo, isp, rt = T.way_tags_filter(rt)
        if not rt or not isp:
            continue
        dels = []
        if not isboundary:
            for wid in outer_refs:
                for k, v in rt.items():
                    if wtags[wid].get(k) == v:
                        dels.append((wid, k))
        # same accumulation as assemble_multipolygons: scalar polygon_area
        # per ring group, collapsed rings contribute 0 (the float value is
        # hash-verified; it round-trips through _dlit bit-exactly).  The
        # loop also mutates the rings (drop-repeats + orientation flips)
        # exactly like the engine, so the WKB length arithmetic below sees
        # the same post-fix point counts.
        area = 0.0
        for g in groups:
            try:
                area += R.polygon_area(g)
            except ValueError:
                pass
        pts = [p for g in groups for ring in g for p in ring]
        gt = GEOM_POLYGON if len(groups) == 1 else GEOM_MULTIPOLYGON
        tags_sig = ";".join(sorted(f"{k}={v}" for k, v in rt.items()))
        del_sig = ";".join(sorted(f"{w}:{k}" for w, k in dels))
        # GEOMETRYCOLLECTION-of-POLYGON structural bytes, arithmetically:
        # 9-byte collection header, 9-byte polygon header per group,
        # 4-byte ring count + 16 bytes/point per ring
        wkb_len = 9 + sum(
            9 + sum(4 + 16 * len(ring) for ring in g) for g in groups
        )
        hdr_hex = "00%08x%08x" % (7, len(groups))
        out.append(dict(
            rel_id=rid, geom_type=gt,
            n_rings=sum(len(g) for g in groups), n_groups=len(groups),
            way_area=area,
            minx=min(p[1] for p in pts), miny=min(p[2] for p in pts),
            maxx=max(p[1] for p in pts), maxy=max(p[2] for p in pts),
            z_order=zo, wkb_len=wkb_len, hdr_hex=hdr_hex,
            tags=rt, dels=dels, tags_sig=tags_sig, del_sig=del_sig,
            groups=groups,
        ))
    return out


def q27_oracle() -> str | None:
    """Expected q27 rows via an independent scalar replication over the
    generator's ground-truth tables (no Spark involved), frozen as VALUES
    (_mp_replicate).  The ring/tag algebra is the scalar reference
    (qtcore.rings / qtcore.tags) — the quantities under test are the
    engine's distributed joins, member ordering and grouped-map
    semantics."""
    from .sources.docs import generate_docs

    _, truth = generate_docs(**_Q27_FIXTURE)
    reps = _mp_replicate(truth)
    out_rows = [
        (d["rel_id"], d["geom_type"], d["n_rings"], d["n_groups"],
         d["way_area"], d["minx"], d["miny"], d["maxx"], d["maxy"],
         d["z_order"], d["wkb_len"], d["hdr_hex"], d["tags_sig"],
         d["del_sig"])
        for d in reps
    ]

    cols = ("rel_id bigint, geom_type integer, n_rings integer, "
            "n_groups integer, way_area double, "
            "minx bigint, miny bigint, maxx bigint, "
            "maxy bigint, z_order bigint, cell bigint, wkb_len integer, "
            "hdr_hex varchar, tags_sig varchar, del_sig varchar")
    if not out_rows:
        return (f"select * from (values (0,0,0,0,0e0,0,0,0,0,0,0,0,'','','')) "
                f"as t({', '.join(c.split()[0] for c in cols.split(', '))})"
                f" where false")

    # cell per relation: the INDEPENDENT DuckDB buffered-descent CTE
    # (oracle/duck_calc.py, the same second implementation q03-q05 verify
    # against), buffer 0.025 per geometry.go:311-317
    try:
        import duckdb

        con = duckdb.connect()
        bbox_vals = ", ".join(
            f"({r[0]}, {r[5]}, {r[6]}, {r[7]}, {r[8]})" for r in out_rows
        )
        cell_sql = (
            f"with src(rel_id, minx, miny, maxx, maxy) as "
            f"(values {bbox_vals}),\n"
            + calculate_cte_fragments("select * from src", "rel_id",
                                      0.025, 18, prefix="mp")
            + "\nselect rel_id, cell from mp_cells"
        )
        cell_by_rel = dict(con.execute(cell_sql).fetchall())
        con.close()
    except Exception:
        return None
    out_rows = [
        r[:10] + (int(cell_by_rel[r[0]]),) + r[10:] for r in out_rows
    ]

    def _lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            return _dlit(v)
        return str(int(v))

    vals = ",\n  ".join(
        "(" + ", ".join(_lit(v) for v in r) + ")" for r in out_rows
    )
    names = [c.split()[0] for c in cols.split(", ")]
    casts = ", ".join(
        f"cast({n} as {t}) as {n}"
        for n, t in ((c.split()[0], c.split()[1]) for c in cols.split(", "))
    )
    return (f"select {casts} from (values\n  {vals}\n) "
            f"as t({', '.join(names)})")


# deterministic node-change batch (dialect-neutral SQL over the nodes view):
# modify every node_id%10==3, delete %10==7, create fresh ids for %10==1
_NODE_CHANGES_SQL = """
select node_id, cast(1 as bigint) as seq, 'modify' as change_type,
       lon + 337 as lon, lat - 221 as lat
from nodes where node_id % 10 = 3
union all
select node_id, cast(1 as bigint), 'delete',
       cast(null as bigint), cast(null as bigint)
from nodes where node_id % 10 = 7
union all
select node_id + 10000000, cast(1 as bigint), 'create',
       lon - 123, lat + 456
from nodes where node_id % 10 = 1
"""

_MERGED_NODES_CTE = """
merged_nodes as (
  select node_id, lon, lat from nodes
  where node_id % 10 <> 3 and node_id % 10 <> 7
  union all
  select node_id, lon + 337 as lon, lat - 221 as lat
  from nodes where node_id % 10 = 3
  union all
  select node_id + 10000000 as node_id, lon - 123 as lon, lat + 456 as lat
  from nodes where node_id % 10 = 1
)"""


def q33_update_tiles(spark, sf_dir) -> DataFrame:
    """CalcUpdateTiles end-to-end (update/update.go:343-540): apply a
    node-change batch, recompute cells for ONLY the affected ways/nodes,
    merge into the cell tables.  The oracle is a FULL recompute over the
    merged input in DuckDB — incremental must equal it exactly, which is
    the operator's entire contract."""
    _prep(spark, sf_dir)
    from .operators.update import calc_update_tiles

    nodes = spark.table("nodes")
    way_refs = spark.table("way_refs")
    wc = way_cells(_way_bbox_df(spark), 0.05, 18)
    nc = node_cells(nodes, way_refs, wc, 0.05, 18)
    changes = spark.sql(_NODE_CHANGES_SQL)
    out = calc_update_tiles(nodes, way_refs, wc, nc, changes)
    return (
        out["way_cells"].select(
            F.lit("w").alias("etype"), F.col("way_id").alias("id"), "cell"
        )
        .unionByName(
            out["node_cells"].select(
                F.lit("n").alias("etype"), F.col("node_id").alias("id"),
                "cell",
            )
        )
    )


def _update_tiles_oracle(merged_nodes_cte: str) -> str:
    """FULL-recompute oracle over a merged-nodes CTE (named merged_nodes):
    way bboxes -> buffered descent, node Common fold with point-box
    fallback — the exact q03/q04 pipeline over the post-change state.
    Shared by q33 (one change batch) and q59 (streamed batches)."""
    fin = sqlgen.common_finish_sql(DUCK, "p.mn", "p.mx", "p.md")
    fb_src = ("select node_id, lon as minx, lat as miny, "
              "lon + 1 as maxx, lat + 1 as maxy from merged_nodes")
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + ",\n" + merged_nodes_cte[1:] + """,
wb2 as (
  select way_id, min(n.lon) as minx, min(n.lat) as miny,
         max(n.lon) as maxx, max(n.lat) as maxy
  from way_refs w join merged_nodes n on w.ref = n.node_id
  group by way_id
),
""" + calculate_cte_fragments("select * from wb2", "way_id", 0.05, 18,
                              prefix="uw")
        + ",\n"
        + calculate_cte_fragments(fb_src, "node_id", 0.05, 18, prefix="uf")
        + """,
parent2 as (
  select w.ref as node_id,
         min((case when c.cell >= 0 then c.cell end) & (-32)) as mn,
         max((case when c.cell >= 0 then c.cell end) & (-32)) as mx,
         min((case when c.cell >= 0 then c.cell end) & 31) as md
  from way_refs w join uw_cells c using (way_id)
  group by w.ref
)
select 'w' as etype, way_id as id, cell from uw_cells
union all
select 'n' as etype, n.node_id as id,
       coalesce(""" + fin + """, f.cell) as cell
from merged_nodes n
left join parent2 p on n.node_id = p.node_id
join uf_cells f on n.node_id = f.node_id"""
    )


def q33_oracle() -> str:
    return _update_tiles_oracle(_MERGED_NODES_CTE)


# deterministic synthesized node tags — dialect-neutral pieces so both
# engines derive the same tag set per node
_NODE_TAGS_CASES = {
    "highway": ("node_id % 5 = 0", "'hw' || (node_id % 7)"),
    "amenity": ("node_id % 3 = 0", "'am' || (node_id % 4)"),
    "name": ("node_id % 4 = 0", "'n' || (node_id % 11)"),
    "randomkey": ("node_id % 2 = 0", "'rv' || (node_id % 13)"),
}

_NODE_TAGS_SPARK_SQL = """
select node_id, lon, lat,
  map_filter(map(""" + ", ".join(
    f"'{k}', case when {cond} then cast({val} as string) end"
    for k, (cond, val) in _NODE_TAGS_CASES.items()
) + """), (k, v) -> v is not null) as tags
from nodes
"""


def q34_node_points(spark, sf_dir) -> DataFrame:
    """Node -> Point geometry with the nodeTags rewrite
    (makegeometries.go:139-157 + :43-69): feature filter, style keys kept,
    the rest folded into sorted-key other_tags JSON, point cell — all
    native.  Oracle: the same rewrite replicated as plain SQL over the
    deterministic synthesized node tags."""
    _prep(spark, sf_dir)
    from .operators.geometry import make_node_geometries

    nt = spark.sql(_NODE_TAGS_SPARK_SQL)
    out = make_node_geometries(nt)
    return out.select(
        "node_id", "lon", "lat", "geom_type", "cell",
        F.expr(
            "array_join(array_sort(transform(map_entries(tags),"
            " e -> concat(e.key, '=', e.value))), ';')"
        ).alias("tags_sig"),
    )


def q34_oracle() -> str:
    cell = sqlgen.point_cell_sql(DUCK, "lon", "lat", 18)
    hw_c, hw_v = _NODE_TAGS_CASES["highway"]
    am_c, am_v = _NODE_TAGS_CASES["amenity"]
    nm_c, nm_v = _NODE_TAGS_CASES["name"]
    rk_c, rk_v = _NODE_TAGS_CASES["randomkey"]
    # expected rewritten tags: highway/amenity/name kept (node style keys);
    # randomkey folds into other_tags JSON; feature iff highway or amenity
    return (
        tpch.synth_cte_prefix("nodes")
        + f""",
feat as (
  select node_id, lon, lat,
    case when {hw_c} then 'highway=' || {hw_v} end as t_hw,
    case when {am_c} then 'amenity=' || {am_v} end as t_am,
    case when {nm_c} then 'name=' || {nm_v} end as t_nm,
    case when {rk_c} then
      'other_tags={{"randomkey":"' || {rk_v} || '"}}' end as t_ot
  from nodes
  where ({hw_c}) or ({am_c})
)
select node_id, lon, lat, 1 as geom_type, {cell} as cell,
       concat_ws(';', t_am, t_hw, t_nm, t_ot) as tags_sig
from feat"""
    )


def q28_windowed_events(spark, sf_dir) -> DataFrame:
    """Tumbling-window event rollup (the Structured-Streaming agg shape run
    on the static table; the streaming variant is tested in pytest)."""
    _prep(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type", "n", "min_id", "max_id",
        )
    )


def q28_oracle() -> str:
    return """
select cast(epoch(time_bucket(interval '1 hour', ts)) as bigint)
         as win_start,
       event_type, count(*) as n,
       min(event_id) as min_id, max(event_id) as max_id
from events group by 1, 2"""


def _complete_ways(spark, region_pred) -> DataFrame:
    """FindObjsFilter + FilterObjs closure over the synth tables with a
    boolean region Column, returning the (etype, id) id-set — shared by
    q29 (bbox region) and q52 (.poly region), mirroring the shared
    parameterized oracle (_complete_ways_oracle)."""
    from .operators.filters import filter_objs, find_objs_filter

    nodes = spark.table("nodes")
    way_refs = spark.table("way_refs")
    rel_members = spark.table("rels").select(
        "rel_id", F.lit("w").alias("mtype"), F.col("member_way").alias("ref")
    )
    ids = find_objs_filter(nodes, way_refs, rel_members, region_pred)
    out = filter_objs(nodes, way_refs, rel_members, ids)
    return (
        out["nodes"].select(F.lit("n").alias("etype"),
                            F.col("node_id").alias("id")).distinct()
        .unionByName(
            out["way_refs"].select(F.lit("w").alias("etype"),
                                   F.col("way_id").alias("id")).distinct()
        )
        .unionByName(
            out["rel_members"].select(F.lit("r").alias("etype"),
                                      F.col("rel_id").alias("id")).distinct()
        )
    )


def q29_complete_ways(spark, sf_dir) -> DataFrame:
    """Complete-ways spatial extract (FindObjsFilter + FilterObjs,
    filter/filter.go:288-408): region nodes -> touching ways -> all their
    nodes -> relations (5-edge closure), members trimmed."""
    _prep(spark, sf_dir)
    region = (
        (F.col("lon") >= -1000000) & (F.col("lon") <= 1000000)
        & (F.col("lat") >= 509000000) & (F.col("lat") <= 511000000)
    )
    return _complete_ways(spark, region)


def q29_oracle() -> str:
    return _complete_ways_oracle(
        "lon >= -1000000 and lon <= 1000000 "
        "and lat >= 509000000 and lat <= 511000000"
    )


def _complete_ways_oracle(region_pred: str) -> str:
    """The FindObjsFilter+FilterObjs closure as SQL, parameterized on the
    region predicate over (lon, lat) — shared by q29 (bbox region) and
    q52 (.poly region)."""
    return (
        tpch.synth_cte_prefix("nodes", "way_refs", "rels")
        + f""",
region_nodes as (
  select distinct node_id from nodes
  where {region_pred}
),
kept_ways as (
  select distinct way_id from way_refs w
  where exists (select 1 from region_nodes r where r.node_id = w.ref)
),
all_way_nodes as (
  select distinct ref as node_id from way_refs w
  where exists (select 1 from kept_ways k where k.way_id = w.way_id)
),
kept_rels as (
  select distinct rel_id from rels r
  where exists (select 1 from kept_ways k where k.way_id = r.member_way)
),
kept_nodes as (
  select node_id from region_nodes
  union select node_id from all_way_nodes
)
select 'n' as etype, node_id as id from kept_nodes
union all select 'w' as etype, way_id as id from kept_ways
union all select 'r' as etype, rel_id as id from kept_rels"""
    )


def q30_media_features(spark, sf_dir) -> DataFrame:
    """Multimodal pipeline over REAL image bytes: a deterministic tiny
    grayscale PNG per document (stdlib zlib/struct encoder), decoded by
    the engine's own stdlib PNG decoder (signature + IHDR + IDAT inflate
    + scanline de-filtering) inside the Arrow mapInPandas stage, features
    computed from the actual pixel array.  The oracle never touches the
    compressed bytes — it predicts every decoded value from the
    synthesizer's closed form, so a decoder bug fails the hash."""
    _prep(spark, sf_dir)
    from .operators.media import extract_media_features, png_blobs

    media = png_blobs(spark.table("documents"))
    return extract_media_features(media).select(
        "doc_id", "media_ref", "width", "height",
        *[f"f{i}" for i in range(8)],
    )


def q30_oracle() -> str:
    # pixel(x, y) = (7x + 13y + 31*id) mod 256 on a (4 + id%13) x
    # (4 + id%11) grid — replicated arithmetically (media.py
    # synth_png_bytes), never via the PNG bytes
    pix = "((i % w) * 7 + (i // w) * 13 + 31 * doc_id) % 256"
    return f"""
with dims as (
  select doc_id,
         4 + doc_id % 13 as w,
         4 + doc_id % 11 as h
  from documents
),
px as (
  select doc_id, w, h,
         list_transform(range(0, w * h), i -> {pix}) as p
  from dims
)
select doc_id,
       'png://' || cast(doc_id as varchar) as media_ref,
       cast(w as int) as width,
       cast(h as int) as height,
       cast(list_aggregate(p, 'sum') as bigint) as f0,
       cast(list_aggregate(list_transform(range(0, w),
            x -> (x * 7 + 31 * doc_id) % 256), 'sum') as bigint) as f1,
       cast(list_aggregate(list_transform(range(0, h),
            y -> (y * 13 + 31 * doc_id) % 256), 'sum') as bigint) as f2,
       cast((31 * doc_id) % 256 as bigint) as f3,
       cast(((w - 1) * 7 + (h - 1) * 13 + 31 * doc_id) % 256 as bigint)
         as f4,
       cast(list_aggregate(p, 'max') as bigint) as f5,
       cast(list_aggregate(p, 'min') as bigint) as f6,
       cast(len(list_filter(p, v -> v > 127)) as bigint) as f7
from px"""


def q31_node_parent(spark, sf_dir) -> DataFrame:
    """Node inherits the highway value from its max-z-order parent way —
    with the z-order COMPUTED from the REWRITTEN way tags (with_tag_rewrite's
    z_order column), composed into AddNodeParent exactly as the
    reference chains them (FindParentHighway picks the parent by the
    way's computed z-order, nodeparent.go:13-26, zorder.go:242-279).
    The oracle re-derives the same z-order arithmetically in SQL."""
    _prep(spark, sf_dir)
    from .operators.attrs import add_node_parent
    from .operators.geometry import with_tag_rewrite

    way_tags = spark.sql(_WAY_TAGS_SPARK_SQL)
    rw = with_tag_rewrite(way_tags, "way")
    way_attrs = (
        rw.select(
            "way_id", "z_order",
            F.element_at(F.col("tags_out"), "highway").alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )
    out = add_node_parent(
        spark.table("nodes").select("node_id"),
        spark.table("way_refs"), way_attrs,
    )
    return out.filter(F.col("parent_highway").isNotNull())


def q31_oracle() -> str:
    from .qtcore.rings import HIGHWAY_ORDER

    hw_c, hw_v = _WAY_TAG_CASES["highway"]
    rank = " ".join(
        f"when hw = '{k}' then {v}"
        for k, v in sorted(HIGHWAY_ORDER.items())
    )
    return (
        tpch.synth_cte_prefix("way_refs")
        + f""",
wt as (
  select way_id, case when {hw_c} then {hw_v} end as hw
  from (select distinct way_id from way_refs) w
),
wa as (
  select way_id, hw as value,
         -- computed z-order over the rewritten tags: highway rank when
         -- rank > 1, else 0 (folded keys never contribute)
         cast(case when (case {rank} else 0 end) > 1
              then (case {rank} else 0 end) else 0 end as bigint) as z_order
  from wt where hw is not null
),
ranked as (
  select w.ref as node_id, a.value,
         row_number() over (partition by w.ref
                            order by a.z_order desc, a.value desc) as rn
  from way_refs w join wa a using (way_id)
)
select node_id, value as parent_highway from ranked where rn = 1"""
    )


def q32_relation_range(spark, sf_dir) -> DataFrame:
    """Way inherits aggregated parent-relation tags (AddRelationRange,
    relationrange.go:24-77): admin-level min/max + sorted route list."""
    _prep(spark, sf_dir)
    from .operators.attrs import add_relation_range

    members = spark.table("rels").select(
        "rel_id", F.col("member_way").alias("ref")
    )
    rel_tags = spark.sql(_REL_TAGS_SQL)
    ways = spark.table("way_refs").select("way_id").distinct()
    out = add_relation_range(ways, members, rel_tags)
    return out.select(
        "way_id", "min_admin", "max_admin",
        F.array_join("route_refs", ",").alias("routes"),
    ).filter(F.col("min_admin").isNotNull() | (F.col("routes") != ""))


_REL_TAGS_SQL = """
select rel_id,
  case when rel_id % 4 = 0 then rel_id % 12 end as admin_level,
  case when rel_id % 3 = 0
       then concat('R', cast(rel_id % 50 as string)) end as route_ref
from (select distinct rel_id from rels) r
"""


def q32_oracle() -> str:
    # restrict to ways that exist (orders with no lineitems are relation
    # members but not ways — the engine inherits onto the ways table)
    return (
        tpch.synth_cte_prefix("rels", "way_refs")
        + f""",
w as (select distinct way_id from way_refs),
rt as ({_REL_TAGS_SQL.replace("cast(rel_id % 50 as string)",
                              "cast(rel_id % 50 as varchar)")}),
j as (
  select m.member_way as way_id, t.admin_level, t.route_ref
  from rels m join rt t using (rel_id)
),
agg as (
  select way_id,
         min(admin_level) as min_admin,
         max(admin_level) as max_admin,
         array_to_string(
           list_sort(list_distinct(
             list(route_ref) filter (route_ref is not null))), ',')
           as routes
  from j group by way_id
)
select way_id, min_admin, max_admin, coalesce(routes, '') as routes
from agg join w using (way_id)
where min_admin is not null or coalesce(routes, '') <> ''"""
    )


def q35_wkb_roundtrip(spark, sf_dir) -> DataFrame:
    """WKB sink (geometryimpl.go:279-380): way geometries encode to
    big-endian WKB, the gate hashes the structural header bytes (hex) and
    the encode->decode round-trip of the endpoint coordinates; the oracle
    computes all of it arithmetically from the source tables."""
    _prep(spark, sf_dir)
    from .functions.wkb import parse_wkb_udf, wkb_udf
    from .operators.geometry import add_way_coords, make_way_geometries

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    g = make_way_geometries(wc, way_tags=None)
    enc = g.select(
        "way_id",
        wkb_udf()(F.col("geom_type"), "lons", "lats").alias("wkb"),
    )
    dec = parse_wkb_udf()
    out = enc.select(
        "way_id",
        F.length("wkb").alias("wkb_len"),
        F.lower(F.hex(F.expr("substring(wkb, 1, 9)"))).alias("hdr_hex"),
        dec("wkb").alias("d"),
    )
    return out.select(
        "way_id", "wkb_len", "hdr_hex",
        F.col("d.geom_type").alias("geom_type"),
        F.col("d.n_pts").alias("n_pts"),
        F.col("d.first_x").alias("first_x"),
        F.col("d.first_y").alias("first_y"),
        F.col("d.last_x").alias("last_x"),
        F.col("d.last_y").alias("last_y"),
    )


def q35_oracle() -> str:
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + """,
pts as (
  select w.way_id, w.pos, w.ref, n.lon, n.lat,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
ends as (
  select way_id, np,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = np then ref end) as last_ref,
         min(case when rn = 1 then lon end) as flon,
         min(case when rn = 1 then lat end) as flat,
         min(case when rn = np then lon end) as llon,
         min(case when rn = np then lat end) as llat
  from pts group by way_id, np
),
g as (
  select way_id, np, flon, flat, llon, llat,
         case when np >= 3 and first_ref = last_ref then 3 else 2 end as gt
  from ends
)
select way_id,
  cast(case when gt = 3 then 13 + 16 * np else 9 + 16 * np end as int)
    as wkb_len,
  case when gt = 3 then '000000000300000001'
       else '0000000002' || printf('%08x', np) end as hdr_hex,
  cast(gt as int) as geom_type, cast(np as int) as n_pts,
  flon * 1e-7 as first_x, flat * 1e-7 as first_y,
  llon * 1e-7 as last_x, llat * 1e-7 as last_y
from g"""
    )


def q36_partitioned_scan(spark, sf_dir) -> DataFrame:
    """Partial (pruned) scan over a REAL cell-partitioned table: the
    way-geometry table is written partitionBy(cell_round(cell, 6)), then a
    tile query reads only the cover partitions (file skipping — the
    distributed analogue of the header-block index seek,
    readfile/partial.go:60-77).  Oracle: the plain bbox filter — pruning
    must not change results."""
    _prep(spark, sf_dir)
    import os

    from .plans.partitioned import pruned_tile_scan, write_cell_partitioned

    wb = _way_bbox_df(spark)
    geoms = wb.join(way_cells(wb, 0.05, 18), "way_id")
    path = _gate_work_dir(spark, "way_geoms")
    write_cell_partitioned(geoms, path, level=6)
    qminx, qminy, qmaxx, qmaxy = QUERY_BOXES[0][1:]
    return pruned_tile_scan(
        spark, path, qminx, qminy, qmaxx, qmaxy, level=6
    ).select("way_id")


def q36_oracle() -> str:
    qminx, qminy, qmaxx, qmaxy = QUERY_BOXES[0][1:]
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f""",
{_WB_CTE}
select way_id from wb
where minx <= {qmaxx} and miny <= {qmaxy}
  and maxx >= {qminx} and maxy >= {qminy}"""
    )


# deterministic synthesized way tags (dialect-neutral pieces).  Key mix is
# chosen so the rewrite exercises every branch: highway/building/name are
# way style keys (kept), bridge/layer/randomkey are not (folded into
# other_tags JSON and therefore EXCLUDED from z-order, which runs on the
# rewritten tags).
_WAY_TAG_CASES = {
    "highway": ("way_id % 7 = 0",
                "case when way_id % 5 = 0 then 'motorway' "
                "when way_id % 5 = 1 then 'service' "
                "when way_id % 5 = 2 then 'residential' "
                "when way_id % 5 = 3 then 'primary' "
                "else 'footway' end"),
    "building": ("way_id % 4 = 0", "'yes'"),
    "name": ("way_id % 3 = 0", "'n' || (way_id % 9)"),
    "bridge": ("way_id % 11 = 0", "'yes'"),
    "layer": ("way_id % 13 = 0", "cast(way_id % 5 - 2 as string)"),
    "randomkey": ("way_id % 2 = 0", "'rv' || (way_id % 6)"),
}

# The tags map derives from the inner `way_id` = max(way_id), which per
# group IS the grouping key (max of the key over its own group) —
# value-identical, but an AGGREGATE output: Catalyst cannot substitute a
# predicate through it, so a consumer filter over the
# (expensive-to-substitute) tags map stops at this boundary and evaluates
# once per way instead of once per way_refs ROW.  Without the barrier,
# q31's `element_at(tags_out,'highway') is not null` was pushed below the
# distinct with the entire tag rewrite — including its Python UDF —
# inlined, re-evaluated per 600k base rows (40x row amplification; 13 s
# of a 14.7k-row stage at sf0.1).  Predicates on the outer way_id (the
# grouping key) still push all the way down.
_WAY_TAGS_SPARK_SQL = """
select wid as way_id,
  map_filter(map(""" + ", ".join(
    f"'{k}', case when {cond} then cast({val} as string) end"
    for k, (cond, val) in _WAY_TAG_CASES.items()
) + """), (k, v) -> v is not null) as tags
from (select way_id as wid, max(way_id) as way_id
      from way_refs group by way_refs.way_id) w
"""


def q37_way_geometry_tags(spark, sf_dir) -> DataFrame:
    """Way geometry WITH the full native tag rewrite: style keys kept,
    bridge/layer/randomkey folded into other_tags JSON, geom_type decided
    by closed-ring AND poly-ish tags, z-order over the REWRITTEN tags
    (folded keys must NOT affect it).  Oracle replicates the rewrite
    arithmetically in SQL over the deterministic synthesized way tags."""
    _prep(spark, sf_dir)
    from .operators.geometry import add_way_coords, make_way_geometries

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    way_tags = spark.sql(_WAY_TAGS_SPARK_SQL)
    g = make_way_geometries(wc, way_tags=way_tags)
    return g.select(
        "way_id", "geom_type", "z_order", "is_feature",
        F.size("refs").alias("n_points"),
        F.expr(
            "array_join(array_sort(transform(map_entries(tags),"
            " e -> concat(e.key, '=', e.value))), ';')"
        ).alias("tags_sig"),
    )


def q37_oracle() -> str:
    from .qtcore.rings import HIGHWAY_ORDER

    hw_c, hw_v = _WAY_TAG_CASES["highway"]
    bl_c, bl_v = _WAY_TAG_CASES["building"]
    nm_c, nm_v = _WAY_TAG_CASES["name"]
    br_c, br_v = _WAY_TAG_CASES["bridge"]
    ly_c, ly_v = _WAY_TAG_CASES["layer"]
    rk_c, rk_v = _WAY_TAG_CASES["randomkey"]
    rank = " ".join(
        f"when hw = '{k}' then {v}"
        for k, v in sorted(HIGHWAY_ORDER.items())
    )
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f""",
pts as (
  select w.way_id, w.ref,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
ends as (
  select way_id, np,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = np then ref end) as last_ref
  from pts group by way_id, np
),
wt as (
  select way_id, np,
         (np >= 3 and first_ref = last_ref) as closed,
         case when {hw_c} then {hw_v} end as hw,
         case when {bl_c} then {bl_v} end as bl,
         case when {nm_c} then 'n' || (way_id % 9) end as nm,
         case when {br_c} then {br_v} end as br,
         case when {ly_c} then {ly_v} end as ly,
         case when {rk_c} then 'rv' || (way_id % 6) end as rk
  from ends
),
rw as (
  select way_id, np, closed, hw, bl, nm,
         -- folded keys in sorted order: bridge < layer < randomkey
         case when br is not null or ly is not null or rk is not null then
           '{{' || concat_ws(',',
             case when br is not null then '"bridge":"' || br || '"' end,
             case when ly is not null then '"layer":"' || ly || '"' end,
             case when rk is not null then '"randomkey":"' || rk || '"' end
           ) || '}}' end as ot,
         -- z-order over REWRITTEN tags: only highway survives the filter
         coalesce(case {rank} else 0 end, 0) as hwrank
  from wt
)
select way_id,
  cast(case when closed and bl is not null then 3 else 2 end as int)
    as geom_type,
  cast(case when hwrank > 1 then hwrank else 0 end as bigint) as z_order,
  (hw is not null or bl is not null) as is_feature,
  cast(np as int) as n_points,
  concat_ws(';',
    case when bl is not null then 'building=' || bl end,
    case when hw is not null then 'highway=' || hw end,
    case when nm is not null then 'name=' || nm end,
    case when ot is not null then 'other_tags=' || ot end) as tags_sig
from rw"""
    )


def q40_dedup_clusters(spark, sf_dir) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over the
    verified near-duplicate pair graph (minhash bands -> exact Jaccard
    -> min-label propagation), labeling every clustered doc with its
    component's smallest id — the keep-one representative.  Oracle: the
    same pair SQL feeding a recursive-CTE reachability closure in
    DuckDB."""
    _prep(spark, sf_dir)
    from .operators.dedup import (
        duplicate_clusters,
        jaccard_verify,
        minhash_candidates,
    )

    docs = spark.table("docs_aug")
    pairs = jaccard_verify(docs, minhash_candidates(docs))
    return duplicate_clusters(pairs)


def q40_oracle() -> str:
    # the q20 pair query nests as a derived table (DuckDB allows WITH
    # inside a subquery); reachability closes over the symmetric edge set
    return f"""with recursive pairs as (
  select doc_a, doc_b from ({q20_oracle()}) q
),
edges as (
  select doc_a as a, doc_b as b from pairs
  union
  select doc_b as a, doc_a as b from pairs
),
verts as (select distinct a as id from edges),
reach(id, lbl) as (
  select id, id from verts
  union
  select e.b, r.lbl from reach r join edges e on e.a = r.id
)
select id as doc_id, min(lbl) as cluster_id from reach group by id"""


def q41_geojson_roundtrip(spark, sf_dir) -> DataFrame:
    """GeoJSON sink (MakeFeature, geojson.go:76-112): way geometries
    encode to Feature JSON strings, the gate parses them BACK (from_json)
    and re-derives fixed-point coordinates — the encode->decode
    round-trip must reproduce the source ints exactly (scaling 1e-7 and
    back is lossless in float64 at OSM magnitudes).  Float FORMATTING is
    deliberately not hashed (engine-specific); structure, type tagging
    and coordinate values are — the same strategy as the q35 WKB gate."""
    _prep(spark, sf_dir)
    from .functions.geojson import feature_json
    from .operators.geometry import add_way_coords, make_way_geometries

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    g = make_way_geometries(wc, way_tags=None)
    f = feature_json(g).select("way_id", "geom_type", "feature")
    back_int = (
        "cast(round(element_at(element_at({c}, {i}), {j}) * 1e7) as long)"
    )
    poly = (
        f.filter(F.col("geom_type") == 3)
        .withColumn("gj", F.from_json(
            "feature",
            "struct<type: string, id: bigint, "
            "geometry: struct<type: string, "
            "coordinates: array<array<array<double>>>>>",
        ))
        .select(
            "way_id",
            F.col("gj.geometry.type").alias("gtype"),
            F.expr("element_at(gj.geometry.coordinates, 1)").alias("c"),
        )
    )
    line = (
        f.filter(F.col("geom_type") != 3)
        .withColumn("gj", F.from_json(
            "feature",
            "struct<type: string, id: bigint, "
            "geometry: struct<type: string, "
            "coordinates: array<array<double>>>>",
        ))
        .select(
            "way_id",
            F.col("gj.geometry.type").alias("gtype"),
            F.col("gj.geometry.coordinates").alias("c"),
        )
    )
    return poly.unionByName(line).select(
        "way_id", "gtype",
        F.size("c").alias("n_pts"),
        F.expr(back_int.format(c="c", i=1, j=1)).alias("first_lon"),
        F.expr(back_int.format(c="c", i=1, j=2)).alias("first_lat"),
        F.expr(back_int.format(c="c", i=-1, j=1)).alias("last_lon"),
        F.expr(back_int.format(c="c", i=-1, j=2)).alias("last_lat"),
    )


def q41_oracle() -> str:
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + """,
pts as (
  select w.way_id, w.ref, n.lon, n.lat,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
ends as (
  select way_id, np,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = np then ref end) as last_ref,
         min(case when rn = 1 then lon end) as first_lon,
         min(case when rn = 1 then lat end) as first_lat,
         min(case when rn = np then lon end) as last_lon,
         min(case when rn = np then lat end) as last_lat
  from pts group by way_id, np
)
select way_id,
       case when np >= 3 and first_ref = last_ref
            then 'Polygon' else 'LineString' end as gtype,
       cast(np as int) as n_pts,
       first_lon, first_lat, last_lon, last_lat
from ends"""
    )


def q42_wkt(spark, sf_dir) -> DataFrame:
    """WKT sink (geometryimpl.go:243-277): the ENTIRE WKT string per way
    is value-hashed — viable cross-engine because both sides format with
    a correctly-rounded 6-decimal fixed conversion (Python format <->
    DuckDB printf('%.6f'): verified 0 mismatches over 50k coords incl.
    7th-digit-5 ties; the JVM Formatter would double-round, which is why
    the sink is a pandas UDF in the first place)."""
    _prep(spark, sf_dir)
    from .functions.wkt import with_wkt
    from .operators.geometry import add_way_coords, make_way_geometries

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    g = make_way_geometries(wc, way_tags=None)
    return with_wkt(g).select("way_id", "wkt")


def q42_oracle() -> str:
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + """,
pts as (
  select w.way_id, w.ref, n.lon, n.lat,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
agg as (
  select way_id, np,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = np then ref end) as last_ref,
         string_agg(printf('%.6f %.6f', lon * 1e-07, lat * 1e-07),
                    ', ' order by rn) as pts_s
  from pts group by way_id, np
)
select way_id,
       case when np >= 3 and first_ref = last_ref
            then 'POLYGON((' || pts_s || '))'
            else 'LINESTRING(' || pts_s || ')' end as wkt
from agg"""
    )


def q43_relation_geojson(spark, sf_dir) -> DataFrame:
    """GeoJSON sink for RELATIONS (Polygon / MultiPolygon features from
    the assembled ring groups): encode -> from_json decode — grouping,
    type tagging and the fixed-point coordinates must survive the
    round-trip exactly.  Oracle: the frozen scalar replication's mutated
    ring groups."""
    _prep(spark, sf_dir)
    from .functions.geojson import relation_feature_json

    f = relation_feature_json(_mp_fixture_df(spark)).select(
        "rel_id", "n_groups", "feature"
    )
    back_int = "cast(round({e} * 1e7) as long)"
    multi = (
        f.filter(F.col("n_groups") > 1)
        .withColumn("gj", F.from_json(
            "feature",
            "struct<type: string, id: bigint, "
            "geometry: struct<type: string, "
            "coordinates: array<array<array<array<double>>>>>>",
        ))
        .select(
            "rel_id",
            F.col("gj.geometry.type").alias("gtype"),
            F.expr("size(gj.geometry.coordinates)").alias("n_grp"),
            F.expr(
                "aggregate(transform(gj.geometry.coordinates,"
                " g -> size(g)), 0, (a, v) -> a + v)"
            ).alias("n_rings"),
            F.expr("element_at(element_at(element_at("
                   "gj.geometry.coordinates, 1), 1), 1)").alias("p0"),
        )
    )
    single = (
        f.filter(F.col("n_groups") <= 1)
        .withColumn("gj", F.from_json(
            "feature",
            "struct<type: string, id: bigint, "
            "geometry: struct<type: string, "
            "coordinates: array<array<array<double>>>>>",
        ))
        .select(
            "rel_id",
            F.col("gj.geometry.type").alias("gtype"),
            F.lit(1).alias("n_grp"),
            F.expr("size(gj.geometry.coordinates)").alias("n_rings"),
            F.expr("element_at(element_at("
                   "gj.geometry.coordinates, 1), 1)").alias("p0"),
        )
    )
    return multi.unionByName(single).select(
        "rel_id", "gtype", "n_grp", "n_rings",
        F.expr(back_int.format(e="element_at(p0, 1)")).alias("f_lon"),
        F.expr(back_int.format(e="element_at(p0, 2)")).alias("f_lat"),
    )


def q43_oracle() -> str:
    from .sources.docs import generate_docs

    _, truth = generate_docs(**_Q27_FIXTURE)
    rows = []
    for d in _mp_replicate(truth):
        g0 = d["groups"][0]
        p0 = g0[0][0]  # first ring of first group, first point
        rows.append((
            d["rel_id"],
            "MultiPolygon" if d["n_groups"] > 1 else "Polygon",
            d["n_groups"], d["n_rings"], p0[1], p0[2],
        ))
    vals = ",\n  ".join(
        f"({r[0]}, '{r[1]}', {r[2]}, {r[3]}, {r[4]}, {r[5]})" for r in rows
    )
    return (
        "select cast(rel_id as bigint) as rel_id, "
        "cast(gtype as varchar) as gtype, cast(n_grp as int) as n_grp, "
        "cast(n_rings as int) as n_rings, "
        "cast(f_lon as bigint) as f_lon, cast(f_lat as bigint) as f_lat "
        f"from (values\n  {vals}\n) "
        "as t(rel_id, gtype, n_grp, n_rings, f_lon, f_lat)"
    )


def q44_corpus_pipeline(spark, sf_dir) -> DataFrame:
    """The FUSED training-data corpus pipeline — what a data-curation user
    actually runs end-to-end: per-doc stats -> language guess -> exact
    (content-hash) AND near (minhash->Jaccard) duplicate pairs -> one
    connected-components clustering over the combined graph -> per-doc
    keep/drop verdict (keep iff quality passes and the doc is its
    cluster's canonical smallest id).  Oracle: the same composition in
    SQL with a recursive-CTE closure."""
    _prep(spark, sf_dir)
    from .functions import text as T
    from .operators.dedup import (
        duplicate_clusters,
        jaccard_verify,
        minhash_candidates,
    )

    docs = spark.table("docs_aug")
    stats = docs.select(
        "doc_id", T.n_tokens().alias("nt"),
        T.stopword_count().alias("sc"), F.md5("text").alias("h"),
    )
    a = stats.select(F.col("doc_id").alias("doc_a"), "h")
    b = stats.select(F.col("doc_id").alias("doc_b"), "h")
    exact_pairs = (
        a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    near_pairs = jaccard_verify(docs, minhash_candidates(docs)).select(
        "doc_a", "doc_b"
    )
    clusters = duplicate_clusters(
        exact_pairs.unionByName(near_pairs).distinct()
    )
    return stats.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("sc") * 5 >= F.col("nt"), F.lit("en"))
        .otherwise(F.lit("unk")).alias("lang_guess"),
        F.col("nt").cast("long").alias("n_tokens"),
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (
            (F.col("nt") >= 10)
            & (F.coalesce(F.col("cluster_id"), F.col("doc_id"))
               == F.col("doc_id"))
        ).alias("keep"),
    )


def q44_oracle() -> str:
    synth = tpch.synth_cte_prefix("docs_aug")
    exact_sub = (
        synth + "\nselect doc_id, md5(text) as h from docs_aug"
    )
    stats_sub = (
        synth + ",\n" + _DUCK_TEXT_CTE
        + "\nselect doc_id, nt, sc from ts"
    )
    return f"""with recursive pairs as (
  select doc_a, doc_b from ({q20_oracle()}) nq
  union
  select a.doc_id as doc_a, b.doc_id as doc_b
  from ({exact_sub}) a join ({exact_sub}) b
    on a.h = b.h and a.doc_id < b.doc_id
),
edges as (
  select doc_a as a, doc_b as b from pairs
  union
  select doc_b as a, doc_a as b from pairs
),
verts as (select distinct a as id from edges),
reach(id, lbl) as (
  select id, id from verts
  union
  select e.b, r.lbl from reach r join edges e on e.a = r.id
),
clusters as (
  select id as doc_id, min(lbl) as cluster_id from reach group by id
),
stats as ({stats_sub})
select s.doc_id,
       case when s.sc * 5 >= s.nt then 'en' else 'unk' end as lang_guess,
       cast(s.nt as bigint) as n_tokens,
       coalesce(c.cluster_id, s.doc_id) as cluster_id,
       (s.nt >= 10 and coalesce(c.cluster_id, s.doc_id) = s.doc_id) as keep
from stats s left join clusters c using (doc_id)"""


def q45_embed_dedup_keep(spark, sf_dir) -> DataFrame:
    """Embedding near-dup KEEP verdict: LSH sign-bucket pairs (the
    oracle-verifiable axis variant, q23) -> connected-components
    clustering -> every vector labeled with its cluster's canonical
    smallest id and a keep flag — the embedding-side counterpart of the
    q44 corpus pipeline.  Oracle: q23's pair SQL + recursive closure."""
    _prep(spark, sf_dir)
    from .operators.dedup import (
        duplicate_clusters,
        embedding_neardup_lsh_axis,
    )

    aug = spark.sql(_EMB_AUG_SPARK_SQL)
    pairs = embedding_neardup_lsh_axis(aug, 0.95)
    clusters = duplicate_clusters(pairs).withColumnRenamed(
        "doc_id", "vec_id"
    )
    return aug.select("vec_id").join(clusters, "vec_id", "left").select(
        "vec_id",
        F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        (F.coalesce(F.col("cluster_id"), F.col("vec_id"))
         == F.col("vec_id")).alias("keep"),
    )


def q45_oracle() -> str:
    return f"""with recursive pairs as (
  select doc_a, doc_b from ({q23_oracle()}) q
),
edges as (
  select doc_a as a, doc_b as b from pairs
  union
  select doc_b as a, doc_a as b from pairs
),
verts as (select distinct a as id from edges),
reach(id, lbl) as (
  select id, id from verts
  union
  select e.b, r.lbl from reach r join edges e on e.a = r.id
),
clusters as (
  select id as vec_id, min(lbl) as cluster_id from reach group by id
),
allv as (
  select vec_id from (with {_EMB_AUG_DUCK} select vec_id from emb_aug) z
)
select v.vec_id,
       coalesce(c.cluster_id, v.vec_id) as cluster_id,
       (coalesce(c.cluster_id, v.vec_id) = v.vec_id) as keep
from allv v left join clusters c using (vec_id)"""


def _register_ref_views(spark, include_relations: bool) -> None:
    """Build the planet_osm_line / planet_osm_polygon serving views over
    the synth way geometries (+ optionally the relation-assembled
    multipolygons, whose osm_id the view NEGATES per
    packeddatastore.go:354-359).  Shared by q46 (Column-builder surface)
    and q48 (verbatim SQL-string surface)."""
    from .functions.wkb import wkb_collection_udf, wkb_udf
    from .operators.geometry import add_way_coords, make_way_geometries
    from .plans.sqlcompat import register_geometry_views

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    g = make_way_geometries(wc, way_tags=spark.sql(_WAY_TAGS_SPARK_SQL))
    feats = g.filter(F.col("is_feature")).select(
        F.lit("way").alias("kind"), F.col("way_id").alias("id"),
        "geom_type", "z_order", "cell", "tags",
        # the serving views expose the geometry blob as column `way`
        # (packeddatastore.go:361-362) — here the WKB encoding
        wkb_udf()(F.col("geom_type"), "lons", "lats").alias("way"),
    )
    polys = feats.filter(F.col("geom_type") == 3)
    if include_relations:
        mp = _mp_fixture_df(spark, _Q46_REL_FIXTURE).select(
            F.lit("relation").alias("kind"), F.col("rel_id").alias("id"),
            F.lit(3).alias("geom_type"), "z_order", "cell", "tags",
            wkb_collection_udf()(F.col("rings")).alias("way"),
        )
        polys = polys.unionByName(mp)
    register_geometry_views(
        spark,
        lines=feats.filter(F.col("geom_type") == 2),
        polygons=polys,
    )


def q46_ref_sql_surface(spark, sf_dir) -> DataFrame:
    """The reference SQL serving surface end-to-end (sqlselect/ +
    packeddatastore.go:351-378): way geometries registered as
    planet_osm_line / planet_osm_polygon views with the virtual columns
    (osm_id, z_order, quadtree, tag keys), queried through the QUIRK
    builders — prefix-only LIKE, substr edge rules, parse-or-0 casts,
    numchar, maxwidth (plans/sqlcompat.py).  Oracle replicates every
    quirk arithmetically plus the buffer-0.025 cell descent."""
    _prep(spark, sf_dir)
    from .plans.sqlcompat import (
        make_float,
        make_integer,
        maxwidth,
        numchar,
        ref_like,
    )

    _register_ref_views(spark, include_relations=True)
    both = spark.table("planet_osm_line").unionByName(
        spark.table("planet_osm_polygon"), allowMissingColumns=True
    )
    return both.filter(F.col("name").isNotNull()).select(
        "osm_id", "z_order", "quadtree",
        ref_like("name", "n1%").alias("is_n1"),
        make_integer("substring(name, 2, 3)").alias("nm_num"),
        make_float("highway").alias("hw_f"),
        numchar(F.coalesce(F.col("highway"), F.lit("")), "e").alias("n_e"),
        maxwidth(F.concat_ws("\n", "name", "highway")).alias("mw"),
        # the `way` geometry blob column (packeddatastore.go:361-362),
        # value-hashed structurally as q35 does: total length + the
        # 9-byte header (endianness, geometry type, first count word)
        F.length("way").alias("way_len"),
        F.lower(F.hex(F.expr("substring(way, 1, 9)"))).alias("way_hdr"),
    )


def _q46_rel_rows() -> list | None:
    """Frozen relation rows for q46: the scalar multipolygon replication
    (_mp_replicate) over the q46 fixture, cells from the INDEPENDENT
    DuckDB buffered descent @0.025, quirk columns replicated in Python
    with the reference rules (try_cast-or-0, numchar, concat_ws-skips-
    null maxwidth).  osm_id is the NEGATED rel_id — the sign-decode under
    test.  None when DuckDB is unavailable."""
    from .sources.docs import generate_docs

    _, truth = generate_docs(**_Q46_REL_FIXTURE)
    reps = [d for d in _mp_replicate(truth) if "name" in d["tags"]]
    if not reps:
        return []
    try:
        import duckdb

        con = duckdb.connect()
        bbox_vals = ", ".join(
            f"({d['rel_id']}, {d['minx']}, {d['miny']}, "
            f"{d['maxx']}, {d['maxy']})" for d in reps
        )
        cell_sql = (
            f"with src(rel_id, minx, miny, maxx, maxy) as "
            f"(values {bbox_vals}),\n"
            + calculate_cte_fragments("select * from src", "rel_id",
                                      0.025, 18, prefix="mp")
            + "\nselect rel_id, cell from mp_cells"
        )
        cell_by_rel = dict(con.execute(cell_sql).fetchall())
        con.close()
    except Exception:
        return None

    def _int_or_0(s: str) -> int:
        try:
            return int(s)
        except ValueError:
            return 0

    def _float_or_0(s: str | None) -> float:
        if s is None:
            return 0.0
        try:
            return float(s)
        except ValueError:
            return 0.0

    rows = []
    for d in reps:
        name = d["tags"]["name"]
        hw = d["tags"].get("highway")
        rows.append((
            -d["rel_id"],                              # sign-decode
            int(d["z_order"]),
            int(cell_by_rel[d["rel_id"]]),
            name.startswith("n1"),                     # prefix-only LIKE
            _int_or_0(name[1:4]),                      # substr(2,3) or 0
            _float_or_0(hw),
            (hw or "").count("e"),
            max(len(name), len(hw)) if hw is not None else len(name),
            int(d["wkb_len"]),
            d["hdr_hex"],
        ))
    return rows


def q46_oracle() -> str:
    from .qtcore.rings import HIGHWAY_ORDER

    hw_c, hw_v = _WAY_TAG_CASES["highway"]
    bl_c, _ = _WAY_TAG_CASES["building"]
    nm_c, _ = _WAY_TAG_CASES["name"]
    rank = " ".join(
        f"when hw = '{k}' then {v}"
        for k, v in sorted(HIGHWAY_ORDER.items())
    )
    hw_vals = ["motorway", "service", "residential", "primary", "footway"]
    e_case = " ".join(
        f"when hw = '{v}' then {v.count('e')}" for v in hw_vals
    )
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f""",
{_WB_CTE},
{calculate_cte_fragments("select * from wb", "way_id", 0.025, 18,
                         prefix="gq")},
wt as (
  select way_id,
         case when {hw_c} then {hw_v} end as hw,
         ({bl_c}) as has_bl,
         case when {nm_c} then 'n' || (way_id % 9) end as nm
  from (select distinct way_id from way_refs) w
),
q46pts as (
  select w.way_id, w.ref,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
q46cl as (
  select way_id, np,
         (np >= 3 and min(case when rn = 1 then ref end)
                      = min(case when rn = np then ref end)) as closed
  from q46pts group by way_id, np
),
sel as (
  select way_id, hw, nm, has_bl,
         cast(case when (case {rank} else 0 end) > 1
              then (case {rank} else 0 end) else 0 end as bigint) as zord
  from wt
  where nm is not null and (hw is not null or has_bl)
)
select s.way_id as osm_id, s.zord as z_order, c.cell as quadtree,
       ((s.way_id % 9) = 1) as is_n1,
       cast(s.way_id % 9 as bigint) as nm_num,
       cast(0.0 as double) as hw_f,
       cast(case when s.hw is null then 0 else (case {e_case} else 0 end)
            end as bigint) as n_e,
       cast(greatest(length(s.nm), length(coalesce(s.hw, ''))) as int)
         as mw,
       cast(case when l.closed and s.has_bl then 13 + 16 * l.np
                 else 9 + 16 * l.np end as int) as way_len,
       case when l.closed and s.has_bl then '000000000300000001'
            else '0000000002' || printf('%08x', l.np) end as way_hdr
from sel s join gq_cells c using (way_id) join q46cl l using (way_id)"""
        + _q46_rel_union_sql()
    )


def _q46_rel_union_sql() -> str:
    """UNION ALL fragment appending the frozen relation serving rows
    (negative osm_id) to the q46 oracle; empty string when none."""
    rows = _q46_rel_rows()
    if not rows:
        return ""
    vals = ",\n  ".join(
        f"({oi}, {zo}, {cell}, {str(n1).lower()}, {nm}, {_dlit(hf)}, "
        f"{ne}, {mw}, {wl}, '{wh}')"
        for oi, zo, cell, n1, nm, hf, ne, mw, wl, wh in rows
    )
    return f"""
union all
select cast(osm_id as bigint), cast(z_order as bigint),
       cast(quadtree as bigint), is_n1, cast(nm_num as bigint),
       cast(hw_f as double), cast(n_e as bigint), cast(mw as int),
       cast(way_len as int), way_hdr
from (values\n  {vals}\n) as r(osm_id, z_order, quadtree, is_n1, nm_num,
                               hw_f, n_e, mw, way_len, way_hdr)"""


# q48: the verbatim reference-dialect SQL string, executed through the
# rewrite shim (plans/refsql.py).  Every quirk is exercised in a
# VALUE-AFFECTING way:
#   * ::type strip (7::integer);
#   * no-wildcard LIKE — '%motorway' contributes nothing (native LIKE
#     would admit null-name motorway rows), branch 4's 'n_%' is a
#     LITERAL 'n_' prefix matching nothing (native '_' wildcard would
#     admit every named line);
#   * NOT LIKE '%1' is NOT(constant false) = keep (native would drop
#     exactly the n1 rows branch 3 exists to duplicate);
#   * UNION means UNION ALL (dedup would halve branch 3);
#   * substr rules — (2,1) is in-range, (2,3) overflows 2-char names to
#     NULL (naive substring would return '1'), from=0 acts as (1,
#     count-1); makeinteger(NULL) is 0; numchar/maxwidth/strreplace.
_Q48_COLS = """osm_id, z_order, quadtree,
       makeinteger(substr(name, 2, 1)) as nm_num,
       substr(name, 2, 3) as nm3,
       makefloat(highway) as hw_f,
       numchar(strreplace(name, 'n', 'nn'), 'n') as n_n,
       maxwidth(name) as mw,
       substr(name, 0, 2) as nm0"""
_Q48_REF_SQL = f"""select {_Q48_COLS}
from planet_osm_line
where name like 'n%' and 7::integer = 7
union
select {_Q48_COLS}
from planet_osm_polygon
where name like 'n%' or highway like '%motorway'
union
select {_Q48_COLS}
from planet_osm_line
where name like 'n1%' and name not like '%1'
union
select {_Q48_COLS}
from planet_osm_line
where name like 'n_%'"""


def q48_ref_sql_string(spark, sf_dir) -> DataFrame:
    """\"Paste a reference query and run it\": the verbatim dialect string
    above goes through rewrite_ref_sql (macro expansion to native
    expressions — zero Python at execution) and runs against the
    registered serving views.  Oracle: full arithmetic replication of
    the three branches, including which LIKE disjuncts are dead."""
    _prep(spark, sf_dir)
    from .plans.refsql import ref_sql

    _register_ref_views(spark, include_relations=False)
    return ref_sql(spark, _Q48_REF_SQL)


def q48_oracle() -> str:
    from .qtcore.rings import HIGHWAY_ORDER

    hw_c, hw_v = _WAY_TAG_CASES["highway"]
    bl_c, _ = _WAY_TAG_CASES["building"]
    nm_c, _ = _WAY_TAG_CASES["name"]
    rank = " ".join(
        f"when hw = '{k}' then {v}"
        for k, v in sorted(HIGHWAY_ORDER.items())
    )
    return (
        tpch.synth_cte_prefix("nodes", "way_refs")
        + f""",
{_WB_CTE},
{calculate_cte_fragments("select * from wb", "way_id", 0.025, 18,
                         prefix="gq")},
pts as (
  select w.way_id, w.ref,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
ends as (
  select way_id, np,
         min(case when rn = 1 then ref end) as first_ref,
         min(case when rn = np then ref end) as last_ref
  from pts group by way_id, np
),
wt as (
  select way_id,
         (np >= 3 and first_ref = last_ref) as closed,
         case when {hw_c} then {hw_v} end as hw,
         ({bl_c}) as has_bl,
         case when {nm_c} then 'n' || (way_id % 9) end as nm
  from ends
),
feat as (
  select w.way_id, w.nm, w.hw, w.closed, w.has_bl,
         cast(case when (case {rank} else 0 end) > 1
              then (case {rank} else 0 end) else 0 end as bigint) as zord,
         c.cell
  from wt w join gq_cells c using (way_id)
  where w.nm is not null and (w.hw is not null or w.has_bl)
),
outrow as (
  select way_id, nm, closed, has_bl,
         way_id as osm_id, zord as z_order, cell as quadtree,
         cast(way_id % 9 as bigint) as nm_num,
         cast(null as varchar) as nm3,
         cast(0.0 as double) as hw_f,
         cast(2 as bigint) as n_n,
         cast(2 as int) as mw,
         'n' as nm0
  from feat
)
select osm_id, z_order, quadtree, nm_num, nm3, hw_f, n_n, mw, nm0
from outrow
union all
select osm_id, z_order, quadtree, nm_num, nm3, hw_f, n_n, mw, nm0
from outrow
where nm = 'n1' and not (closed and has_bl)"""
    )


# q49: LocTest tile tests — IntersectsQuadtree / ContainsQuadtree over
# the .poly region (filter/poly.go:74-108,143-158; qt.Bounds(0.05),
# quadtree.go:139-177).


def q49_poly_tile_tests(spark, sf_dir) -> DataFrame:
    """Region tile tests for every distinct node cell: buffered cell
    bounds (vectorized descent kernel) -> envelope intersect / contain +
    four-corner pnpoly membership, one Arrow map stage.  Oracle: cells
    from the INDEPENDENT DuckDB point-cell pass, bounds + corners from
    the independent scalar port (qtcore/scalar_ref), frozen as VALUES.
    Reference's Bbox.Contains Miny/Minx typo and the multi-section
    always-false Contains are implemented with the intended semantics
    (documented divergences, FIXTURES.md §3)."""
    _prep(spark, sf_dir)
    from .sources.poly import parse_poly, with_region_tile_tests

    region = parse_poly(POLY_FILE_TEXT)
    cells = (
        with_point_cell(spark.table("nodes"), "lon", "lat", "cell", 18)
        .select("cell")
        .distinct()
    )
    return with_region_tile_tests(cells, region, buffer=0.05)


def q49_oracle_build() -> str | None:
    import os

    from .qtcore import scalar_ref as SR

    sf_dir = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
        or "/root/testdata/sf0.01"
    )
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"create view part as select * from "
            f"read_parquet('{sf_dir}/part.parquet')"
        )
        cell = sqlgen.point_cell_sql(DUCK, "lon", "lat", 18)
        cells = [r[0] for r in con.execute(
            tpch.synth_cte_prefix("nodes")
            # order by: freeze a deterministic cell order into the
            # generated oracle text (see the ylut note — DISTINCT order
            # is process-dependent)
            + f"\nselect distinct {cell} as cell from nodes order by cell"
        ).fetchall()]
        con.close()
    except Exception:
        return None

    outers = [(POLY_LONS, POLY_LATS), (_POLY_B_LONS, _POLY_B_LATS)]
    holes = [(_POLY_HOLE_LONS, _POLY_HOLE_LATS)]
    ex0 = min(min(ls) for ls, _ in outers)
    ex1 = max(max(ls) for ls, _ in outers)
    ey0 = min(min(ls) for _, ls in outers)
    ey1 = max(max(ls) for _, ls in outers)

    def member(x: int, y: int) -> bool:
        inside = any(SR.point_in_poly(ls, lt, x, y) for ls, lt in outers)
        return inside and not any(
            SR.point_in_poly(ls, lt, x, y) for ls, lt in holes
        )

    rows = []
    for c in cells:
        minx, miny, maxx, maxy = SR.cell_bounds(int(c), 0.05)
        inter = (ex0 <= maxx and ey0 <= maxy
                 and ex1 >= minx and ey1 >= miny)
        cont = (ex0 <= minx and ey0 <= miny
                and ex1 >= maxx and ey1 >= maxy)
        cont = cont and member(minx, miny) and member(minx, maxy)
        cont = cont and member(maxx, miny) and member(maxx, maxy)
        rows.append((int(c), inter, cont))
    vals = ",\n  ".join(
        f"({c}, {str(i).lower()}, {str(t).lower()})" for c, i, t in rows
    )
    return (
        f"select cast(cell as bigint) as cell, "
        f"tile_intersects, tile_contains from (values\n  {vals}\n) "
        f"as t(cell, tile_intersects, tile_contains)"
    )


def q50_snapshot_pipeline(spark, sf_dir) -> DataFrame:
    """The RESUMABLE snapshot pipeline end-to-end (plans/lineage.py):
    calcqts stages committed through the SnapshotStore (parquet +
    per-file lineage rows), results read back FROM THE SNAPSHOTS —
    one golden_cells-shaped table (etype, id, cell) over ways, nodes and
    relations.  Within one session a second invocation RESUMES from the
    committed stages and must produce identical rows.  Oracle: the q03 /
    q04 / q05 DuckDB descent SQLs, union-tagged — so the store round-trip
    (write, manifest commit, read-back) is value-verified against the
    same independent cell algebra as the direct operators."""
    _prep(spark, sf_dir)
    import hashlib as _hl

    from .plans.lineage import SnapshotStore, calcqts_pipeline

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    store = SnapshotStore(_gate_work_dir(spark, f"snapshots_{tag}"))
    members = spark.table("rels").select(
        "rel_id", F.lit("w").alias("mtype"),
        F.col("member_way").alias("ref"),
    )
    out = calcqts_pipeline(
        spark, store, spark.table("nodes"), spark.table("way_refs"),
        rel_members=members,
    )
    return (
        out["way_cells"].select(
            F.lit("w").alias("etype"), F.col("way_id").alias("id"), "cell")
        .unionByName(out["node_cells"].select(
            F.lit("n").alias("etype"), F.col("node_id").alias("id"),
            "cell"))
        .unionByName(out["rel_cells"].select(
            F.lit("r").alias("etype"), F.col("rel_id").alias("id"),
            "cell"))
    )


def q50_oracle() -> str:
    return (
        f"select 'w' as etype, way_id as id, cell from ({q03_oracle()}) "
        f"union all "
        f"select 'n' as etype, node_id as id, cell from ({q04_oracle()}) "
        f"union all "
        f"select 'r' as etype, rel_id as id, cell from ({q05_oracle()})"
    )


def q51_streaming_rollup(spark, sf_dir) -> DataFrame:
    """The tumbling-window rollup executed as a REAL Structured Streaming
    query — file stream source (availableNow trigger) -> watermarked
    event-time windows (streaming/changes.py stream_windowed_rollup) ->
    memory sink in complete mode — and compared against the SAME DuckDB
    oracle as the batch q28: the streaming execution path itself
    (micro-batch planner, state store, window finalization) must
    reproduce the batch aggregate exactly."""
    _prep(spark, sf_dir)
    import os
    import shutil
    import uuid

    from .streaming.changes import stream_windowed_rollup

    src = os.path.join(sf_dir, "events.parquet")
    # keyed on sf_dir (as q50's store is) so two scales in one session
    # never reuse each other's staged stream input
    tag = uuid.uuid5(uuid.NAMESPACE_URL, sf_dir).hex[:8]
    work = _gate_work_dir(spark, f"stream_events_{tag}")
    os.makedirs(work, exist_ok=True)
    if not os.listdir(work):
        if os.path.isdir(src):
            # flatten the part files into the stream dir — the file
            # stream source does not recurse into nested directories
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    shutil.copy(os.path.join(src, fn),
                                os.path.join(work, fn))
        else:
            shutil.copy(src, os.path.join(work, "events.parquet"))
    schema = spark.read.parquet(src).schema
    # watermarks require TIMESTAMP (the parquet ts is TIMESTAMP_NTZ);
    # the driver session runs UTC so the cast is value-preserving
    stream = spark.readStream.schema(schema).parquet(work).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    rolled = stream_windowed_rollup(stream)
    qname = f"q51_rollup_{uuid.uuid4().hex[:8]}"
    q = (
        rolled.writeStream.outputMode("complete").format("memory")
        .queryName(qname).trigger(availableNow=True).start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "q51 streaming rollup did not finish within 600s — refusing "
            "to hash a partially-filled memory sink"
        )
    return spark.table(qname).select(
        F.unix_timestamp("win_start").alias("win_start"),
        "event_type", "n", "min_id", "max_id",
    )


def q52_complete_ways_poly(spark, sf_dir) -> DataFrame:
    """The reference's actual region-extract flow: complete-ways closure
    (FindObjsFilter + FilterObjs) driven by a `.poly` REGION FILE instead
    of a bbox — region membership is the multi-section pnpoly predicate
    (sources/poly.py), everything downstream is q29's id-closure.
    Oracle: the shared closure SQL with the region predicate swapped for
    the hardcoded-coordinate pnpoly composite q47 uses."""
    _prep(spark, sf_dir)
    import os
    import tempfile

    from .sources.poly import read_poly_file, region_pred_column

    fd, path = tempfile.mkstemp(suffix=".poly")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(POLY_FILE_TEXT)
        region = read_poly_file(path)
    finally:
        os.unlink(path)
    # region_pred_column = native envelope conjunction (pushed to the
    # scan) AND the Arrow pnpoly residual — the same predicate
    # poly_region_filter applies
    return _complete_ways(spark, region_pred_column(region))


def q52_oracle() -> str:
    in_a = sqlgen.pnpoly_sql(POLY_LONS, POLY_LATS, "lon", "lat")
    in_b = sqlgen.pnpoly_sql(_POLY_B_LONS, _POLY_B_LATS, "lon", "lat")
    in_hole = sqlgen.pnpoly_sql(_POLY_HOLE_LONS, _POLY_HOLE_LATS,
                                "lon", "lat")
    return _complete_ways_oracle(
        f"(({in_a}) or ({in_b})) and not ({in_hole})"
    )


# q47: multi-section Osmosis .poly region filter (sources/poly.py).
# Section B is written as FLOAT degrees to exercise the ParseStringInt /
# Intm scaling path (writevals.go:230-253); the oracle hardcodes the
# expected fixed-point integers so a parser scaling bug fails the gate.
POLY_FILE_TEXT = """test_region
outer_a
-6000000 502000000
-2000000 501000000
0 505000000
2000000 512000000
-1000000 516000000
-5000000 511000000
END
!hole_a
-3000000 505000000
-1000000 505000000
-2000000 509000000
END
outer_b
0.5 50.0
0.9 50.0
0.7 50.4
END
END
"""
_POLY_B_LONS = [5000000, 9000000, 7000000]
_POLY_B_LATS = [500000000, 500000000, 504000000]
_POLY_HOLE_LONS = [-3000000, -1000000, -2000000]
_POLY_HOLE_LATS = [505000000, 505000000, 509000000]


def q47_poly_filter(spark, sf_dir) -> DataFrame:
    """Osmosis .poly region filter end-to-end (filter/poly.go:179-242):
    parse the multi-section file (outer A = q07's polygon, a '!' hole
    inside it, outer B in float degrees), filter nodes to inside-any-outer
    and not-inside-any-hole.  Oracle: unrolled pnpoly predicates with the
    expected fixed-point coords hardcoded independently of the parser."""
    _prep(spark, sf_dir)
    import os
    import tempfile

    from .sources.poly import read_poly_file

    fd, path = tempfile.mkstemp(suffix=".poly")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(POLY_FILE_TEXT)
        region = read_poly_file(path)
    finally:
        os.unlink(path)
    return poly_region_filter(spark.table("nodes"), region).select("node_id")


def q47_oracle() -> str:
    in_a = sqlgen.pnpoly_sql(POLY_LONS, POLY_LATS, "lon", "lat")
    in_b = sqlgen.pnpoly_sql(_POLY_B_LONS, _POLY_B_LATS, "lon", "lat")
    in_hole = sqlgen.pnpoly_sql(_POLY_HOLE_LONS, _POLY_HOLE_LATS,
                                "lon", "lat")
    return (
        tpch.synth_cte_prefix("nodes")
        + f"\nselect node_id from nodes "
        f"where (({in_a}) or ({in_b})) and not ({in_hole})"
    )


_TAGS_SIG_EXPR = (
    "array_join(array_sort(transform(map_entries(tags),"
    " e -> concat(e.key, '=', e.value))), ';')"
)


def q39_generate_geometries(spark, sf_dir) -> DataFrame:
    """The FUSED GenerateGeometries DAG (entry point C,
    geometry/geometry.go:225-327) end-to-end over the docs fixture:
    parse -> node points + way geometries + multipolygons + outer-tag
    deletions -> ONE unified features table -> cell-partitioned write ->
    full read-back.  Hashes every feature's (kind, id, geom_type, cell,
    serving tile, z_order, bbox, way_area, tags) — the integration gate
    that catches cross-stage schema drift the per-operator gates
    (q26/q27/q31/q34/q37/q38) can't see.  Oracle: scalar replication over
    the generator's ground truth + independent DuckDB cell descent,
    frozen as VALUES (q39_oracle_build)."""
    _prep(spark, sf_dir)
    import os

    from .operators.geometry import generate_geometries
    from .plans.partitioned import PART_COL, write_cell_partitioned
    from .sources.docs import docs_to_spark, generate_docs, parse_spans

    rows, _ = generate_docs(**_Q27_FIXTURE)
    parsed = parse_spans(docs_to_spark(spark, rows))
    tags = parsed["tags"]
    nodes = parsed["nodes"].select("node_id", "lon", "lat")
    node_tags = (
        parsed["nodes"].select("node_id", "doc_id")
        .join(tags, "doc_id", "left").select("node_id", "tags")
    )
    way_refs = parsed["ways"].select(
        "way_id", F.posexplode("refs").alias("pos", "ref")
    )
    way_tags = (
        parsed["ways"].select("way_id", "doc_id")
        .join(tags, "doc_id", "left").select("way_id", "tags")
    )
    rel_tags = (
        parsed["rels"].select("rel_id", "doc_id")
        .join(tags, "doc_id", "left").select("rel_id", "tags")
    )
    members = (
        parsed["rels"]
        .select("rel_id", F.posexplode("members").alias("mpos", "m"))
        .filter(F.col("m.mtype") == "w")
        .select("rel_id", "mpos", F.col("m.ref").alias("ref"),
                F.col("m.role").alias("role"))
    )
    feats = generate_geometries(
        nodes, node_tags, way_refs, way_tags, members, rel_tags
    )
    # serving round trip: the same run-unique scratch scheme as q36
    work = _gate_work_dir(spark, "features")
    write_cell_partitioned(feats, work, level=6)
    back = spark.read.parquet(work)
    return back.select(
        "kind", "id", "geom_type", "cell",
        F.col(PART_COL).cast("long").alias("tile"),
        "z_order", "minx", "miny", "maxx", "maxy", "way_area",
        F.expr(_TAGS_SIG_EXPR).alias("tags_sig"),
    )


def q39_oracle_build() -> str | None:
    """q39 expected rows: scalar replication of all three feature classes
    over the generator's ground truth (qtcore.tags/rings + _mp_replicate
    for relations), node point cells + way/relation bbox-descent cells
    computed by the INDEPENDENT DuckDB implementations (oracle/sqlgen
    point_cell_sql + oracle/duck_calc descent) in one build-time pass,
    all frozen as VALUES."""
    from .qtcore import rings as R
    from .qtcore import tags as T
    from .sources.docs import generate_docs

    _, truth = generate_docs(**_Q27_FIXTURE)
    nodes = {nid: (lon, lat) for _, nid, lon, lat in truth["nodes"]}
    ways = {wid: refs for _, wid, refs in truth["ways"]}

    feats = []  # (kind, id, geom_type, z_order, bbox4, area, tags_dict)
    for _, nid, lon, lat in truth["nodes"]:
        isfeat, nt = T.node_tags_filter(truth["tags"].get(("node", nid), {}))
        if not isfeat:
            continue
        feats.append(("point", nid, 1, 0, lon, lat, lon, lat, 0.0, nt))

    reps = _mp_replicate(truth)
    del_keys: dict = {}
    for d in reps:
        for wid, k in d["dels"]:
            del_keys.setdefault(wid, set()).add(k)

    tf = T.DEFAULT_TAG_FILTER
    feature_keys = [k for k, tt in tf.items() if tt.is_way and tt.is_feature]
    for _, wid, refs in truth["ways"]:
        if any(r not in nodes for r in refs):
            continue  # incomplete ways drop in add_way_coords
        zo, isp, wt = T.way_tags_filter(truth["tags"].get(("way", wid), {}))
        ring = [(r, nodes[r][0], nodes[r][1]) for r in refs]
        closed = len(refs) >= 3 and refs[0] == refs[-1]
        poly = closed and isp
        gt = 3 if poly else 2
        area = 0.0
        if poly:
            try:
                area = R.polygon_area([list(ring)])
            except ValueError:
                area = 0.0
        # outer-tag deletions then the standalone feature test
        wt = {k: v for k, v in wt.items() if k not in del_keys.get(wid, ())}
        if not any(k in wt for k in feature_keys):
            continue
        lons = [p[1] for p in ring]
        lats = [p[2] for p in ring]
        feats.append(("way", wid, gt, zo, min(lons), min(lats),
                      max(lons), max(lats), area, wt))

    for d in reps:
        feats.append(("relation", d["rel_id"], d["geom_type"],
                      d["z_order"], d["minx"], d["miny"], d["maxx"],
                      d["maxy"], d["way_area"], d["tags"]))

    # cells: point closed-form for nodes, buffer-0.025 descent for the
    # rest — both via the independent DuckDB implementations, one pass
    try:
        import duckdb

        con = duckdb.connect()
        pt_vals = ", ".join(
            f"('{f[0]}', {f[1]}, {f[4]}, {f[5]})"
            for f in feats if f[0] == "point"
        ) or "('x', 0, 0, 0)"
        bx_vals = ", ".join(
            f"('{f[0]}', {f[1]}, {f[4]}, {f[5]}, {f[6]}, {f[7]})"
            for f in feats if f[0] != "point"
        ) or "('x', 0, 0, 0, 0, 0)"
        pc = sqlgen.point_cell_sql(DUCK, "lon", "lat", 18)
        cell_sql = (
            f"with pts(kind, id, lon, lat) as (values {pt_vals}),\n"
            f"src(kind, id, minx, miny, maxx, maxy) as "
            f"(values {bx_vals}),\n"
            + calculate_cte_fragments("select * from src", "kind, id",
                                      0.025, 18, prefix="gg")
            + f"\nselect kind, id, {pc} as cell from pts"
            f"\nunion all select kind, id, cell from gg_cells"
        )
        cell_by = {
            (r[0], r[1]): r[2] for r in con.execute(cell_sql).fetchall()
        }
        con.close()
    except Exception:
        return None

    def _tile(cell: int) -> int:
        c = max(int(cell), 0)
        return c if (c & 31) < 6 else ((c >> 51) << 51) + 6

    rows_sql = ",\n  ".join(
        "("
        + ", ".join([
            f"'{f[0]}'", str(f[1]), str(f[2]),
            str(int(cell_by[(f[0], f[1])])),
            str(_tile(int(cell_by[(f[0], f[1])]))),
            str(f[3]), str(f[4]), str(f[5]), str(f[6]), str(f[7]),
            _dlit(f[8]),
            "'" + ";".join(
                sorted(f"{k}={v}" for k, v in f[9].items())
            ).replace("'", "''") + "'",
        ])
        + ")"
        for f in feats
    )
    return (
        "select cast(kind as varchar) as kind, cast(id as bigint) as id, "
        "cast(geom_type as integer) as geom_type, "
        "cast(cell as bigint) as cell, cast(tile as bigint) as tile, "
        "cast(z_order as bigint) as z_order, "
        "cast(minx as bigint) as minx, cast(miny as bigint) as miny, "
        "cast(maxx as bigint) as maxx, cast(maxy as bigint) as maxy, "
        "cast(way_area as double) as way_area, "
        "cast(tags_sig as varchar) as tags_sig "
        f"from (values\n  {rows_sql}\n) as t(kind, id, geom_type, cell, "
        "tile, z_order, minx, miny, maxx, maxy, way_area, tags_sig)"
    )


# q54/q55: multimodal plumbing breadth — image RESIZE (real PNG path:
# decode -> stride -> re-encode, nothing but stdlib; the oracle predicts
# the resized pixels from the synthesizer's closed form and never sees
# the bytes) and video FRAME-SAMPLE (the 1:N mapInPandas fan-out shape;
# stub frame payload recomputed by the oracle).

def q54_media_resize(spark, sf_dir) -> DataFrame:
    """Decode -> nearest-neighbor 2x downsample -> re-encode -> decode
    again -> features.  Any bug in the decoder, the stride, or the
    re-encoder shifts some pixel and fails the hash."""
    _prep(spark, sf_dir)
    from .operators.media import (
        extract_media_features, png_blobs, resize_media,
    )

    media = resize_media(png_blobs(spark.table("documents")), factor=2)
    return extract_media_features(media).select(
        "doc_id", "media_ref", "width", "height",
        *[f"f{i}" for i in range(8)],
    )


def q54_oracle() -> str:
    # resized pixel(x2, y2) = original pixel(2*x2, 2*y2)
    #   = (14*x2 + 26*y2 + 31*id) % 256 on a ceil(w/2) x ceil(h/2) grid
    pix = "((i % w2) * 14 + (i // w2) * 26 + 31 * doc_id) % 256"
    return f"""
with dims as (
  select doc_id,
         (4 + doc_id % 13 + 1) // 2 as w2,
         (4 + doc_id % 11 + 1) // 2 as h2
  from documents
),
px as (
  select doc_id, w2, h2,
         list_transform(range(0, w2 * h2), i -> {pix}) as p
  from dims
)
select doc_id,
       'png://' || cast(doc_id as varchar) as media_ref,
       cast(w2 as int) as width,
       cast(h2 as int) as height,
       cast(list_aggregate(p, 'sum') as bigint) as f0,
       cast(list_aggregate(list_transform(range(0, w2),
            x -> (x * 14 + 31 * doc_id) % 256), 'sum') as bigint) as f1,
       cast(list_aggregate(list_transform(range(0, h2),
            y -> (y * 26 + 31 * doc_id) % 256), 'sum') as bigint) as f2,
       cast((31 * doc_id) % 256 as bigint) as f3,
       cast(((w2 - 1) * 14 + (h2 - 1) * 26 + 31 * doc_id) % 256
            as bigint) as f4,
       cast(list_aggregate(p, 'max') as bigint) as f5,
       cast(list_aggregate(p, 'min') as bigint) as f6,
       cast(len(list_filter(p, v -> v > 127)) as bigint) as f7
from px"""


def q55_media_frames(spark, sf_dir) -> DataFrame:
    """Frame sampling: every media doc fans out to 4 evenly spaced
    frames (1:N mapInPandas).  Timestamps from the typed duration
    metadata; the stub frame payload id is recomputed by the oracle."""
    _prep(spark, sf_dir)
    from .operators.media import sample_frames

    media = spark.table("documents").select(
        "doc_id",
        F.concat(F.lit("png://"), F.col("doc_id").cast("string"))
        .alias("media_ref"),
        (F.lit(1000) + (F.col("doc_id") % 60) * 500).alias("duration_ms"),
    )
    return sample_frames(media, n_frames=4)


def q55_oracle() -> str:
    return """
select d.doc_id,
       'png://' || cast(d.doc_id as varchar) as media_ref,
       cast(r.range as int) as frame_idx,
       cast(r.range * (1000 + (d.doc_id % 60) * 500) // 4 as bigint)
         as ts_ms,
       sha256('png://' || cast(d.doc_id as varchar) || ':'
              || cast(r.range as varchar)) as frame_sha
from documents d, range(0, 4) r"""


# q53: packed geometry-blob codec (the reference's native geometry wire
# format and raw `way` column value — geometry/pbf.go:75-290,
# packeddatastore.go:361-362).  Engine: encode node Points and way
# Linestrings into blobs (functions/geomblob.py, vectorized varint
# kernel), decode them back, emit blob length + header + decoded fields.
# Oracle: ARITHMETIC — DuckDB recomputes every varint's byte count from
# the raw coordinates (zigzag + delta chain per packed list, bbox,
# tag-key widths), so a single mis-sized varint anywhere in the stack
# fails the length; the decoded fields are predicted straight from the
# source tables, so encode/decode cannot hide symmetric bugs (golden
# bytes are additionally pinned in tests/test_geomblob.py).

def _zz_sql(e: str) -> str:
    """zigzag as DuckDB hugeint arithmetic (writevals.go:16-22)."""
    return (f"(case when ({e}) >= 0 then 2*cast(({e}) as hugeint) "
            f"else -2*cast(({e}) as hugeint) - 1 end)")


def _vsz_sql(u: str) -> str:
    """uvarint byte count (1..10) of a non-negative hugeint."""
    cases = " ".join(
        f"when ({u}) < {1 << (7 * k)} then {k}" for k in range(1, 10)
    )
    return f"(case {cases} else 10 end)"


def q53_geometry_blob(spark, sf_dir) -> DataFrame:
    """Packed geometry-blob round trip: nodes as Point blobs
    (packPointData), ways as Linestring blobs with bbox
    (packLinestringData), decoded back by the engine's own reader —
    blob_len/header verified arithmetically, decoded fields against the
    source tables."""
    _prep(spark, sf_dir)
    from .functions.geomblob import (
        pack_linestring_udf, pack_point_udf, parse_geomblob_udf,
    )
    from .operators.geometry import add_way_coords

    parse = parse_geomblob_udf()
    out_cols = [
        "kind", "id", "blob_len", "hdr_hex", "gt", "ot", "zo_dec", "np",
        "sum_ref", "sum_lon", "sum_lat", "first_lon", "last_lat",
    ]

    wc = add_way_coords(spark.table("way_refs"), spark.table("nodes"))
    ways = wc.select(
        "way_id", "refs", "lons", "lats",
        (F.col("way_id") % 1001 - 500).alias("zo"),  # negatives: zigzag
    ).withColumn(
        "blob",
        pack_linestring_udf()("refs", "lons", "lats", "zo", F.lit(1)),
    ).withColumn("d", parse(F.col("blob")))
    w_out = ways.select(
        F.lit("way").alias("kind"), F.col("way_id").alias("id"),
        F.length("blob").alias("blob_len"),
        F.lower(F.hex(F.expr("substring(blob, 1, 3)"))).alias("hdr_hex"),
        F.col("d.gt").alias("gt"), F.col("d.ot").alias("ot"),
        F.col("d.zo").alias("zo_dec"), F.col("d.np").alias("np"),
        F.col("d.sum_ref").alias("sum_ref"),
        F.col("d.sum_lon").alias("sum_lon"),
        F.col("d.sum_lat").alias("sum_lat"),
        F.col("d.first_lon").alias("first_lon"),
        F.col("d.last_lat").alias("last_lat"),
    )

    nodes = spark.table("nodes").withColumn(
        "blob", pack_point_udf()(F.col("node_id"), F.col("lon"),
                                 F.col("lat"), F.lit(0)),
    ).withColumn("d", parse(F.col("blob")))
    n_out = nodes.select(
        F.lit("node").alias("kind"), F.col("node_id").alias("id"),
        F.length("blob").alias("blob_len"),
        F.lower(F.hex(F.expr("substring(blob, 1, 3)"))).alias("hdr_hex"),
        F.col("d.gt").alias("gt"), F.col("d.ot").alias("ot"),
        F.col("d.zo").alias("zo_dec"), F.col("d.np").alias("np"),
        F.col("d.sum_ref").alias("sum_ref"),
        F.col("d.sum_lon").alias("sum_lon"),
        F.col("d.sum_lat").alias("sum_lat"),
        F.col("d.first_lon").alias("first_lon"),
        F.col("d.last_lat").alias("last_lat"),
    )
    return w_out.unionByName(n_out).select(*out_cols)


def q53_oracle() -> str:
    zz, vsz = _zz_sql, _vsz_sql

    def vz(e: str) -> str:
        return vsz(zz(e))

    way_sql = f"""
wpts as (
  select w.way_id, w.ref, n.lon, n.lat,
         row_number() over (partition by w.way_id order by w.pos, w.ref)
           as rn,
         count(*) over (partition by w.way_id) as np
  from way_refs w join nodes n on w.ref = n.node_id
),
wdel as (
  select way_id, rn, np, ref, lon, lat,
         ref - lag(ref, 1, 0) over w as dref,
         lon - lag(lon, 1, 0) over w as dlon,
         lat - lag(lat, 1, 0) over w as dlat
  from wpts
  window w as (partition by way_id order by rn)
),
wsz as (
  select way_id, max(np) as np,
         sum({vz('dref')}) as refs_b,
         sum({vz('dlon')}) as lons_b,
         sum({vz('dlat')}) as lats_b,
         min(lon) as minx, max(lon) as maxx,
         min(lat) as miny, max(lat) as maxy,
         sum(ref) as sum_ref, sum(lon) as sum_lon, sum(lat) as sum_lat,
         min(case when rn = 1 then lon end) as first_lon,
         min(case when rn = np then lat end) as last_lat
  from wdel group by way_id
),
wlen as (
  select *, way_id % 1001 - 500 as zo,
         (1 + {vsz('refs_b')} + refs_b) + (1 + {vsz('lons_b')} + lons_b)
           + (1 + {vsz('lats_b')} + lats_b) as ring_b,
         4 + {vz('minx')} + {vz('miny')} + {vz('maxx - minx')}
           + {vz('maxy - miny')} as bbox_b
  from wsz
)
select 'way' as kind, way_id as id,
       cast(2 + 1 + {vz('zo')}
            + 1 + {vsz('ring_b')} + ring_b
            + 2 + {vsz('bbox_b')} + bbox_b
            + 3 as int) as blob_len,
       '500258' as hdr_hex, 2 as gt, 1 as ot,
       cast(zo as bigint) as zo_dec, cast(np as int) as np,
       cast(sum_ref as bigint) as sum_ref,
       cast(sum_lon as bigint) as sum_lon,
       cast(sum_lat as bigint) as sum_lat,
       cast(first_lon as bigint) as first_lon,
       cast(last_lat as bigint) as last_lat
from wlen"""

    node_sql = f"""
select 'node' as kind, node_id as id,
       cast(2
            + 1 + {vsz(f"1 + {vz('node_id')} + 1 + {vz('lon')} "
                       f"+ 1 + {vz('lat')}")}
            + 1 + {vz('node_id')} + 1 + {vz('lon')} + 1 + {vz('lat')}
            + 3 as int) as blob_len,
       '50016a' as hdr_hex, 1 as gt, 0 as ot,
       cast(0 as bigint) as zo_dec, 1 as np,
       cast(node_id as bigint) as sum_ref,
       cast(lon as bigint) as sum_lon, cast(lat as bigint) as sum_lat,
       cast(lon as bigint) as first_lon, cast(lat as bigint) as last_lat
from nodes"""

    return (
        tpch.synth_cte_prefix("nodes", "way_refs") + ","
        + way_sql + "\nunion all" + node_sql
    )


# q57: the CUSTOM STATEFUL streaming operator (applyInPandasWithState)
# gated against a full value oracle.  stream_latest_version is the
# STREAMING filterLastObj (update.go:69-110): per-key state carries the
# newest (seq, change_type, val) tuple across micro-batches.  The gate
# stages the q13 change feed as FOUR parquet files consumed one per
# micro-batch (maxFilesPerTrigger=1), so most keys span batches, and the
# sink records batch_id per emission (foreachBatch -> per-batch parquet).
# The gate answer is each key's FINAL emission (max batch_id) — which
# equals the global max-tuple only if state actually carried across
# batches (a stateless per-batch max would return the last batch's local
# max and diverge).  A state-carry witness is also asserted in-gate: the
# same (key, seq, change_type, val) emission under two distinct
# batch_ids is impossible statelessly, because repartition puts any
# given input row in exactly one feed file.

def q57_streaming_stateful(spark, sf_dir) -> DataFrame:
    """Streaming filterLastObj via the custom stateful operator, run as
    a real multi-micro-batch Structured Streaming query (file stream ->
    applyInPandasWithState -> foreachBatch parquet sink, update mode);
    result = final emission per key, which is state-path load-bearing."""
    _prep(spark, sf_dir)
    import os
    import uuid

    from pyspark.sql.window import Window

    from .streaming.changes import stream_latest_version

    tag = uuid.uuid5(uuid.NAMESPACE_URL, sf_dir).hex[:8]
    feed = _gate_work_dir(spark, f"stream_changes_{tag}")
    if not os.path.isdir(feed) or not any(
        f.endswith(".parquet") for f in os.listdir(feed)
    ):
        # 4 part files = 4 micro-batches; hash-split on seq so a key's
        # versions arrive scattered across batches
        spark.sql(_CHANGES_SQL).repartition(4, "seq").write.mode(
            "overwrite"
        ).parquet(feed)
    stream = spark.readStream.schema(
        "key long, seq long, change_type string, val double"
    ).option("maxFilesPerTrigger", 1).parquet(feed)
    qname = f"q57_latest_{uuid.uuid4().hex[:8]}"
    sink_dir = os.path.join(feed, "_sink", qname)

    def _emit(batch_df, batch_id):
        # idempotent on batch retry: one overwritten subdir per batch
        batch_df.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "overwrite"
        ).parquet(os.path.join(sink_dir, f"b{batch_id}"))

    q = (
        stream_latest_version(stream)
        .writeStream.foreachBatch(_emit)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(feed, "_ckpt",
                                                   qname))
        .trigger(availableNow=True).start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "q57 stateful stream did not finish within 600s — refusing "
            "to hash a partially-filled sink"
        )
    emitted = spark.read.parquet(os.path.join(sink_dir, "b*"))
    n_batches = emitted.select("batch_id").distinct().count()
    if n_batches < 2:
        raise AssertionError(
            f"q57: expected a multi-micro-batch run, got {n_batches} "
            "batch(es) — the stream did not exercise cross-batch state"
        )
    # state-carry witness: an identical emission tuple under >=2 distinct
    # batch_ids can only come from carried state (each input row lives in
    # exactly one feed file, so a stateless op cannot re-derive it)
    carried = (
        emitted.groupBy("key", "seq", "change_type", "val")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") >= 2)
        .count()
    )
    if carried == 0:
        raise AssertionError(
            "q57: no emission tuple repeated across batches — the "
            "cross-batch state path was not observed to carry"
        )
    w = Window.partitionBy("key").orderBy(F.desc("batch_id"))
    return (
        emitted
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "seq", "change_type", "val")
    )


def q57_oracle() -> str:
    return f"""
select key, seq, change_type, val from (
  select key, seq, change_type, val,
         row_number() over (partition by key
                            order by seq desc, change_type desc,
                                     val desc) as rn
  from ({_CHANGES_SQL})
) where rn = 1"""


# q58: the PER-FILE LINEAGE ROWS themselves (plans/lineage.py) — the
# north rule's "resumable from checkpoint with per-partition lineage +
# metrics".  q50 verifies the snapshot DATA round-trip; this gate
# verifies the recorded METADATA: per-stage totals and cell ranges as
# derived FROM THE LINEAGE ROWS must equal the independent DuckDB
# descent oracles (q03/q04/q05), and the per-file rows plus the stage
# checksum are verified in-gate by an independent recompute over the
# stored parquet (raising on any mismatch).

def q58_check_stage(spark, store, stage: str) -> list:
    """Re-derive a committed stage's lineage from its stored Parquet and
    raise unless it equals what `SnapshotStore.write` recorded: per data
    file (grouped by `_metadata.file_name`) the row count and `cell`
    min/max (NULL when the stage has no `cell` column), and the stage
    `row_checksum` against the manifest's observed one.  The recorded rows come from Parquet footers and a write-time
    observation, the recompute from a scan of the rows, so a torn or
    partial write diverges; the checksum formula is the shared single
    definition.  A file with no rows has no group here, so its recorded
    row must say 0 rows with NULL bounds.  Returns the recorded rows."""
    from .plans.lineage import row_checksum

    manifest = store.manifest(stage)
    recorded = [r for r in store.lineage_rows(stage)
                if r["snapshot_id"] == manifest["snapshot_id"]]
    stored = store.read(spark, stage)
    bound = (F.col("cell") if "cell" in stored.columns
             else F.lit(None).cast("long"))
    per_file = (
        stored.groupBy(F.col("_metadata.file_name").alias("file"))
        .agg(F.count(F.lit(1)).alias("row_count"),
             F.min(bound).alias("cell_min"), F.max(bound).alias("cell_max"),
             row_checksum(stored.columns).alias("checksum"))
        .collect()
    )
    got = sorted((r["file"], r["row_count"], r["cell_min"], r["cell_max"])
                 for r in per_file)
    want = sorted((r["file"], r["row_count"], r["cell_min"], r["cell_max"])
                  for r in recorded if r["row_count"])
    empty_ok = all(r["cell_min"] is None and r["cell_max"] is None
                   for r in recorded if not r["row_count"])
    if got != want or not empty_ok:
        raise AssertionError(
            f"q58: lineage rows for stage {stage} diverge from the "
            f"independent recompute: recorded={recorded} got={got}"
        )
    checksum = sum(r["checksum"] or 0 for r in per_file) % (1 << 63)
    if checksum != manifest["checksum"]:
        raise AssertionError(
            f"q58: stage {stage} checksum {checksum} recomputed from the "
            f"stored parquet != observed {manifest['checksum']}"
        )
    return recorded


def q58_lineage_rows(spark, sf_dir) -> DataFrame:
    """Value-verify the snapshot store's lineage metadata: stage-level
    row counts + cell ranges folded from the recorded per-file lineage
    rows vs the q03-q05 oracles; every stage's rows and checksum
    re-derived independently from the committed parquet
    (`q58_check_stage`)."""
    _prep(spark, sf_dir)
    import hashlib as _hl

    from .plans.lineage import SnapshotStore, calcqts_pipeline

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    # same store key as q50: whichever gate runs first builds the
    # snapshots, the other resumes from the committed stages
    store = SnapshotStore(_gate_work_dir(spark, f"snapshots_{tag}"))
    members = spark.table("rels").select(
        "rel_id", F.lit("w").alias("mtype"),
        F.col("member_way").alias("ref"),
    )
    calcqts_pipeline(
        spark, store, spark.table("nodes"), spark.table("way_refs"),
        rel_members=members,
    )
    summary = []
    for stage in ("way_cells", "node_cells", "rel_cells"):
        recorded = q58_check_stage(spark, store, stage)
        summary.append((
            stage,
            sum(r["row_count"] for r in recorded),
            min(r["cell_min"] for r in recorded
                if r["cell_min"] is not None),
            max(r["cell_max"] for r in recorded
                if r["cell_max"] is not None),
        ))
    return spark.createDataFrame(
        summary, "stage string, n_rows long, cell_lo long, cell_hi long"
    )


def q58_oracle() -> str:
    return f"""
select 'way_cells' as stage, count(*) as n_rows,
       min(cell) as cell_lo, max(cell) as cell_hi
from ({q03_oracle()})
union all
select 'node_cells' as stage, count(*) as n_rows,
       min(cell) as cell_lo, max(cell) as cell_hi
from ({q04_oracle()})
union all
select 'rel_cells' as stage, count(*) as n_rows,
       min(cell) as cell_lo, max(cell) as cell_hi
from ({q05_oracle()})"""


# q59: STREAMING CalcUpdateTiles as a driver gate (previously pytest-only).
# Three seq-ordered change micro-batches flow through stream_update_tiles
# (streaming/changes.py): each batch runs calc_update_tiles with the store
# against the stages of the last committed batch (paired by its `nodes`
# marker) and commits way_cells/node_cells/tiles/pyramid/nodes@s{batch}.
# The batches deliberately exercise every cross-batch interaction —
# modify-then-modify, create-then-delete, delete-then-create,
# create-then-modify — so per-batch state genuinely composes.
# Oracle: ONE full recompute over the final merged node set (the same
# rule as q33, update/update.go:343-540 contract), via the shared
# _update_tiles_oracle body with the three waves folded into one
# merged-nodes CTE.

# wave 2 (seq=2): re-modify a subset of wave 1's modified nodes,
# delete a subset of wave 1's created nodes, create a new id range
_NODE_CHANGES_B2_SQL = """
select node_id, cast(2 as bigint) as seq, 'modify' as change_type,
       lon + 1000 as lon, lat + 2000 as lat
from nodes where node_id % 10 = 3 and node_id % 3 = 0
union all
select node_id + 10000000, cast(2 as bigint), 'delete',
       cast(null as bigint), cast(null as bigint)
from nodes where node_id % 10 = 1 and node_id % 4 = 1
union all
select node_id + 20000000, cast(2 as bigint), 'create',
       lon + 7, lat + 9
from nodes where node_id % 10 = 9
"""

# wave 3 (seq=3): re-create a subset of wave 1's deleted nodes, modify a
# subset of wave 2's created nodes
_NODE_CHANGES_B3_SQL = """
select node_id, cast(3 as bigint) as seq, 'create' as change_type,
       lon + 11 as lon, lat + 13 as lat
from nodes where node_id % 10 = 7 and node_id % 3 = 0
union all
select node_id + 20000000, cast(3 as bigint), 'modify',
       lon + 21 as lon, lat + 23 as lat
from nodes where node_id % 10 = 9 and node_id % 3 = 0
"""

# the three waves folded: final state per node after sequential
# application (later waves override earlier ones per merge semantics)
_MERGED_NODES_SEQ_CTE = """
merged_nodes as (
  select node_id, lon, lat from nodes
  where node_id % 10 <> 3 and node_id % 10 <> 7
  union all
  select node_id, lon + 337 as lon, lat - 221 as lat
  from nodes where node_id % 10 = 3 and node_id % 3 <> 0
  union all
  select node_id, lon + 1000 as lon, lat + 2000 as lat
  from nodes where node_id % 10 = 3 and node_id % 3 = 0
  union all
  select node_id, lon + 11 as lon, lat + 13 as lat
  from nodes where node_id % 10 = 7 and node_id % 3 = 0
  union all
  select node_id + 10000000 as node_id, lon - 123 as lon, lat + 456 as lat
  from nodes where node_id % 10 = 1 and node_id % 4 <> 1
  union all
  select node_id + 20000000 as node_id, lon + 7 as lon, lat + 9 as lat
  from nodes where node_id % 10 = 9 and node_id % 3 <> 0
  union all
  select node_id + 20000000 as node_id, lon + 21 as lon, lat + 23 as lat
  from nodes where node_id % 10 = 9 and node_id % 3 = 0
)"""


def _q59_stream_run(spark, sf_dir):
    """Shared streaming run behind q59 (cell tables) and q71 (pyramid).

    Idempotent per session: the foreachBatch skip guard + the store's
    overwrite-idempotent writes let whichever gate runs first do the
    work; the other re-enters, its stream skips every committed batch,
    and it reads the same final snapshots.  Returns the SnapshotStore."""
    _prep(spark, sf_dir)
    import os
    import uuid

    from .operators.tile_groups import tile_pyramid
    from .plans.lineage import SnapshotStore
    from .streaming.changes import stream_update_tiles

    tag = uuid.uuid5(uuid.NAMESPACE_URL, sf_dir).hex[:8]
    work = _gate_work_dir(spark, f"stream_upd_{tag}")
    store = SnapshotStore(os.path.join(work, "store"))
    nodes = spark.table("nodes")
    way_refs = spark.table("way_refs")
    # guard on the LAST seed stage: store writes are overwrite-idempotent,
    # so an interrupted seeding (nodes committed, nc not) self-heals on
    # retry instead of poisoning the session with a half-seeded store
    if not store.has("node_cells"):
        store.write(spark, "nodes", nodes, None)
        store.write(spark, "way_cells",
                    way_cells(_way_bbox_df(spark), 0.05, 18), "cell")
        store.write(
            spark, "pyramid",
            tile_pyramid(store.read(spark, "way_cells"), "cell", 18,
                         sum_cols=("way_id",)),
            "level",
        )
        store.write(
            spark, "node_cells",
            node_cells(nodes, way_refs,
                       store.read(spark, "way_cells"), 0.05, 18),
            "cell",
        )
    feed = os.path.join(work, "feed")
    for i, sql in enumerate([_NODE_CHANGES_SQL, _NODE_CHANGES_B2_SQL,
                             _NODE_CHANGES_B3_SQL]):
        wave_dir = os.path.join(feed, f"b{i}")
        # per-wave content check + overwrite: an interrupted feed build
        # (b0 written, b2 not) regenerates the missing waves on retry
        if not os.path.isdir(wave_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(wave_dir)
        ):
            spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(
                wave_dir
            )
        # the file stream orders pending files by modification time ONLY
        # (no path tie-break), so pin strictly increasing mtimes far
        # apart — robust to any filesystem timestamp granularity
        ts = 1_000_000_000 + 100 * i
        for fn in os.listdir(wave_dir):
            os.utime(os.path.join(wave_dir, fn), (ts, ts))
    stream = (
        spark.readStream
        .schema("node_id long, seq long, change_type string, "
                "lon long, lat long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed, "*"))
    )
    q = stream_update_tiles(
        spark, store, way_refs, stream, os.path.join(work, "ckpt"),
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "q59 streaming update did not finish within 600s — refusing "
            "to read a partially-committed snapshot chain"
        )
    committed = [s for s in range(3) if store.has(f"nodes@s{s}")]
    if committed != [0, 1, 2]:
        raise AssertionError(
            f"q59: expected 3 committed streaming batches, got "
            f"{committed} — the stream did not apply every wave"
        )
    return store


def q59_streaming_update_tiles(spark, sf_dir) -> DataFrame:
    """Streaming CalcUpdateTiles: three change micro-batches through a
    real file stream + foreachBatch incremental pipeline with snapshot
    commits; the FINAL committed cell tables must equal one full
    recompute over the fully-merged input (the q33 rule)."""
    from .streaming.changes import _latest_stage

    store = _q59_stream_run(spark, sf_dir)
    final_wc = store.read(spark, _latest_stage(store, "way_cells"))
    final_nc = store.read(spark, _latest_stage(store, "node_cells"))
    return (
        final_wc.select(
            F.lit("w").alias("etype"), F.col("way_id").alias("id"), "cell"
        )
        .unionByName(
            final_nc.select(
                F.lit("n").alias("etype"), F.col("node_id").alias("id"),
                "cell",
            )
        )
    )


def q59_oracle() -> str:
    return _update_tiles_oracle(_MERGED_NODES_SEQ_CTE)


# q71: the STREAMED serving-stats pyramid, value-gated.  q59's stream
# maintains the pyramid snapshot per micro-batch (the q69 signed delta
# folded in by streaming/changes.py::stream_update_tiles); this
# gate reads the FINAL pyramid stage and must equal the full-recompute
# pyramid over the fully-merged state — three batches of incremental
# signed folds, end-to-end through the real file stream, with zero
# drift at any ancestor level.  Oracle = q69's 19-level blocks over
# q59's full-recompute SQL.

def q71_streaming_pyramid(spark, sf_dir) -> DataFrame:
    """Final streamed pyramid snapshot == full recompute over the merged
    state."""
    from .streaming.changes import _latest_stage

    store = _q59_stream_run(spark, sf_dir)
    return store.read(spark, _latest_stage(store, "pyramid")).select(
        "level", "pcell", "n", "sum_way_id"
    )


def q71_oracle() -> str:
    return (
        "with mergedwc as materialized (\n"
        "  select id as way_id, cell from (\n" + q59_oracle()
        + "\n) _m where etype = 'w')\n"
        + _pyramid_oracle_blocks("mergedwc")
    )


# q56: BYTE semantics of the reference's string quirks over MULTIBYTE
# input.  The reference measures and slices Go BYTE strings —
# charlengthFunc/maxwidthFunc use ``len(s)`` and substrFunc slices
# ``strs[fri-1:fri+toi-1]`` with byte bounds (functions.go:69-92,
# 125-133,137-165) — where naive Spark ``length``/``substring`` count
# CHARACTERS.  Every row here carries multibyte text (2/3/4-byte UTF-8)
# built deterministically from doc_id, so a characters-based
# implementation fails the hash on nearly every row.  Slices that split
# a codepoint are compared as exact BYTES (hex); the string view of a
# valid slice is compared verbatim, with validity itself computed two
# independent ways (engine: is_valid_utf8 on the slice; oracle: UTF-8
# continuation-byte boundary arithmetic over the hex dump).

_Q56_S = """case when doc_id % 13 = 0 then cast(null as string) else
  concat(
    case cast(doc_id % 4 as int)
      when 0 then '日本語' when 1 then 'héllo—x'
      when 2 then 'ab' else 'a😀—ß' end,
    cast(doc_id % 97 as string),
    case cast(doc_id % 3 as int)
      when 0 then '—日' when 1 then '' else 'e' end
  ) end"""

# from=0 quirk: treated as from=1 with count-1 (functions.go:155-158)
_Q56_AF = "(case when f = 0 then 1 else f end)"
_Q56_AC = "(case when f = 0 then c - 1 else c end)"


def q56_byte_semantics(spark, sf_dir) -> DataFrame:
    """Byte-exact quirk surface over multibyte strings, driven through
    the ref-dialect rewriter (plans/refsql.py): char_length / maxwidth /
    numchar / substr run as dialect text, plus native byte-slice hex,
    slice validity, and macro-vs-native slice equality."""
    _prep(spark, sf_dir)
    from .plans.refsql import rewrite_ref_sql

    spark.sql(f"""
        select doc_id, {_Q56_S} as s,
               cast(doc_id % 11 as int) as f,
               cast(doc_id % 7 + 1 as int) as c
        from docs_aug""").createOrReplaceTempView("q56_src")

    in_range = (
        f"({_Q56_AF} >= 1 and {_Q56_AF} <= octet_length(s) "
        f"and {_Q56_AC} >= 1 "
        f"and {_Q56_AF} + {_Q56_AC} - 1 <= octet_length(s))"
    )
    slice_b = f"substring(encode(s, 'UTF-8'), {_Q56_AF}, {_Q56_AC})"
    valid = f"is_valid_utf8(cast({slice_b} as string))"
    # char_length/maxwidth/numchar/substr below are DIALECT text the
    # rewriter macro-expands; hex/encode/is_valid_utf8 pass through
    sql = rewrite_ref_sql(f"""
        select doc_id, s,
               char_length(s) as cl,
               maxwidth(s, '—') as mw,
               numchar(s, '日') as nc,
               case when {in_range} then hex({slice_b})
                    else cast(null as string) end as sub_hex,
               case when {in_range} then cast({valid} as int)
                    else cast(null as int) end as sub_valid,
               case when {in_range} and {valid}
                    then cast({slice_b} as string)
                    else cast(null as string) end as sub_s,
               cast(substr(s, f, c) is not null as int) as sub_ok,
               case when {in_range} and {valid}
                    then cast(substr(s, f, c) = cast({slice_b} as string)
                              as int)
                    else cast(null as int) end as sub_eq
        from q56_src""")
    return spark.sql(sql)


def q56_oracle() -> str:
    return (
        tpch.synth_cte_prefix("docs_aug")
        + f""",
src as (
  select doc_id, {_Q56_S} as s,
         cast(doc_id % 11 as int) as f,
         cast(doc_id % 7 + 1 as int) as c
  from docs_aug),
ext as (
  select *, hex(encode(s)) as hx, strlen(s) as bl,
         {_Q56_AF} as af, {_Q56_AC} as ac
  from src),
ext2 as (
  select *, (af >= 1 and af <= bl and ac >= 1 and af + ac - 1 <= bl)
            as inr
  from ext),
ext3 as (
  select *,
    case when inr then substring(hx, (af - 1) * 2 + 1, ac * 2) end
      as shx,
    -- slice of valid UTF-8 is valid iff it starts and ends on codepoint
    -- boundaries: the first slice byte and the byte AFTER the slice are
    -- not continuation bytes (0x80-0xBF, first hex digit 8/9/A/B)
    case when inr then
      (substring(hx, (af - 1) * 2 + 1, 1) not in ('8','9','A','B'))
      and (af + ac - 1 = bl
           or substring(hx, (af + ac - 1) * 2 + 1, 1)
              not in ('8','9','A','B'))
    end as sval
  from ext2)
select doc_id, s,
  cast(coalesce(bl, 0) as bigint) as cl,
  cast(list_max(list_transform(string_split(s, '—'),
                               x -> strlen(x))) as bigint) as mw,
  cast((bl - strlen(replace(s, '日', ''))) / strlen('日') as bigint)
    as nc,
  shx as sub_hex,
  cast(sval as int) as sub_valid,
  case when sval then decode(unhex(shx)) end as sub_s,
  cast(coalesce(inr, false) as int) as sub_ok,
  case when sval then 1 end as sub_eq
from ext3"""
    )


# q60: bucketed co-located join — the way_refs ⋈ nodes join (the
# pipeline's biggest shuffle, calcqts/resortwaynodes.go:539-630) run
# over tables pre-bucketed on their join keys (plans/bucketed.py).  The
# gate's engine path raises unless the join plans ZERO Exchange
# operators (assert_colocated), so the result being value-equal to the
# plain-join oracle proves the shuffle-free plan computes the same
# bboxes — a plan regression (bucket metadata lost, key drift) fails the
# gate rather than silently re-shuffling.


def _bucketed_way_bbox(spark, sf_dir, tag: str) -> DataFrame:
    """Shared q60/q61 prologue: the exchange-free bucketed join under a
    consumer-unique table prefix/dir (`tag`), aggregated to way bboxes
    by the single shared formula (plans/bucketed.way_bbox_agg)."""
    from .plans.bucketed import bucketed_way_node_join, way_bbox_agg

    _prep(spark, sf_dir)
    base = _gate_work_dir(spark, f"bucketed_{tag}")
    j = bucketed_way_node_join(
        spark, spark.table("way_refs"), spark.table("nodes"), base,
        table_prefix=f"bkt_{tag}",
    )
    return way_bbox_agg(j)


def q60_bucketed_join(spark, sf_dir) -> DataFrame:
    """Exchange-free way⋈node join over bucketed tables, aggregated to
    way bboxes (min/max lon/lat per way)."""
    return _bucketed_way_bbox(spark, sf_dir, "q60")


def q60_oracle() -> str:
    return (
        "with "
        + tpch.synth_cte_prefix("nodes", "way_refs")[len("with "):]
        + ",\n" + _WB_CTE
        + "\nselect way_id, minx, miny, maxx, maxy from wb"
    )


# q61: the calcqts way pass COMPOSED over the bucketed layout — the
# exchange-free join feeds the same bbox aggregation and buffered-cell
# descent as q03, and must land on the q03 oracle's exact cells.  This
# proves the storage-layout change is transparent to the geometry math
# end-to-end (a bucket-pruned or misordered read would move bboxes and
# therefore cells).


def q61_bucketed_way_cells(spark, sf_dir) -> DataFrame:
    """Way cells (buffer 0.05, depth 18) from the bucketed co-located
    join — q03's pipeline over the pre-shuffled layout."""
    return way_cells(_bucketed_way_bbox(spark, sf_dir, "q61"), 0.05, 18)


# q62: real audio decode over the opaque binary column.  Fixtures are
# genuine RIFF/WAVE files written by the stdlib `wave` module; the engine
# decodes them with an independent hand-rolled chunk walker
# (operators/media.py::decode_wav) inside the same mapInPandas posture as
# the PNG path (q30).  Samples are closed-form ((5i + 17*id) mod 256), so
# the DuckDB oracle predicts every decoded feature arithmetically without
# ever touching the bytes — a mis-parsed header, sample count, or payload
# offset anywhere fails the hash.

def q62_media_audio(spark, sf_dir) -> DataFrame:
    """WAV decode -> per-sample features (sum/min/max/loud-count/first/
    last/total-variation) + format metadata from the fmt chunk."""
    _prep(spark, sf_dir)
    from .operators.media import extract_audio_features, wav_blobs

    return extract_audio_features(
        wav_blobs(spark.table("documents"))
    ).select(
        "doc_id", "media_ref", "n_bytes", "n_channels", "sample_rate",
        "n_samples", *[f"a{i}" for i in range(7)],
    )


def q62_oracle() -> str:
    # sample(i) = (5i + 17*id) mod 256 over n = 16 + id%50 samples;
    # file size = 44-byte canonical header (12 RIFF + 24 fmt + 8 data) + n
    s_i = "(5 * i + 17 * doc_id) % 256"
    step = ("abs((5 * (i + 1) + 17 * doc_id) % 256"
            f" - {s_i})")
    return f"""
with dims as (
  select doc_id, 16 + doc_id % 50 as n from documents
),
px as (
  select doc_id, n,
         list_transform(range(0, n), i -> {s_i}) as s
  from dims
)
select doc_id,
       'wav://' || cast(doc_id as varchar) as media_ref,
       cast(44 + n as int) as n_bytes,
       cast(1 as int) as n_channels,
       cast(8000 as int) as sample_rate,
       cast(n as int) as n_samples,
       cast(list_aggregate(s, 'sum') as bigint) as a0,
       cast(list_aggregate(s, 'min') as bigint) as a1,
       cast(list_aggregate(s, 'max') as bigint) as a2,
       cast(len(list_filter(s, v -> v > 127)) as bigint) as a3,
       cast((17 * doc_id) % 256 as bigint) as a4,
       cast((5 * (n - 1) + 17 * doc_id) % 256 as bigint) as a5,
       cast(list_aggregate(list_transform(range(0, n - 1),
            i -> {step}), 'sum') as bigint) as a6
from px"""


# q63: as-of join — per (user, probe-time), the newest event at or before
# the probe (the point-in-time lookup of a change stream; filterLastObj
# over a timestamp prefix, update/update.go:69-110, generalized to
# per-probe timestamps).  The ENGINE runs the scalable union+window plan
# (operators/update.py::asof_join — one shuffle, no pair blow-up); the
# ORACLE is the structurally different join+row_number formulation with
# the identical explicit tiebreak, so the two agree only if the as-of
# semantics (inclusive equality, newest-wins, event_id tiebreak,
# left-join NULL fill) are exactly right.

_Q63_PROBES = [
    "2024-01-01 06:30:00", "2024-01-02 12:00:00",
    "2024-01-04 00:00:00", "2024-01-07 18:45:00",
]


def q63_asof_join(spark, sf_dir) -> DataFrame:
    _prep(spark, sf_dir)
    from .operators.update import asof_join

    ev = spark.table("events")
    ts_type = ev.schema["ts"].dataType
    probes = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            F.explode(F.array(*[
                F.lit(p).cast(ts_type) for p in _Q63_PROBES
            ])).alias("pts"),
        )
    )
    joined = asof_join(
        probes, ev.select("user_id", "ts", "event_id", "event_type",
                          "value"),
        key_cols=["user_id"], left_ts="pts", right_ts="ts",
        right_cols=["event_id", "event_type", "value", "ts"],
        tiebreak_cols=["event_id"],
    )
    return joined.select(
        "user_id",
        F.unix_micros(F.col("pts").cast("timestamp")).alias("probe_us"),
        "event_id", "event_type", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("event_us"),
    )


def q63_oracle() -> str:
    probes = ", ".join(f"(timestamp '{p}')" for p in _Q63_PROBES)
    return f"""
with probes as (
  select u.user_id, p.pts
  from (select distinct user_id from events) u
  cross join (values {probes}) p(pts)
),
cand as (
  select pr.user_id, pr.pts, e.event_id, e.event_type, e.value, e.ts,
         row_number() over (
           partition by pr.user_id, pr.pts
           order by e.ts desc, e.event_id desc
         ) as rn
  from probes pr
  left join events e
    on e.user_id = pr.user_id and e.ts <= pr.pts
)
select user_id,
       epoch_us(pts) as probe_us,
       event_id, event_type, value,
       epoch_us(ts) as event_us
from cand where rn = 1"""


# q64: globally-ordered tile output — the reference's block sort
# (sortblocks/blocksort.go: per-tile spill blocks k-way-merged into ONE
# stream of tiles in global quadtree order).  The engine re-expresses it
# as a range-partitioned distributed sort (plans/sorted.py): ONE
# RangePartitioning exchange with sampled boundaries + per-partition
# external sort + write.  The gate is two-sided: `assert_global_order`
# recomputes per-file key intervals FROM the written files and raises
# unless they are strictly increasing and disjoint in partition order
# (concatenating the files IS the sorted stream), and the read-back
# content must value-match the independent q03 descent oracle (a lossy,
# duplicated, or reordered write fails one side or the other).

def q64_global_sorted(spark, sf_dir) -> DataFrame:
    """Way cells written through the range-partitioned global sort and
    read back; file-interval layout asserted in-gate."""
    _prep(spark, sf_dir)
    from .plans.sorted import (
        assert_global_order, read_global_sorted, write_global_sorted,
    )

    wc = way_cells(_way_bbox_df(spark), 0.05, 18)
    path = _gate_work_dir(spark, "global_sorted")
    write_global_sorted(
        wc.select("cell", "way_id"), path, ["cell", "way_id"],
        num_partitions=8,
    )
    assert_global_order(spark, path, ["cell", "way_id"])
    return read_global_sorted(spark, path).select("way_id", "cell")


# q65: gap-based sessionization — Spark's native session_window (the
# dynamic-gap cousin of q28's tumbling window; in Structured Streaming
# the same expression runs with a watermark).  Boundary semantics pinned
# empirically and in tests/test_session.py: an event exactly `gap` after
# the previous one MERGES into the session (a new session starts only
# when ts - prev_ts > gap, strictly), and session end = last_ts + gap.
# The oracle is the classic gaps-and-islands formulation (lag + strict-
# inequality break flag + cumulative sum), so the two agree only if the
# merge rule, the boundary strictness, and the end-extension all match.
# Aggregates are integer-only (count + id min/max) — float sums across a
# nondeterministic partitioning would not hash stably.

def q65_session_rollup(spark, sf_dir) -> DataFrame:
    """30-minute-gap sessions per user over the events table."""
    _prep(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp"))
            .alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp"))
            .alias("session_end_us"),
            "n", "min_id", "max_id",
        )
    )


def q65_oracle() -> str:
    return """
with flagged as (
  select user_id, ts, event_id,
         case when ts - lag(ts) over (partition by user_id
                                      order by ts, event_id)
                   > interval 30 minute
              then 1 else 0 end as brk
  from events
),
sessions as (
  select user_id, ts, event_id,
         sum(brk) over (partition by user_id order by ts, event_id
                        rows unbounded preceding) as sid
  from flagged
)
select user_id,
       epoch_us(min(ts)) as session_start_us,
       epoch_us(max(ts) + interval 30 minute) as session_end_us,
       count(*) as n,
       min(event_id) as min_id,
       max(event_id) as max_id
from sessions
group by user_id, sid"""


# q66: the broadcast as-of lookup — same question as q63 (newest event
# at or before each probe), answered by the SMALL-dimension plan
# (operators/update.py::asof_lookup): per-key history collapsed to a
# sorted struct array, broadcast, higher-order filter + element_at(-1)
# pick.  The fact side never shuffles.  Shares q63's oracle verbatim —
# the two engine plans and the oracle must agree three ways.

def q66_asof_lookup(spark, sf_dir) -> DataFrame:
    _prep(spark, sf_dir)
    from .operators.update import asof_lookup

    ev = spark.table("events")
    ts_type = ev.schema["ts"].dataType
    probes = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            F.explode(F.array(*[
                F.lit(p).cast(ts_type) for p in _Q63_PROBES
            ])).alias("pts"),
        )
    )
    joined = asof_lookup(
        probes, ev.select("user_id", "ts", "event_id", "event_type",
                          "value"),
        key_cols=["user_id"], left_ts="pts", right_ts="ts",
        right_cols=["event_id", "event_type", "value", "ts"],
        tiebreak_cols=["event_id"],
    )
    return joined.select(
        "user_id",
        F.unix_micros(F.col("pts").cast("timestamp")).alias("probe_us"),
        "event_id", "event_type", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("event_us"),
    )


# q67: the zoom-pyramid rollup — way cells (variable depth 4..18 from
# the buffered bbox descent, so the per-row depth clamp is load-bearing)
# aggregated at EVERY ancestor level 0..18.  The engine plan is
# histogram-first (operators/tile_groups.py::tile_pyramid): collapse to
# distinct cells, then explode the 19-wide ancestor array over the
# histogram — the fan-out multiplies distinct cells, never input rows.
# The oracle recomputes each level directly from the q03 way-cell SQL
# (19 UNION ALL blocks over one waycells CTE), so a wrong rounding, a
# missing depth clamp, or a partial-sum recombination bug all
# hash-mismatch.

def q67_tile_pyramid(spark, sf_dir) -> DataFrame:
    """Per-(level, parent-cell) count + id-sum pyramid over q03 way
    cells."""
    _prep(spark, sf_dir)
    from .operators.tile_groups import tile_pyramid

    wc = way_cells(_way_bbox_df(spark), 0.05, 18)
    return tile_pyramid(wc, "cell", 18, sum_cols=("way_id",))


def _pyramid_oracle_blocks(src: str, key: str = "way_id") -> str:
    """The 19 per-level rollup blocks over a (key, cell) CTE named
    `src` — one shared recipe for q67/q69/q71/q72.  `cell >= 0` mirrors
    tile_pyramid's no-cell-sentinel exclusion — load-bearing in q72,
    whose relation cells DO carry the -1 sentinel (and -1 would pass the
    depth clamp at EVERY level: (-1 & 31) = 31)."""
    blocks = []
    for lvl in range(19):
        pc = sqlgen.cell_round_sql(DUCK, "cell", lvl)
        blocks.append(
            f"select {lvl} as level, {pc} as pcell, count(*) as n,\n"
            f"       cast(sum({key}) as bigint) as sum_{key}\n"
            f"from {src} where cell >= 0 and (cell & 31) >= {lvl} "
            f"group by 1, 2"
        )
    return "\nunion all\n".join(blocks)


def q67_oracle() -> str:
    # MATERIALIZED is load-bearing: 19 references into a derived table
    # that itself chains 18 descent CTEs would otherwise be inlined per
    # reference by DuckDB's optimizer (exponential expression blowup).
    return (
        "with waycells as materialized (select * from (\n"
        + q03_oracle() + "\n) _wc)\n"
        + _pyramid_oracle_blocks("waycells")
    )


# q68: the SALTED two-phase way-bbox aggregation, value-verified.  The
# salt path (way_bboxes(salt_buckets=8): explicit (way_id, pos % 8)
# pre-reduce before the per-way min/max) exists for skewed assembly aggs
# without partial push-down; until now it was only measured (round-3 A/B)
# and pytested, never oracle-gated.  Same downstream descent and the
# plain (unsalted) q03 oracle — a salt-key leak into the result, a lost
# bucket, or a wrong recombination all fail the hash.

def q68_way_cells_salted(spark, sf_dir) -> DataFrame:
    """Way cells through the explicit salted pre-reduce (salt_buckets=8)."""
    _prep(spark, sf_dir)
    wb = way_bboxes(
        spark.table("way_refs"), spark.table("nodes"), salt_buckets=8
    )
    return way_cells(wb, 0.05, 18)


# q69: INCREMENTAL pyramid maintenance — apply the q33 node-change
# batch to a materialized q67 pyramid touching only the AFFECTED ways:
# render the change as a signed delta (-1 at each affected way's old
# cell, +1 at its new cell — a dropped way simply has no +1 row), roll
# the delta up with tile_pyramid(weight_col=...), fold it in with
# pyramid_merge (union + one keyed re-agg, zero-count groups dropped).
# The oracle is the FULL-recompute pyramid over the merged state (19
# level blocks over the q33 full-recompute SQL), so a wrong sign, a
# missed retraction at any ancestor level, a zero-group kept or a
# live group dropped all hash-mismatch.

def q69_pyramid_update(spark, sf_dir) -> DataFrame:
    """Incrementally-maintained way-cell pyramid == full recompute."""
    _prep(spark, sf_dir)
    from .operators.tile_groups import (
        pyramid_delta, pyramid_merge, tile_pyramid,
    )
    from .operators.update import calc_update_tiles

    nodes = spark.table("nodes")
    way_refs = spark.table("way_refs")
    wc = way_cells(_way_bbox_df(spark), 0.05, 18)
    nc = node_cells(nodes, way_refs, wc, 0.05, 18)
    base = tile_pyramid(wc, "cell", 18, sum_cols=("way_id",))

    out = calc_update_tiles(nodes, way_refs, wc, nc,
                            spark.sql(_NODE_CHANGES_SQL))
    delta = pyramid_delta(wc, out["way_cells"], out["affected_ways"],
                          "way_id", "cell", 18, sum_cols=("way_id",))
    return pyramid_merge(base, delta)


def q69_oracle() -> str:
    # MATERIALIZED for the same reason as q67 (19 references into the
    # 18-level descent chain).  The inner SQL is q33's full recompute —
    # the incremental pyramid must equal the pyramid of the full result.
    return (
        "with mergedwc as materialized (\n"
        "  select id as way_id, cell from (\n" + q33_oracle()
        + "\n) _m where etype = 'w')\n"
        + _pyramid_oracle_blocks("mergedwc")
    )


# q70: ANN serving over a REAL bucket-partitioned store — the q36
# partition-pruning story applied to similarity search.  Embeddings are
# written PARTITIONED BY a deterministic axis-sign LSH bucket (q23's
# bucketing rule, so the oracle reproduces it in SQL with zero
# floating-point work); the probe reads ONLY the queries' buckets
# (PartitionFilters + runtime file-skip asserted in-gate) and scores
# exact cosine within them (operators/ann.py::bucket_topk — broadcast
# queries, native zip_with scoring).  The oracle joins on the same
# bucket key and ranks with list_cosine_similarity.

_Q70_PLANES = 4  # 16 buckets over 500 vectors -> ~31 candidates/bucket


def q70_ann_lsh_partitioned(spark, sf_dir) -> DataFrame:
    """Exact top-k within LSH buckets over a bucket-partitioned store,
    with partition pruning asserted."""
    _prep(spark, sf_dir)
    from .operators.ann import axis_sign_bucket, bucket_topk
    from .operators.dedup import axis_plane_indices

    idx = axis_plane_indices(_Q70_PLANES, 1, 64, seed=42)[0]
    emb = spark.table("embeddings")
    bucket = axis_sign_bucket("embedding", idx)

    path = _gate_work_dir(spark, "ann_lsh_store")
    (emb.withColumn("bucket", bucket).repartition("bucket")
        .write.partitionBy("bucket").mode("overwrite").parquet(path))
    store = spark.read.parquet(path)

    queries = (emb.filter(F.col("vec_id") < ANN_N_QUERIES)
               .withColumn("bucket", bucket))
    probed = sorted({int(r["bucket"])
                     for r in queries.select("bucket").distinct().collect()})
    pruned = store.where(F.col("bucket").isin(probed))

    # the prune must be REAL: the bucket predicate itself must appear
    # INSIDE the scan's PartitionFilters list (the bare substring
    # "PartitionFilters" is vacuous — FileSourceScanExec prints an empty
    # "PartitionFilters: []" on every parquet scan), and the runtime
    # file set must be EXACTLY the probed buckets' data files
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2 and "bucket" in seg[1].split("]", 1)[0], \
        plan[:2000]
    import os as _os

    expected = sum(
        sum(1 for fn in _os.listdir(_os.path.join(path, f"bucket={b}"))
            if fn.endswith(".parquet"))
        for b in probed
        if _os.path.isdir(_os.path.join(path, f"bucket={b}"))
    )
    n_all = store.select(F.input_file_name()).distinct().count()
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert n_read == expected < n_all, (n_read, expected, n_all)

    return bucket_topk(queries, pruned, ANN_K)


def q70_oracle() -> str:
    from .operators.dedup import axis_plane_indices

    idx = axis_plane_indices(_Q70_PLANES, 1, 64, seed=42)[0]
    key = " + ".join(
        f"(case when embedding[{int(i) + 1}] > 0 then {1 << p} else 0 end)"
        for p, i in enumerate(idx)
    )
    return f"""
with b as (
  select vec_id, embedding, cast({key} as bigint) as bucket
  from embeddings
),
q as (select vec_id as qid, embedding as qe, bucket as qb from b
      where vec_id < {ANN_N_QUERIES})
select qid as query_id, rank, neighbor_id from (
  select q.qid, e.vec_id as neighbor_id,
         row_number() over (
           partition by q.qid
           order by list_cosine_similarity(e.embedding, q.qe) desc,
                    e.vec_id asc
         ) as rank
  from b e join q on e.bucket = q.qb
  where e.vec_id <> q.qid
) where rank <= {ANN_K}"""


# q72: the pyramid over RELATION cells — the input whose cells really
# carry the -1 "no cell" sentinel (unresolved/self-circular relations,
# resortwaynodes.go:767-824), so tile_pyramid's sentinel exclusion is
# load-bearing: -1 would pass the depth clamp at every level
# ((-1 & 31) = 31) and poison all 19 rollups if kept.

# the sf fixtures' relations all resolve, so frozen sentinel rows are
# UNIONED onto both sides — keeping any of them poisons all 19 levels
_Q72_SENTINELS = [(900001, -1), (900002, -1)]


def q72_rel_pyramid(spark, sf_dir) -> DataFrame:
    """19-level pyramid over q05 relation cells plus injected -1
    sentinel rows the operator must exclude."""
    _prep(spark, sf_dir)
    from .operators.tile_groups import tile_pyramid

    wcells = way_cells(_way_bbox_df(spark), 0.05, 18)
    members = spark.table("rels").select(
        "rel_id", F.lit("w").alias("mtype"), F.col("member_way").alias("ref")
    )
    empty_nodes = spark.createDataFrame([], "node_id long, cell long")
    rc = relation_cells(members, wcells, empty_nodes)
    sent = spark.createDataFrame(_Q72_SENTINELS, "rel_id long, cell long")
    return tile_pyramid(rc.unionByName(sent), "cell", 18,
                        sum_cols=("rel_id",))


def q72_oracle() -> str:
    sent = " union all ".join(
        f"select cast({r} as bigint) as rel_id, cast({c} as bigint) as cell"
        for r, c in _Q72_SENTINELS
    )
    return (
        "with relcells as materialized (select * from (\n"
        + q05_oracle() + f"\n) _rc union all {sent})\n"
        + _pyramid_oracle_blocks("relcells", key="rel_id")
    )


# --------------------------------------------------------------- registry

GATE_QUERIES = {
    "q01_node_cell_histogram": q01_node_cell_histogram,
    "q02_cell_codec": q02_cell_codec,
    "q03_way_cells": q03_way_cells,
    "q04_node_cells": q04_node_cells,
    "q05_rel_cells": q05_rel_cells,
    "q06_bbox_join": q06_bbox_join,
    "q07_pip_join": q07_pip_join,
    "q08_knn": q08_knn,
    "q09_raster_tiles": q09_raster_tiles,
    "q10_ann_topk": q10_ann_topk,
    "q11_span_roundtrip": q11_span_roundtrip,
    "q12_latest_event": q12_latest_event,
    "q13_change_merge": q13_change_merge,
    "q14_text_stats": q14_text_stats,
    "q15_lang_id": q15_lang_id,
    "q16_token_count": q16_token_count,
    "q17_fingerprint": q17_fingerprint,
    "q18_dedup_exact": q18_dedup_exact,
    "q19_minhash_bands": q19_minhash_bands,
    "q20_jaccard_verify": q20_jaccard_verify,
    "q21_embed_neardup": q21_embed_neardup,
    "q22_simhash": q22_simhash,
    "q23_embed_neardup_lsh": q23_embed_neardup_lsh,
    "q24_knn_cells": q24_knn_cells,
    "q25_tile_groups": q25_tile_groups,
    "q26_way_geometry": q26_way_geometry,
    "q27_multipolygon": q27_multipolygon,
    "q28_windowed_events": q28_windowed_events,
    "q29_complete_ways": q29_complete_ways,
    "q30_media_features": q30_media_features,
    "q31_node_parent": q31_node_parent,
    "q32_relation_range": q32_relation_range,
    "q33_update_tiles": q33_update_tiles,
    "q34_node_points": q34_node_points,
    "q35_wkb_roundtrip": q35_wkb_roundtrip,
    "q36_partitioned_scan": q36_partitioned_scan,
    "q37_way_geometry_tags": q37_way_geometry_tags,
    "q38_way_area": q38_way_area,
    "q39_generate_geometries": q39_generate_geometries,
    "q40_dedup_clusters": q40_dedup_clusters,
    "q41_geojson_roundtrip": q41_geojson_roundtrip,
    "q42_wkt": q42_wkt,
    "q43_relation_geojson": q43_relation_geojson,
    "q44_corpus_pipeline": q44_corpus_pipeline,
    "q45_embed_dedup_keep": q45_embed_dedup_keep,
    "q46_ref_sql_surface": q46_ref_sql_surface,
    "q47_poly_filter": q47_poly_filter,
    "q48_ref_sql_string": q48_ref_sql_string,
    "q49_poly_tile_tests": q49_poly_tile_tests,
    "q50_snapshot_pipeline": q50_snapshot_pipeline,
    "q51_streaming_rollup": q51_streaming_rollup,
    "q52_complete_ways_poly": q52_complete_ways_poly,
    "q53_geometry_blob": q53_geometry_blob,
    "q54_media_resize": q54_media_resize,
    "q55_media_frames": q55_media_frames,
    "q56_byte_semantics": q56_byte_semantics,
    "q57_streaming_stateful": q57_streaming_stateful,
    "q58_lineage_rows": q58_lineage_rows,
    "q59_streaming_update_tiles": q59_streaming_update_tiles,
    "q60_bucketed_join": q60_bucketed_join,
    "q61_bucketed_way_cells": q61_bucketed_way_cells,
    "q62_media_audio": q62_media_audio,
    "q63_asof_join": q63_asof_join,
    "q64_global_sorted": q64_global_sorted,
    "q65_session_rollup": q65_session_rollup,
    "q66_asof_lookup": q66_asof_lookup,
    "q67_tile_pyramid": q67_tile_pyramid,
    "q68_way_cells_salted": q68_way_cells_salted,
    "q69_pyramid_update": q69_pyramid_update,
    "q70_ann_lsh_partitioned": q70_ann_lsh_partitioned,
    "q71_streaming_pyramid": q71_streaming_pyramid,
    "q72_rel_pyramid": q72_rel_pyramid,
}

class _LazyOracles(dict):
    """Oracle SQL strings; a value may also be a zero-arg callable that
    builds the SQL on first access (q25 needs a DuckDB pass over the target
    parquet to freeze its group table).  A callable returning None means
    the oracle is unavailable in this environment — the key then reads as
    absent and the driver records a rows-only check."""

    def __getitem__(self, k):
        v = super().__getitem__(k)
        if callable(v):
            v = v()
            if v is None:
                raise KeyError(k)
            dict.__setitem__(self, k, v)
        return v

    def __contains__(self, k) -> bool:
        if not super().__contains__(k):
            return False
        try:
            self[k]
        except KeyError:
            return False
        return True

    def resolved(self) -> dict:
        """Plain dict of every available oracle (callables resolved)."""
        out = {}
        for k in list(dict.keys(self)):
            try:
                out[k] = self[k]
            except KeyError:
                pass
        return out


GATE_ORACLES = _LazyOracles({
    "q01_node_cell_histogram": q01_oracle(),
    "q02_cell_codec": q02_oracle(),
    "q03_way_cells": q03_oracle(),
    "q04_node_cells": q04_oracle(),
    "q05_rel_cells": q05_oracle(),
    "q06_bbox_join": q06_oracle(),
    "q07_pip_join": q07_oracle(),
    "q08_knn": q08_oracle(),
    "q09_raster_tiles": q09_oracle(),
    "q10_ann_topk": q10_oracle(),
    "q11_span_roundtrip": q11_oracle(),
    "q12_latest_event": q12_oracle(),
    "q13_change_merge": q13_oracle(),
    "q14_text_stats": q14_oracle(),
    "q15_lang_id": q15_oracle(),
    "q16_token_count": q16_oracle(),
    "q17_fingerprint": q17_oracle(),
    "q18_dedup_exact": q18_oracle(),
    "q19_minhash_bands": q19_oracle(),
    "q20_jaccard_verify": q20_oracle(),
    "q21_embed_neardup": q21_oracle(),
    "q22_simhash": q22_oracle(),
    "q23_embed_neardup_lsh": q23_oracle(),
    "q24_knn_cells": q08_oracle(),  # cell expansion must equal brute force
    "q25_tile_groups": q25_oracle_build,  # lazy: needs a DuckDB build pass
    "q26_way_geometry": q26_oracle_build,  # lazy: freezes the mercator-y LUT
    "q27_multipolygon": q27_oracle,  # lazy: DuckDB cell pass at build time
    "q28_windowed_events": q28_oracle(),
    "q29_complete_ways": q29_oracle(),
    "q30_media_features": q30_oracle(),
    "q31_node_parent": q31_oracle(),
    "q32_relation_range": q32_oracle(),
    "q33_update_tiles": q33_oracle(),
    "q34_node_points": q34_oracle(),
    "q35_wkb_roundtrip": q35_oracle(),
    "q36_partitioned_scan": q36_oracle(),
    "q37_way_geometry_tags": q37_oracle(),
    "q38_way_area": q38_oracle_build,  # lazy: freezes the mercator-y LUT
    "q39_generate_geometries": q39_oracle_build,  # lazy: DuckDB cell pass
    "q40_dedup_clusters": q40_oracle(),
    "q41_geojson_roundtrip": q41_oracle(),
    "q42_wkt": q42_oracle(),
    "q43_relation_geojson": q43_oracle,  # lazy-ish: replication pass
    "q44_corpus_pipeline": q44_oracle(),
    "q45_embed_dedup_keep": q45_oracle(),
    "q46_ref_sql_surface": q46_oracle,  # lazy-ish: builds descent CTEs
    "q47_poly_filter": q47_oracle(),
    "q48_ref_sql_string": q48_oracle,  # lazy-ish: builds descent CTEs
    "q49_poly_tile_tests": q49_oracle_build,  # lazy: scalar-port pass
    "q50_snapshot_pipeline": q50_oracle,  # lazy-ish: composes q03-q05
    "q51_streaming_rollup": q28_oracle(),  # streaming must equal batch
    "q52_complete_ways_poly": q52_oracle,  # lazy-ish: pnpoly composite
    "q53_geometry_blob": q53_oracle(),
    "q54_media_resize": q54_oracle(),
    "q55_media_frames": q55_oracle(),
    "q56_byte_semantics": q56_oracle(),
    "q57_streaming_stateful": q57_oracle(),
    "q58_lineage_rows": q58_oracle,  # lazy-ish: composes q03-q05
    "q59_streaming_update_tiles": q59_oracle(),
    "q60_bucketed_join": q60_oracle(),
    "q61_bucketed_way_cells": q03_oracle(),
    "q62_media_audio": q62_oracle(),
    "q63_asof_join": q63_oracle(),
    "q64_global_sorted": q03_oracle(),
    "q65_session_rollup": q65_oracle(),
    "q66_asof_lookup": q63_oracle(),  # same question, broadcast plan
    "q67_tile_pyramid": q67_oracle(),
    "q68_way_cells_salted": q03_oracle(),  # salt must be invisible
    "q69_pyramid_update": q69_oracle(),
    "q70_ann_lsh_partitioned": q70_oracle(),
    "q71_streaming_pyramid": q71_oracle(),
    "q72_rel_pyramid": q72_oracle(),
})


def entry_query(spark: SparkSession,
                sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: tile-assignment + spatial-join — way cells joined to the
    query boxes, counted per (query, z12 tile)."""
    _prep(spark, sf_dir)
    wb = _way_bbox_df(spark)
    wc = way_cells(wb, 0.05, 18).join(wb, "way_id")
    joined = bbox_join(_boxes_df(spark), wc)
    tiles = raster_vector_join(joined, 12)
    return tiles.groupBy("query_id", "tile_x", "tile_y", "tile_z").agg(
        F.count(F.lit(1)).alias("n_ways")
    )
