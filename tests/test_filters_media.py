"""Complete-ways filter, media plumbing, GeoJSON sink, SQL compat quirks."""

import json

import pytest
from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.operators.filters import (
    filter_objs,
    find_objs_filter,
)
from osmquadtree_depreceated_spark.operators.media import (
    N_FEATURES,
    extract_media_features,
    media_blobs,
)
from osmquadtree_depreceated_spark.plans.sqlcompat import (
    make_integer,
    numchar,
    ref_like,
    ref_substr,
    register_geometry_views,
)


@pytest.fixture(scope="module")
def mini_world(spark):
    nodes = spark.createDataFrame(
        [
            (1, 0, 510000000),        # in region
            (2, 5_000_000, 505000000),  # out
            (3, 500000, 510500000),   # in region
            (4, 9_000_000, 519000000),  # out, but node of kept way 10
            (5, 8_000_000, 518000000),  # out, unrelated
        ],
        "node_id long, lon long, lat long",
    )
    way_refs = spark.createDataFrame(
        [
            (10, 1, 1), (10, 2, 4),     # touches region node 1 -> kept
            (11, 1, 2), (11, 2, 5),     # no region node -> dropped
        ],
        "way_id long, pos long, ref long",
    )
    rel_members = spark.createDataFrame(
        [
            (100, "w", 10),   # kept via way
            (101, "w", 11),   # dropped
            (102, "n", 4),    # node 4 is an EXTRA node -> must NOT keep rel
            (103, "r", 100),  # kept via rel->rel closure
            (104, "r", 101),  # child never kept
            (105, "n", 3),    # region node -> kept
        ],
        "rel_id long, mtype string, ref long",
    )
    return nodes, way_refs, rel_members


class TestCompleteWays:
    def test_id_discovery_semantics(self, spark, mini_world):
        nodes, way_refs, rel_members = mini_world
        region = (
            (F.col("lon") >= -1000000) & (F.col("lon") <= 1000000)
            & (F.col("lat") >= 509000000) & (F.col("lat") <= 511000000)
        )
        ids = find_objs_filter(nodes, way_refs, rel_members, region)
        assert {r[0] for r in ids["nodes"].collect()} == {1, 3, 4}
        assert {r[0] for r in ids["ways"].collect()} == {10}
        # 102 excluded: extra way-nodes don't count for relation membership
        # (filter.go merges them only after the closure rounds)
        assert {r[0] for r in ids["rels"].collect()} == {100, 103, 105}

    def test_apply_trims_members(self, spark, mini_world):
        nodes, way_refs, rel_members = mini_world
        region = (
            (F.col("lon") >= -1000000) & (F.col("lon") <= 1000000)
            & (F.col("lat") >= 509000000) & (F.col("lat") <= 511000000)
        )
        ids = find_objs_filter(nodes, way_refs, rel_members, region)
        out = filter_objs(nodes, way_refs, rel_members, ids)
        assert out["nodes"].count() == 3
        assert {r["way_id"] for r in out["way_refs"].collect()} == {10}
        kept = [(r["rel_id"], r["mtype"], r["ref"])
                for r in out["rel_members"].collect()]
        assert (100, "w", 10) in kept
        assert (103, "r", 100) in kept
        assert all(rid != 101 for rid, _, _ in kept)

    def test_relation_closure_depth_and_cycle(self, spark, mini_world):
        nodes, way_refs, _ = mini_world
        region = (
            (F.col("lon") >= -1000000) & (F.col("lon") <= 1000000)
            & (F.col("lat") >= 509000000) & (F.col("lat") <= 511000000)
        )
        chain = list(range(200, 207))  # 206 -> 205 -> ... -> 200 -> way 10
        members = [(200, "w", 10)]
        members += [(a, "r", b) for a, b in zip(chain[1:], chain)]
        members += [
            # 3-cycle with one kept way member; a 2-cycle reaching nothing
            (300, "r", 301), (301, "r", 302), (302, "r", 300),
            (301, "w", 10), (310, "r", 311), (311, "r", 310),
        ]
        rel_members = spark.createDataFrame(
            members, "rel_id long, mtype string, ref long")
        ids = find_objs_filter(nodes, way_refs, rel_members, region)
        # 205 reaches 200 in 5 edges; 206 needs 6
        assert {r[0] for r in ids["rels"].collect()} == (
            set(chain[:6]) | {300, 301, 302})


class TestMedia:
    def test_blob_plumbing_and_stub_features(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        media = media_blobs(docs)
        feats = extract_media_features(media)
        rows = feats.limit(50).collect()
        assert rows
        for r in rows:
            assert r["n_bytes"] == 32  # sha256 payload
            assert 64 <= r["width"] <= 1024 and r["width"] % 64 == 0
            assert all(r[f"f{i}"] is not None for i in range(N_FEATURES))
        # deterministic across runs
        a = feats.orderBy("doc_id").limit(20).collect()
        b = extract_media_features(media).orderBy("doc_id").limit(20).collect()
        assert a == b


class TestGeoJson:
    def test_feature_and_collection(self, spark):
        from osmquadtree_depreceated_spark.functions.geojson import (
            feature_collection,
            feature_json,
        )

        df = spark.createDataFrame(
            [
                (1, 3, [0, 10_000_000, 10_000_000, 0, 0],
                 [0, 0, 10_000_000, 10_000_000, 0], {"building": "yes"}),
                (2, 2, [0, 5_000_000], [0, 5_000_000], {"highway": "path"}),
            ],
            "way_id long, geom_type int, lons array<long>, lats array<long>,"
            " tags map<string,string>",
        )
        feats = feature_json(df)
        rows = {r["way_id"]: json.loads(r["feature"]) for r in feats.collect()}
        assert rows[1]["geometry"]["type"] == "Polygon"
        assert rows[1]["geometry"]["coordinates"][0][1] == [1.0, 0.0]
        assert rows[2]["geometry"]["type"] == "LineString"
        assert rows[1]["properties"]["building"] == "yes"
        fc = json.loads(
            feature_collection(feats).collect()[0]["feature_collection"]
        )
        assert fc["type"] == "FeatureCollection"
        assert len(fc["features"]) == 2


class TestSqlCompat:
    def test_reference_quirks(self, spark):
        df = spark.createDataFrame(
            [("abcdef", "12x"), ("xyz", "34")], "s string, v string"
        )
        got = df.select(
            ref_like("s", "abc%").alias("lk"),
            ref_like("s", "%bc%").alias("lk_nonprefix"),
            ref_substr("s", 0, 3).alias("sub0"),
            make_integer("v").alias("mi"),
            numchar("s", "c").alias("nc"),
        ).collect()
        assert got[0]["lk"] is True and got[1]["lk"] is False
        assert got[0]["lk_nonprefix"] is False  # non-prefix pattern -> false
        assert got[0]["sub0"] == "ab"  # from=0 quirk: from 1, count-1
        assert got[0]["mi"] == 0 and got[1]["mi"] == 34  # parse-or-0
        assert got[0]["nc"] == 1

    def test_byte_semantics_multibyte(self, spark):
        # the reference measures/slices Go BYTES (functions.go:69-165):
        # 日本語 = 9 bytes / 3 chars, é = 2 bytes, 😀 = 4 bytes
        from osmquadtree_depreceated_spark.plans.sqlcompat import (
            maxwidth,
            ref_charlength,
            ref_substr_bytes,
        )

        df = spark.createDataFrame(
            [("日本語",), ("héllo",), (None,)], "s string"
        )
        got = df.select(
            ref_charlength("s").alias("cl"),
            ref_substr("s", 1, 3).alias("s13"),
            ref_substr("s", 1, 4).alias("s14"),
            F.hex(ref_substr_bytes("s", 1, 4)).alias("b14"),
            ref_substr("s", 1, 99).alias("over"),
            maxwidth(F.col("s"), "本").alias("mw"),
        ).collect()
        jp, he, nu = got
        assert jp["cl"] == 9 and he["cl"] == 6
        assert nu["cl"] == 0  # charlengthFunc: non-STRING (NULL) -> 0
        assert jp["s13"] == "日"  # 3-byte slice = first codepoint
        assert jp["s14"] == "日�"  # split codepoint sanitized
        assert jp["b14"] == "E697A5E6"  # ...but exact bytes exposed
        assert jp["over"] is None  # byte-bounds overflow -> NULL
        assert he["s14"] == "hél"  # 4 bytes = 3 chars here
        assert jp["mw"] == 3 and he["mw"] == 6  # byte segment widths

    def test_geometry_views(self, spark):
        lines = spark.createDataFrame(
            [(7, 12, 0.0, 123456789, {"highway": "primary", "name": "x"})],
            "way_id long, z_order long, way_area double, cell long,"
            " tags map<string,string>",
        )
        register_geometry_views(spark, lines=lines)
        row = spark.sql(
            "select osm_id, z_order, quadtree, highway from planet_osm_line "
            "where highway = 'primary'"
        ).collect()[0]
        assert row["osm_id"] == 7 and row["quadtree"] == 123456789


def test_relation_multipolygon_geojson_roundtrip(spark):
    """Relation rings -> Polygon/MultiPolygon Feature JSON, parsed back:
    group structure and fixed-point coordinates must survive exactly."""
    import json

    from osmquadtree_depreceated_spark.functions.geojson import (
        relation_feature_json,
    )

    rows = [
        # one group, outer + inner ring -> Polygon with 2 rings
        (1, [
            {"grp": 0, "lons": [0, 10_000_000, 10_000_000, 0, 0],
             "lats": [0, 0, 10_000_000, 10_000_000, 0]},
            {"grp": 0, "lons": [2_000_000, 8_000_000, 8_000_000, 2_000_000,
                                2_000_000],
             "lats": [2_000_000, 2_000_000, 8_000_000, 8_000_000,
                      2_000_000]},
        ], {"natural": "water"}),
        # two groups -> MultiPolygon
        (2, [
            {"grp": 0, "lons": [0, 1_000_000, 0, 0],
             "lats": [0, 0, 1_000_000, 0]},
            {"grp": 1, "lons": [5_000_000, 6_000_000, 5_000_000, 5_000_000],
             "lats": [0, 0, 1_000_000, 0]},
        ], {}),
    ]
    df = spark.createDataFrame(
        rows,
        "rel_id long, rings array<struct<grp: int, lons: array<long>, "
        "lats: array<long>>>, tags map<string,string>",
    )
    feats = {r["rel_id"]: r["feature"]
             for r in relation_feature_json(df).collect()}
    f1 = json.loads(feats[1])
    assert f1["geometry"]["type"] == "Polygon"
    assert len(f1["geometry"]["coordinates"]) == 2  # outer + inner
    assert f1["properties"] == {"natural": "water"}
    # coords round-trip to the fixed-point ints
    got = [[int(round(x * 1e7)), int(round(y * 1e7))]
           for x, y in f1["geometry"]["coordinates"][0]]
    assert got == [[0, 0], [10_000_000, 0], [10_000_000, 10_000_000],
                   [0, 10_000_000], [0, 0]]
    f2 = json.loads(feats[2])
    assert f2["geometry"]["type"] == "MultiPolygon"
    assert len(f2["geometry"]["coordinates"]) == 2
    assert len(f2["geometry"]["coordinates"][0]) == 1  # one ring per group


def test_resize_media_real_pixels(spark):
    from osmquadtree_depreceated_spark.operators.media import (
        decode_png, encode_png, png_blobs, resize_media, synth_png_bytes,
    )

    docs = spark.createDataFrame([(3,), (17,)], ["doc_id"])
    out = {r.doc_id: bytes(r.blob)
           for r in resize_media(png_blobs(docs), factor=2).collect()}
    for did in (3, 17):
        _w, _h, px = decode_png(synth_png_bytes(did))
        want = px[::2, ::2]
        w2, h2, got = decode_png(out[did])
        assert (got == want).all() and (h2, w2) == want.shape
    # encode/decode closure on an arbitrary array
    arr = ((7 * __import__("numpy").arange(30).reshape(5, 6)) % 256
           ).astype("uint8")
    assert (decode_png(encode_png(arr))[2] == arr).all()


def test_sample_frames_fanout(spark):
    import hashlib

    from osmquadtree_depreceated_spark.operators.media import sample_frames

    media = spark.createDataFrame(
        [(1, "v://a", 4000), (2, "v://b", 1000)],
        "doc_id long, media_ref string, duration_ms long",
    )
    rows = sample_frames(media, n_frames=4).collect()
    assert len(rows) == 8  # 1:N fan-out, N=4 per input row
    by = {(r.doc_id, r.frame_idx): r for r in rows}
    assert by[(1, 3)].ts_ms == 3 * 4000 // 4
    assert by[(2, 1)].ts_ms == 250
    assert by[(1, 2)].frame_sha == hashlib.sha256(b"v://a:2").hexdigest()
