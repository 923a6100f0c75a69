"""GeoJSON sink: geometry rows -> Feature / FeatureCollection JSON.

Reference: /root/reference/geojson/geojson.go:76-159 (MakeFeature /
MakeFeatureCollection / WriteGeoJson) with optional EPSG:900913 output
projection.  Here features are native `to_json(struct(...))` column
expressions and the collection is an aggregation — `df.write.json` /
`text` writes them out; no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

EARTH_HALF_CIRCUM = 20037508.3428


def _coords_expr(lons: str = "lons", lats: str = "lats",
                 mercator: bool = False) -> Column:
    """array<array<double>> [ [x, y], ... ] from fixed-point arrays,
    optionally projected to EPSG:3857 (geojson.go:28-45)."""
    if mercator:
        x = f"x * 1e-7 * {EARTH_HALF_CIRCUM!r} / 180e0"
        y = (
            f"ln(tan(pi() * (1e0 + y * 1e-7 / 90e0) / 4e0)) * 90e0 / pi()"
            f" * {EARTH_HALF_CIRCUM!r} / 90e0"
        )
    else:
        x, y = "x * 1e-7", "y * 1e-7"
    return F.expr(
        f"zip_with({lons}, {lats}, (x, y) -> array({x}, {y}))"
    )


def feature_json(df: DataFrame, id_col: str = "way_id",
                 geom_type_col: str = "geom_type",
                 tags_col: str = "tags", mercator: bool = False) -> DataFrame:
    """Append a `feature` JSON string column per geometry row
    (MakeFeature, geojson.go:76-112).  Expects lons/lats coordinate arrays
    and the engine's geom_type codes (2=LineString, 3=Polygon)."""
    coords = _coords_expr(mercator=mercator)
    geom = F.when(
        F.col(geom_type_col) == 3,
        F.to_json(
            F.struct(
                F.lit("Polygon").alias("type"),
                F.array(coords).alias("coordinates"),
            )
        ),
    ).otherwise(
        F.to_json(
            F.struct(
                F.lit("LineString").alias("type"),
                coords.alias("coordinates"),
            )
        )
    )
    props = (
        F.to_json(F.col(tags_col)) if tags_col in df.columns else F.lit("{}")
    )
    return df.withColumn(
        "feature",
        F.concat(
            F.lit('{"type": "Feature", "id": '),
            F.col(id_col).cast("string"),
            F.lit(', "properties": '),
            F.coalesce(props, F.lit("{}")),
            F.lit(', "geometry": '),
            geom,
            F.lit("}"),
        ),
    )


def feature_collection(features: DataFrame,
                       group_cols=None) -> DataFrame:
    """FeatureCollection JSON per group (or one global row)
    (MakeFeatureCollection, geojson.go:113-158)."""
    agg = F.concat(
        F.lit('{"type": "FeatureCollection", "features": ['),
        F.array_join(F.collect_list("feature"), ", "),
        F.lit("]}"),
    ).alias("feature_collection")
    if group_cols:
        return features.groupBy(*group_cols).agg(agg)
    return features.groupBy().agg(agg)


def relation_feature_json(df: DataFrame, id_col: str = "rel_id",
                          rings_col: str = "rings",
                          tags_col: str = "tags",
                          mercator: bool = False) -> DataFrame:
    """Append a `feature` JSON string per multipolygon-relation row
    (MakeFeature for the multi shape, geojson.go:76-112 over the
    reference's collection geometries): one ring group -> Polygon,
    several -> MultiPolygon, rings grouped by their `grp` ordinal from
    the assemble_multipolygons `rings` column — all native collection
    expressions, no Python."""
    if mercator:
        x = f"x * 1e-7 * {EARTH_HALF_CIRCUM!r} / 180e0"
        y = (
            f"ln(tan(pi() * (1e0 + y * 1e-7 / 90e0) / 4e0)) * 90e0 / pi()"
            f" * {EARTH_HALF_CIRCUM!r} / 90e0"
        )
    else:
        x, y = "x * 1e-7", "y * 1e-7"
    ring_xy = (
        f"transform(filter({rings_col}, r -> r.grp = g), "
        f"r -> zip_with(r.lons, r.lats, (x, y) -> array({x}, {y})))"
    )
    groups = (
        f"transform(array_sort(array_distinct("
        f"transform({rings_col}, r -> r.grp))), g -> {ring_xy})"
    )
    df = df.withColumn("__gj_groups", F.expr(groups))
    geom = F.when(
        F.expr("size(__gj_groups) > 1"),
        F.to_json(
            F.struct(
                F.lit("MultiPolygon").alias("type"),
                F.col("__gj_groups").alias("coordinates"),
            )
        ),
    ).otherwise(
        F.to_json(
            F.struct(
                F.lit("Polygon").alias("type"),
                F.expr("element_at(__gj_groups, 1)").alias("coordinates"),
            )
        )
    )
    props = (
        F.to_json(F.col(tags_col)) if tags_col in df.columns else F.lit("{}")
    )
    return df.withColumn(
        "feature",
        F.concat(
            F.lit('{"type": "Feature", "id": '),
            F.col(id_col).cast("string"),
            F.lit(', "properties": '),
            F.coalesce(props, F.lit("{}")),
            F.lit(', "geometry": '),
            geom,
            F.lit("}"),
        ),
    ).drop("__gj_groups")
