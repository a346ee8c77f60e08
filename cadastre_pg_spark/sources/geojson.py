"""GeoJSON sink (reference S9: cadastre-pg/src/export/geojson.rs:14-97,
streaming FeatureCollection writer with CRS header).

Spark-first: each feature row becomes one GeoJSON Feature via
`to_json` over a struct built with JVM expressions (no Python); the
writer emits newline-delimited GeoJSON features (the distributed-
friendly framing) or a single FeatureCollection via a driver-side
header/footer around the part files.
"""

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def polygon_geojson_col(xs="xs", ys="ys", ring_offsets="ring_offsets") -> Column:
    """Flat ring arrays -> GeoJSON Polygon coordinates, JVM-side:
    transform over ring index slices."""
    n_rings = F.size(ring_offsets) - F.lit(1)
    ring_idx = F.sequence(F.lit(0), n_rings - F.lit(1))
    coords = F.transform(
        ring_idx,
        lambda i: F.zip_with(
            F.slice(
                F.col(xs),
                F.col(ring_offsets)[i] + 1,
                F.col(ring_offsets)[i + 1] - F.col(ring_offsets)[i],
            ),
            F.slice(
                F.col(ys),
                F.col(ring_offsets)[i] + 1,
                F.col(ring_offsets)[i + 1] - F.col(ring_offsets)[i],
            ),
            lambda x, y: F.array(x, y),
        ),
    )
    return F.to_json(
        F.struct(
            F.lit("Polygon").alias("type"),
            coords.alias("coordinates"),
        )
    )


def _coords_pairs(xs, ys) -> Column:
    return F.zip_with(F.col(xs), F.col(ys), lambda x, y: F.array(x, y))


def _parts(xs, ys, offsets) -> Column:
    """Slice flat arrays into parts by an offsets array (shared by
    MultiLineString parts and Polygon rings)."""
    n = F.size(offsets) - F.lit(1)
    idx = F.sequence(F.lit(0), n - F.lit(1))
    return F.transform(
        idx,
        lambda i: F.zip_with(
            F.slice(
                F.col(xs),
                F.col(offsets)[i] + 1,
                F.col(offsets)[i + 1] - F.col(offsets)[i],
            ),
            F.slice(
                F.col(ys),
                F.col(offsets)[i] + 1,
                F.col(offsets)[i + 1] - F.col(offsets)[i],
            ),
            lambda x, y: F.array(x, y),
        ),
    )


def geometry_geojson_col(
    geom_type="geom_type",
    xs="xs",
    ys="ys",
    offsets="ring_offsets",
    poly_offsets=None,
    collection=None,
) -> Column:
    """Geometry JSON STRING for a heterogeneous feature table — the
    engine's S9 twin of the reference's all-types writer
    (cadastre-pg/src/export/geojson.rs:14-97, geozero process_geom).
    Dispatches on `geom_type` (Point, MultiPoint, LineString,
    MultiLineString, Polygon, MultiPolygon); every branch is a JVM
    to_json, the when-chain just picks the string. The MultiPolygon
    branch is OPT-IN: pass poly_offsets (indices into the offsets
    array per polygon) to enable it — the default None keeps the
    column resolvable on tables without that column. Likewise
    GeometryCollection: pass `collection` naming an array-of-geometry-
    JSON-strings column (see geometry_collection_col) to enable the
    seventh type."""

    def gj(typ, coords):
        return F.to_json(
            F.struct(F.lit(typ).alias("type"), coords.alias("coordinates"))
        )

    t = F.col(geom_type)
    pairs = _coords_pairs(xs, ys)
    parts = _parts(xs, ys, offsets)
    out = (
        F.when(t == "Point", gj("Point", F.array(F.col(xs)[0], F.col(ys)[0])))
        .when(t == "MultiPoint", gj("MultiPoint", pairs))
        .when(t == "LineString", gj("LineString", pairs))
        .when(t == "MultiLineString", gj("MultiLineString", parts))
        .when(t == "Polygon", gj("Polygon", parts))
    )
    if poly_offsets is not None:
        po = F.col(poly_offsets)
        npoly = F.size(po) - F.lit(1)
        polys = F.transform(
            F.sequence(F.lit(0), npoly - F.lit(1)),
            lambda p: F.slice(parts, po[p] + 1, po[p + 1] - po[p]),
        )
        out = out.when(t == "MultiPolygon", gj("MultiPolygon", polys))
    if collection is not None:
        out = out.when(
            t == "GeometryCollection", geometry_collection_col(collection)
        )
    return out


def geometry_collection_col(geoms) -> Column:
    """GeoJSON GeometryCollection from an ARRAY column of pre-rendered
    geometry JSON strings (each produced by geometry_geojson_col /
    polygon_geojson_col — composition, so members may mix types and
    nesting depths). The reference carries GeometryCollection in its
    geometry enum (edigeo/src/types.rs:29-41 via geo::Geometry) but
    never constructs one (edigeo/src/repair/mod.rs:48-59); the sink
    still accepts it so merged inputs from other writers round-trip."""
    return F.concat(
        F.lit('{"type":"GeometryCollection","geometries":['),
        F.concat_ws(",", F.col(geoms) if isinstance(geoms, str) else geoms),
        F.lit("]}"),
    )


def feature_geojson_col(
    id_col: str,
    properties: list[str],
    geometry_json: Column,
) -> Column:
    """One Feature as a JSON string: id/properties via to_json (Spark
    owns escaping — the reference hand-rolls escape_json), geometry
    spliced in as the pre-rendered string so heterogeneous nesting
    depths coexist in one column."""
    head = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.col(id_col).cast("string").alias("id"),
        )
    )
    props = F.to_json(F.struct(*[F.col(p) for p in properties])) if properties else F.lit("{}")
    return F.concat(
        head.substr(F.lit(1), F.length(head) - F.lit(1)),
        F.lit(',"geometry":'),
        geometry_json,
        F.lit(',"properties":'),
        props,
        F.lit("}"),
    )


def write_geojson_mixed(
    df: DataFrame,
    out_dir: str,
    id_col: str = "feature_id",
    properties: list[str] | None = None,
    geom_type: str = "geom_type",
    offsets: str = "ring_offsets",
    poly_offsets: str | None = None,
) -> str:
    """Newline-delimited GeoJSON for a table mixing geometry types."""
    feature = feature_geojson_col(
        id_col,
        properties or [],
        geometry_geojson_col(geom_type, "xs", "ys", offsets, poly_offsets),
    )
    df.select(feature.alias("value")).write.mode("overwrite").text(out_dir)
    return out_dir


def feature_collection_header(srid: int = 4326) -> str:
    """CRS header matching the reference's framing (geojson.rs:14-43)."""
    return json.dumps(
        {
            "type": "FeatureCollection",
            "crs": {
                "type": "name",
                "properties": {"name": f"urn:ogc:def:crs:EPSG::{srid}"},
            },
        }
    )[:-1] + ', "features": ['


def collect_feature_collection(
    df: DataFrame, id_col: str = "parcel_id", properties: list[str] | None = None,
    srid: int = 4326,
) -> str:
    """Small-result convenience: assemble one FeatureCollection string
    (driver-side concat of the distributed per-feature JSON)."""
    props = properties or []
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.col(id_col).cast("string").alias("id"),
            F.from_json(
                polygon_geojson_col(), "type string, coordinates array<array<array<double>>>"
            ).alias("geometry"),
            F.struct(*[F.col(p) for p in props]).alias("properties"),
        )
    )
    rows = [r[0] for r in df.select(feature).collect()]
    return feature_collection_header(srid) + ",".join(rows) + "]}"
