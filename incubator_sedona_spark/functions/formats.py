"""Geometry text formats: GeoJSON in/out, GML and KML out.

Reference surface: ST_AsGeoJSON / ST_AsGML / ST_AsKML / ST_GeomFromGeoJSON
(Catalog.scala:86-91,130; impls common/.../Functions.java via JTS io).  The
engine reads/writes the standard formats directly from its WKB geometry
model; output strings follow the same shapes JTS writers emit (coordinate
order lon,lat; GML2 posLists; KML coordinate triplets without z).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column
from pyspark.sql.types import BinaryType, StringType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import wkb as W

_KIND_NAME = {
    W.POINT: "Point",
    W.LINESTRING: "LineString",
    W.POLYGON: "Polygon",
    W.MULTIPOINT: "MultiPoint",
    W.MULTILINESTRING: "MultiLineString",
    W.MULTIPOLYGON: "MultiPolygon",
    W.GEOMETRYCOLLECTION: "GeometryCollection",
}
_NAME_KIND = {v: k for k, v in _KIND_NAME.items()}


def _coords(arr: np.ndarray):
    return [[float(x), float(y)] for x, y in arr]


def geometry_to_geojson(g: W.Geometry) -> dict:
    if g.kind == W.POINT:
        return {"type": "Point", "coordinates": [float(g.parts[0, 0]), float(g.parts[0, 1])]}
    if g.kind == W.LINESTRING:
        return {"type": "LineString", "coordinates": _coords(g.parts)}
    if g.kind == W.POLYGON:
        return {"type": "Polygon", "coordinates": [_coords(r) for r in g.parts]}
    if g.kind in (W.MULTIPOINT, W.MULTILINESTRING, W.MULTIPOLYGON):
        children = [geometry_to_geojson(c)["coordinates"] for c in g.parts]
        return {"type": _KIND_NAME[g.kind], "coordinates": children}
    return {
        "type": "GeometryCollection",
        "geometries": [geometry_to_geojson(c) for c in g.parts],
    }


def geojson_to_geometry(obj) -> W.Geometry:
    if isinstance(obj, str):
        obj = json.loads(obj)
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    t = obj["type"]
    if t == "Point":
        x, y = obj["coordinates"][:2]
        return W.point(float(x), float(y))
    if t == "LineString":
        return W.Geometry(W.LINESTRING, np.asarray(obj["coordinates"], dtype=np.float64)[:, :2])
    if t == "Polygon":
        return W.Geometry(
            W.POLYGON,
            [np.asarray(r, dtype=np.float64)[:, :2] for r in obj["coordinates"]],
        )
    if t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        sub = {"MultiPoint": "Point", "MultiLineString": "LineString", "MultiPolygon": "Polygon"}[t]
        return W.multi(
            _NAME_KIND[t],
            [geojson_to_geometry({"type": sub, "coordinates": c}) for c in obj["coordinates"]],
        )
    if t == "GeometryCollection":
        return W.multi(W.GEOMETRYCOLLECTION, [geojson_to_geometry(g) for g in obj["geometries"]])
    raise ValueError(f"unsupported GeoJSON type {t!r}")


def _poslist(arr: np.ndarray) -> str:
    # repr() = shortest string that round-trips the double exactly; '%g'
    # (6 significant digits) would silently truncate real-world coordinates
    # by ~50 m (JTS's writers emit full precision)
    return " ".join(f"{float(x)!r},{float(y)!r}" for x, y in arr)


_GML_MULTI = {
    W.MULTIPOINT: ("MultiPoint", "pointMember"),
    W.MULTILINESTRING: ("MultiLineString", "lineStringMember"),
    W.MULTIPOLYGON: ("MultiPolygon", "polygonMember"),
    W.GEOMETRYCOLLECTION: ("MultiGeometry", "geometryMember"),
}


def geometry_to_gml(g: W.Geometry) -> str:
    if g.kind == W.POINT:
        return f"<gml:Point><gml:coordinates>{_poslist(g.parts)}</gml:coordinates></gml:Point>"
    if g.kind == W.LINESTRING:
        return f"<gml:LineString><gml:coordinates>{_poslist(g.parts)}</gml:coordinates></gml:LineString>"
    if g.kind == W.POLYGON:
        shell = (
            "<gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>"
            + _poslist(g.parts[0])
            + "</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>"
        )
        holes = "".join(
            "<gml:innerBoundaryIs><gml:LinearRing><gml:coordinates>"
            + _poslist(r)
            + "</gml:coordinates></gml:LinearRing></gml:innerBoundaryIs>"
            for r in g.parts[1:]
        )
        return f"<gml:Polygon>{shell}{holes}</gml:Polygon>"
    # multi/collection: wrapped in the GML2 container + member elements, the
    # shapes JTS's GMLWriter emits (bare concatenated children are not valid
    # GML fragments)
    wrap, member = _GML_MULTI[g.kind]
    inner = "".join(
        f"<gml:{member}>{geometry_to_gml(c)}</gml:{member}>" for c in g.parts
    )
    return f"<gml:{wrap}>{inner}</gml:{wrap}>"


def _kml_coords(arr: np.ndarray) -> str:
    return " ".join(f"{float(x)!r},{float(y)!r}" for x, y in arr)


def geometry_to_kml(g: W.Geometry) -> str:
    if g.kind == W.POINT:
        return f"<Point><coordinates>{_kml_coords(g.parts)}</coordinates></Point>"
    if g.kind == W.LINESTRING:
        return f"<LineString><coordinates>{_kml_coords(g.parts)}</coordinates></LineString>"
    if g.kind == W.POLYGON:
        shell = (
            "<outerBoundaryIs><LinearRing><coordinates>"
            + _kml_coords(g.parts[0])
            + "</coordinates></LinearRing></outerBoundaryIs>"
        )
        holes = "".join(
            "<innerBoundaryIs><LinearRing><coordinates>"
            + _kml_coords(r)
            + "</coordinates></LinearRing></innerBoundaryIs>"
            for r in g.parts[1:]
        )
        return f"<Polygon>{shell}{holes}</Polygon>"
    if g.kind == W.MULTIPOLYGON or g.kind == W.GEOMETRYCOLLECTION or g.kind in (
        W.MULTIPOINT,
        W.MULTILINESTRING,
    ):
        return "<MultiGeometry>" + "".join(geometry_to_kml(c) for c in g.parts) + "</MultiGeometry>"
    raise ValueError(f"unsupported kind {g.kind}")


def st_as_geojson(wkb_col: Column) -> Column:
    def _geojson(g: W.Geometry) -> str:
        return json.dumps(geometry_to_geojson(g), separators=(",", ":"))

    return geom_udf(StringType(), _geojson)(wkb_col)


def st_as_gml(wkb_col: Column) -> Column:
    return geom_udf(StringType(), geometry_to_gml)(wkb_col)


def st_as_kml(wkb_col: Column) -> Column:
    return geom_udf(StringType(), geometry_to_kml)(wkb_col)


def st_geom_from_geojson(json_col: Column) -> Column:
    return geom_udf(BinaryType(), geojson_to_geometry, decode=None)(json_col)


# -- GML / KML input (ST_GeomFromGML / ST_GeomFromKML) --------------------------
# Reference: Catalog.scala:142-144 -> JTS GMLReader / KMLReader.  Parses the
# GML2 shapes the writers above emit plus GML3 posList, namespace-agnostic.


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_coordinates(el) -> np.ndarray:
    """<coordinates> x,y[,z] tuples separated by whitespace, or GML3
    <posList>/<pos> plain number streams (x y pairs)."""
    text = (el.text or "").strip()
    name = _localname(el.tag)
    if name in ("posList", "pos"):
        nums = [float(v) for v in text.split()]
        return np.asarray(nums, dtype=np.float64).reshape(-1, 2)
    pts = []
    for tok in text.split():
        xy = tok.split(",")
        pts.append((float(xy[0]), float(xy[1])))
    return np.asarray(pts, dtype=np.float64)


def _find_coords(el) -> np.ndarray:
    for child in el:
        if _localname(child.tag) in ("coordinates", "posList", "pos"):
            return _parse_coordinates(child)
    raise ValueError(f"no coordinates in <{_localname(el.tag)}>")


def _xml_to_geometry(el) -> W.Geometry:
    name = _localname(el.tag)
    if name == "Point":
        arr = _find_coords(el)
        return W.point(float(arr[0, 0]), float(arr[0, 1]))
    if name == "LineString":
        return W.Geometry(W.LINESTRING, _find_coords(el))
    if name == "LinearRing":
        return W.Geometry(W.LINESTRING, _find_coords(el))
    if name == "Polygon":
        rings: list[np.ndarray] = []
        for child in el:
            cname = _localname(child.tag)
            if cname in ("outerBoundaryIs", "exterior", "innerBoundaryIs", "interior"):
                for ring in child:
                    if _localname(ring.tag) == "LinearRing":
                        r = _find_coords(ring)
                        if cname in ("outerBoundaryIs", "exterior"):
                            rings.insert(0, r)
                        else:
                            rings.append(r)
        if not rings:
            raise ValueError("Polygon without boundary rings")
        return W.Geometry(W.POLYGON, rings)
    if name in ("MultiPoint", "MultiLineString", "MultiPolygon", "MultiGeometry"):
        kind = {
            "MultiPoint": W.MULTIPOINT,
            "MultiLineString": W.MULTILINESTRING,
            "MultiPolygon": W.MULTIPOLYGON,
            "MultiGeometry": W.GEOMETRYCOLLECTION,
        }[name]
        children = []
        for member in el:
            mname = _localname(member.tag)
            if mname.endswith("Member") or mname.endswith("member"):
                children.extend(_xml_to_geometry(c) for c in member)
            else:  # KML MultiGeometry nests children directly
                children.append(_xml_to_geometry(member))
        if name == "MultiGeometry" and children and all(
            c.kind == children[0].kind for c in children
        ):
            # KML has no Multi* elements; a homogeneous MultiGeometry decodes
            # to the corresponding Multi type (JTS KMLReader behavior)
            homo = {W.POINT: W.MULTIPOINT, W.LINESTRING: W.MULTILINESTRING, W.POLYGON: W.MULTIPOLYGON}
            kind = homo.get(children[0].kind, W.GEOMETRYCOLLECTION)
        return W.multi(kind, children)
    raise ValueError(f"unsupported XML geometry element <{name}>")


def xml_text_to_geometry(text: str) -> W.Geometry:
    import xml.etree.ElementTree as ET

    # bind any gml: prefix so fragments parse without a namespace declaration
    wrapped = f'<__root xmlns:gml="http://www.opengis.net/gml">{text}</__root>'
    root = ET.fromstring(wrapped)
    for child in root:
        return _xml_to_geometry(child)
    raise ValueError(f"no geometry element in {text[:80]!r}")


def st_geom_from_gml(gml_col: Column) -> Column:
    return geom_udf(BinaryType(), xml_text_to_geometry, decode=None)(gml_col)


def st_geom_from_kml(kml_col: Column) -> Column:
    return geom_udf(BinaryType(), xml_text_to_geometry, decode=None)(kml_col)
