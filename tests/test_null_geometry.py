"""NULL geometry rows: every ST_ function gives NULL for a NULL argument (the
Spark null-intolerant rule), and the spatial join forms keep or drop a row
with a NULL geometry instead of failing the query."""

import inspect

import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.functions import buffer as BUF
from incubator_sedona_spark.functions import concavehull as CH
from incubator_sedona_spark.functions import crs as CRS
from incubator_sedona_spark.functions import editors as E
from incubator_sedona_spark.functions import formats as FMT
from incubator_sedona_spark.functions import geodesic as GEO
from incubator_sedona_spark.functions import measures as M
from incubator_sedona_spark.functions import overlay as O
from incubator_sedona_spark.functions import scalars as SC
from incubator_sedona_spark.functions import st as S
from incubator_sedona_spark.functions import subdivide as SUB
from incubator_sedona_spark.functions import zm as ZM
from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.operators.joins import distance_join, range_query, spatial_join

POLY = W.polygon([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], [[(1, 1), (1, 2), (2, 2), (2, 1), (1, 1)]])
POLY2 = W.box(2, 2, 6, 6)
LINE = W.linestring([(0, 0), (1, 1), (2, 0), (3, 1)])
RING = W.linestring([(0, 0), (3, 0), (3, 3), (0, 3), (0, 0)])
HOLE = W.linestring([(1, 1), (1, 2), (2, 2), (2, 1), (1, 1)])
BLADE = W.linestring([(2, -1), (2, 5)])
MPT = W.multi(W.MULTIPOINT, [W.point(0, 0), W.point(2, 1), W.point(1, 3)])

COLUMNS = {
    "poly": ("binary", W.dumps(POLY)),
    "poly2": ("binary", W.dumps(POLY2)),
    "line": ("binary", W.dumps(LINE)),
    "ring": ("binary", W.dumps(RING)),
    "blade": ("binary", W.dumps(BLADE)),
    "mpt": ("binary", W.dumps(MPT)),
    "pt": ("binary", W.dumps(W.point(1.0, 2.0))),
    "pt2": ("binary", W.dumps(W.point(3.0, 1.0))),
    "pt3": ("binary", W.dumps(W.point(4.0, 4.0))),
    "ptz": ("binary", W.dumps(ZM.point_z(1.0, 2.0, 3.0))),
    "ptzm": ("binary", W.dumps(ZM.point_z(1.0, 2.0, 3.0, 4.0))),
    "arr": ("array<binary>", [W.dumps(W.point(1.0, 2.0)), W.dumps(W.point(3.0, 1.0))]),
    "holes": ("array<binary>", [W.dumps(HOLE)]),
    "wkt": ("string", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
    "geojson": ("string", '{"type":"Point","coordinates":[1.0,2.0]}'),
    "gml": ("string", FMT.geometry_to_gml(POLY2)),
    "kml": ("string", FMT.geometry_to_kml(POLY2)),
    "gh": ("string", "u4pru"),
    "x": ("double", 1.5),
    "y": ("double", 2.5),
    "z": ("double", 3.5),
}

GRID = Grid(0.0, 0.0, 8.0, 8.0, 3)
c = F.col

# one expression per public ST_ function; each return-type family the UDF
# boundary emits (int, double, bool, string, binary, array<double>,
# array<long>, array<binary>) appears on both the per-row and the batch path
CASES = {
    # st.py
    "st_point": lambda: S.st_point(c("x"), c("y")),
    "st_polygon_from_envelope": lambda: S.st_polygon_from_envelope(c("x"), c("y"), c("z"), c("z")),
    "st_geom_from_wkt": lambda: S.st_geom_from_wkt(c("wkt")),
    "st_as_text": lambda: S.st_as_text(c("poly")),
    "st_x": lambda: S.st_x(c("pt")),
    "st_y": lambda: S.st_y(c("pt")),
    "st_area": lambda: S.st_area(c("poly")),
    "st_length": lambda: S.st_length(c("line")),
    "st_distance": lambda: S.st_distance(c("poly"), c("pt3")),
    "st_npoints": lambda: S.st_npoints(c("poly")),
    "st_geometry_type": lambda: S.st_geometry_type(c("poly")),
    "st_envelope_bbox": lambda: S.st_envelope_bbox(c("line")),
    "st_centroid_xy": lambda: S.st_centroid_xy(c("poly")),
    "st_is_valid": lambda: S.st_is_valid(c("poly")),
    "st_buffer_bbox": lambda: S.st_buffer_bbox(c("line"), 0.5),
    "st_translate": lambda: S.st_translate(c("poly"), 1.0, 2.0),
    "st_flip_coordinates": lambda: S.st_flip_coordinates(c("line")),
    "st_convex_hull": lambda: S.st_convex_hull(c("line")),
    "st_simplify": lambda: S.st_simplify(c("line"), 0.5),
    "st_make_valid": lambda: S.st_make_valid(c("poly")),
    "st_cell_ids": lambda: S.st_cell_ids(c("poly"), GRID),
    "st_geohash": lambda: S.st_geohash(c("x"), c("y"), 6),
    "st_predicate": lambda: S.st_predicate("contains", c("poly"), c("pt3")),
    "st_transform_4326_to_3857": lambda: S.st_transform_4326_to_3857(c("line")),
    "st_transform_3857_to_4326": lambda: S.st_transform_3857_to_4326(c("line")),
    "st_num_geometries": lambda: S.st_num_geometries(c("mpt")),
    "st_boundary": lambda: S.st_boundary(c("poly")),
    "st_centroid": lambda: S.st_centroid(c("poly")),
    "st_envelope": lambda: S.st_envelope(c("line")),
    "st_boundary_bbox": lambda: S.st_boundary_bbox(c("line")),
    "st_exterior_ring": lambda: S.st_exterior_ring(c("poly")),
    "st_dump": lambda: S.st_dump(c("mpt")),
    "st_geometric_median": lambda: S.st_geometric_median(c("mpt")),
    # scalars.py
    "st_is_simple": lambda: SC.st_is_simple(c("line")),
    "st_is_closed": lambda: SC.st_is_closed(c("ring")),
    "st_is_ring": lambda: SC.st_is_ring(c("ring")),
    "st_angle": lambda: SC.st_angle(c("pt"), c("pt2"), c("pt3"), c("pt")),
    "st_angle_3": lambda: SC.st_angle(c("pt"), c("pt2"), c("pt3")),
    "st_bounding_diagonal": lambda: SC.st_bounding_diagonal(c("poly")),
    "st_nrings": lambda: SC.st_nrings(c("poly")),
    "st_num_interior_rings": lambda: SC.st_num_interior_rings(c("poly")),
    "st_distance_spheroid": lambda: SC.st_distance_spheroid(c("pt"), c("pt2")),
    "st_length_spheroid": lambda: SC.st_length_spheroid(c("line")),
    "st_area_spheroid": lambda: SC.st_area_spheroid(c("poly")),
    "st_geom_from_geohash": lambda: SC.st_geom_from_geohash(c("gh")),
    "st_dimension": lambda: SC.st_dimension(c("poly")),
    "st_is_empty": lambda: SC.st_is_empty(c("poly")),
    "st_xmin": lambda: SC.st_xmin(c("line")),
    "st_ymin": lambda: SC.st_ymin(c("line")),
    "st_xmax": lambda: SC.st_xmax(c("line")),
    "st_ymax": lambda: SC.st_ymax(c("line")),
    "st_dump_points": lambda: SC.st_dump_points(c("line")),
    "st_as_ewkb": lambda: SC.st_as_ewkb(c("poly")),
    "st_as_ewkt": lambda: SC.st_as_ewkt(c("poly")),
    "st_build_area": lambda: SC.st_build_area(c("ring")),
    "st_simplify_preserve_topology": lambda: SC.st_simplify_preserve_topology(c("poly"), 0.1),
    "st_srid": lambda: SC.st_srid(c("poly")),
    "st_set_srid": lambda: SC.st_set_srid(c("poly"), 4326),
    "st_ordering_equals": lambda: SC.st_ordering_equals(c("poly"), c("poly")),
    # editors.py
    "st_affine": lambda: E.st_affine(c("line"), 1.0, 0.5, 0.0, 1.0, 2.0, 3.0),
    "st_reverse": lambda: E.st_reverse(c("line")),
    "st_precision_reduce": lambda: E.st_precision_reduce(c("line"), 1),
    "st_normalize": lambda: E.st_normalize(c("poly")),
    "st_force_2d": lambda: E.st_force_2d(c("ptz")),
    "st_multi": lambda: E.st_multi(c("poly")),
    "st_collection_extract": lambda: E.st_collection_extract(c("mpt"), 1),
    "st_point_on_surface": lambda: E.st_point_on_surface(c("poly")),
    "st_line_interpolate_point": lambda: E.st_line_interpolate_point(c("line"), 0.5),
    "st_line_substring": lambda: E.st_line_substring(c("line"), 0.25, 0.75),
    "st_add_point": lambda: E.st_add_point(c("line"), 9.0, 9.0),
    "st_remove_point": lambda: E.st_remove_point(c("line"), 1),
    "st_set_point": lambda: E.st_set_point(c("line"), 0, 5.0, 5.0),
    "st_line_merge": lambda: E.st_line_merge(c("line")),
    "st_geometry_n": lambda: E.st_geometry_n(c("mpt"), 1),
    "st_point_n": lambda: E.st_point_n(c("line"), 2),
    "st_start_point": lambda: E.st_start_point(c("line")),
    "st_end_point": lambda: E.st_end_point(c("line")),
    "st_interior_ring_n": lambda: E.st_interior_ring_n(c("poly"), 0),
    "st_make_polygon": lambda: E.st_make_polygon(c("ring")),
    "st_make_polygon_holes": lambda: E.st_make_polygon(c("ring"), c("holes")),
    "st_line_from_multipoint": lambda: E.st_line_from_multipoint(c("mpt")),
    # zm.py
    "st_z": lambda: ZM.st_z(c("ptz")),
    "st_m": lambda: ZM.st_m(c("ptzm")),
    "st_zmin": lambda: ZM.st_zmin(c("ptz")),
    "st_zmax": lambda: ZM.st_zmax(c("ptz")),
    "st_ndims": lambda: ZM.st_ndims(c("ptz")),
    "st_hasz": lambda: ZM.st_hasz(c("ptz")),
    "st_hasm": lambda: ZM.st_hasm(c("ptz")),
    "st_force_3d": lambda: ZM.st_force_3d(c("line"), 1.0),
    "st_3ddistance": lambda: ZM.st_3ddistance(c("ptz"), c("pt2")),
    "st_point_z": lambda: ZM.st_point_z(c("x"), c("y"), c("z")),
    # buffer, concave hull, CRS, geodesic, measures, subdivide
    "st_buffer": lambda: BUF.st_buffer(c("pt"), 1.0, 2),
    "st_concave_hull": lambda: CH.st_concave_hull(c("poly"), 0.5),
    "st_transform": lambda: CRS.st_transform(c("line"), "epsg:4326", "epsg:32631"),
    "st_area_geodesic": lambda: GEO.st_area_geodesic(c("poly")),
    "st_minimum_bounding_radius": lambda: M.st_minimum_bounding_radius(c("mpt")),
    "st_minimum_bounding_circle": lambda: M.st_minimum_bounding_circle(c("mpt")),
    "st_hausdorff_distance": lambda: M.st_hausdorff_distance(c("line"), c("ring")),
    "st_frechet_distance": lambda: M.st_frechet_distance(c("line"), c("ring")),
    "st_subdivide": lambda: SUB.st_subdivide(c("poly"), 6),
    "st_split": lambda: SUB.st_split(c("poly2"), c("blade")),
    # formats.py
    "st_as_geojson": lambda: FMT.st_as_geojson(c("poly")),
    "st_as_gml": lambda: FMT.st_as_gml(c("poly")),
    "st_as_kml": lambda: FMT.st_as_kml(c("poly")),
    "st_geom_from_geojson": lambda: FMT.st_geom_from_geojson(c("geojson")),
    "st_geom_from_gml": lambda: FMT.st_geom_from_gml(c("gml")),
    "st_geom_from_kml": lambda: FMT.st_geom_from_kml(c("kml")),
    # overlay.py
    "st_intersection": lambda: O.st_intersection(c("poly"), c("poly2")),
    "st_union": lambda: O.st_union(c("poly"), c("poly2")),
    "st_difference": lambda: O.st_difference(c("poly"), c("poly2")),
    "st_sym_difference": lambda: O.st_sym_difference(c("poly"), c("poly2")),
    "st_union_collect": lambda: O.st_union_collect(c("poly"), c("pt")),
}

# Public st_* names with no NULL-in, NULL-out case: pure Catalyst arithmetic
# (already NULL-safe), DataFrame-level aggregates or explodes, an alias, and
# st_collect, whose NULL array means an empty collection (tested below).
NOT_ROW_FUNCTIONS = {
    "st_distance_sphere", "st_azimuth", "st_degrees", "st_subdivide_explode",
    "st_union_aggr", "st_envelope_aggr", "st_intersection_aggr", "st_collect_aggr",
    "st_3ddistance_general", "st_collect",
}

MODULES = (S, SC, E, ZM, BUF, CH, CRS, GEO, M, SUB, FMT, O)


def _frame(spark, with_null: bool):
    schema = "id int, " + ", ".join(f"{k} {t}" for k, (t, _) in COLUMNS.items())
    rows = [(0, *(v for _, v in COLUMNS.values()))]
    if with_null:
        rows.append((1, *(None for _ in COLUMNS)))
    # one partition: the NULL row and the valid row share one Arrow batch
    return spark.createDataFrame(rows, schema).coalesce(1)


def test_every_row_function_has_a_null_case():
    public = {
        name
        for mod in MODULES
        for name, obj in vars(mod).items()
        if name.startswith("st_") and inspect.isfunction(obj)
    }
    covered = {name for name in CASES if name in public}
    assert public - NOT_ROW_FUNCTIONS == covered


def _collect(spark, names, with_null: bool) -> list[dict]:
    df = _frame(spark, with_null).orderBy("id")
    return [r.asDict() for r in df.select(*(CASES[n]().alias(n) for n in names)).collect()]


@pytest.fixture(scope="module")
def all_cases(spark):
    """Every case in one query per frame; None if any case fails, so that each
    test then runs its own query and names the failing function."""
    try:
        return tuple(_collect(spark, sorted(CASES), n) for n in (False, True))
    except Exception:
        return None


@pytest.mark.parametrize("name", sorted(CASES))
def test_st_function_null_row_gives_null(spark, all_cases, name):
    clean, got = all_cases or (_collect(spark, [name], n) for n in (False, True))
    assert clean[0][name] is not None
    assert got[0][name] == clean[0][name]
    assert got[1][name] is None


def test_nullable_non_geometry_arguments_keep_their_meaning(spark):
    df = spark.createDataFrame(
        [(W.dumps(RING), None)], "ring binary, holes array<binary>"
    )
    row = df.select(
        E.st_make_polygon(c("ring"), c("holes")).alias("poly"),
        SC.st_collect(c("holes")).alias("coll"),
    ).collect()[0]
    poly = W.loads(bytes(row.poly))
    assert poly.kind == W.POLYGON and len(poly.parts) == 1  # NULL holes = no holes
    coll = W.loads(bytes(row.coll))
    assert coll.kind == W.GEOMETRYCOLLECTION and not coll.parts  # NULL array = empty


# -- joins ----------------------------------------------------------------------

ZONES = [(1, W.dumps(W.box(0, 0, 10, 10))), (2, W.dumps(W.box(20, 0, 30, 10))), (3, None)]
POINTS = [(10, 5.0, 5.0), (11, 25.0, 5.0), (12, 50.0, 50.0), (13, None, None)]


def _zones(spark):
    return spark.createDataFrame(ZONES, "zid int, wkb binary")


def _points(spark):
    rows = [(i, None if x is None else W.dumps(W.point(x, y)), x, y) for i, x, y in POINTS]
    return spark.createDataFrame(rows, "pid int, pwkb binary, px double, py double")


def _join(spark, how, point_cols, **kw):
    if point_cols:
        kw["right_point_cols"] = ("px", "py")
    return spatial_join(
        _zones(spark), _points(spark), "contains", "wkb", "pwkb", how=how, **kw
    )


@pytest.mark.parametrize(
    "form, expected",
    [
        ("inner", {(1, 10), (2, 11)}),
        ("inner_point_cols", {(1, 10), (2, 11)}),
        ("inner_shape_cover", {(1, 10), (2, 11)}),
        ("left_outer", {(1, 10), (2, 11), (3, None)}),
        ("left_anti", {3}),
        ("existence", {(1, True), (2, True), (3, False)}),
        ("right_outer", {(1, 10), (2, 11), (None, 12), (None, 13)}),
        ("range_query", {10}),
    ]
    + [
        (f"distance_{how}-{plan}", want)
        for how, want in (
            ("inner", {(1, 10), (2, 11)}),
            ("left_outer", {(1, 10), (2, 11), (3, None)}),
            ("right_outer", {(1, 10), (2, 11), (None, 12), (None, 13)}),
            ("existence", {(1, True), (2, True), (3, False)}),
        )
        for plan in ("cell", "probe")
    ],
)
def test_join_null_geometry(spark, form, expected):
    if form.startswith("distance_"):
        # list-built sides carry no statistics: the cell join unless hinted
        how, plan = form[len("distance_"):].split("-")
        out = distance_join(_zones(spark), _points(spark), 1.0, "wkb", "pwkb", how=how,
                            broadcast="left" if plan == "probe" else None)
        probed = "MapInArrow" in out._jdf.queryExecution().executedPlan().toString()
        assert probed == (plan == "probe")
        if how == "existence":
            got = {(r.zid, r.exists) for r in out.collect()}
        else:
            got = {(r.zid, r.pid) for r in out.collect()}
    elif form == "range_query":
        out = range_query(_points(spark), W.dumps(W.box(0, 0, 10, 10)), "within", "pwkb")
        got = {r.pid for r in out.collect()}
    elif form == "left_anti":
        got = {r.zid for r in _join(spark, form, False).collect()}
    elif form == "existence":
        got = {(r.zid, r.exists) for r in _join(spark, form, False).collect()}
    elif form == "inner_shape_cover":
        got = {(r.zid, r.pid) for r in _join(spark, "inner", True, left_cover="shape").collect()}
    else:
        how = "inner" if form.startswith("inner") else form
        got = {(r.zid, r.pid) for r in _join(spark, how, form.endswith("point_cols")).collect()}
    assert got == expected
