"""Join correctness contracts, translated from the reference test suite.

- 10x10-grid / 200-pair contract:
  /root/reference/python/tests/spatial_operator/test_join_query_correctness.py:189-262
- dedup stress (4 overlapping polygons x 1 window -> exactly 8 pairs):
  /root/reference/core/src/test/java/org/apache/sedona/core/spatialOperator/JoinQueryDeduplicationTest.java:52-75
- randomized brute-force oracle equivalence:
  /root/reference/sql/common/src/test/scala/org/apache/sedona/sql/SpatialJoinSuite.scala:203-246
"""

import re

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.geom import kernel as K
from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.operators.joins import distance_join, range_query, spatial_join

GRID = Grid(0.0, 0.0, 100.01, 100.01, 4)


def _zones_df(spark):
    rows = []
    for x in range(0, 100, 10):
        for y in range(0, 100, 10):
            for tag in ("a", "b"):  # duplicate windows, ids a:/b:
                rows.append((f"{tag}:{x}:{y}", bytearray(W.dumps(W.box(x, y, x + 5, y + 5)))))
    return spark.createDataFrame(rows, "zone_id string, wkb binary")


def _points_df(spark, dx, dy):
    rows = []
    for x in range(0, 100, 10):
        for y in range(0, 100, 10):
            for tag in ("a", "b"):
                rows.append(
                    (f"{tag}:{x}:{y}", bytearray(W.dumps(W.point(x + dx, y + dy))))
                )
    return spark.createDataFrame(rows, "pt_id string, wkb binary")


def _squares_df(spark, dx, dy, side):
    rows = []
    for x in range(0, 100, 10):
        for y in range(0, 100, 10):
            for tag in ("a", "b"):
                rows.append(
                    (
                        f"{tag}:{x}:{y}",
                        bytearray(W.dumps(W.box(x + dx, y + dy, x + dx + side, y + dy + side))),
                    )
                )
    return spark.createDataFrame(rows, "obj_id string, wkb binary")


# -- the 200-pair contracts ---------------------------------------------------

def test_inside_points_contains_200(spark):
    # SpatialJoinQuery returns window-grouped results: 200 groups, 400 flat
    # pairs (JoinQuery.java:148-310; verify_join_result==200 in the reference)
    got = spatial_join(_zones_df(spark), _points_df(spark, 2.5, 2.5), "contains", grid=GRID)
    assert got.count() == 400
    assert got.groupBy("zone_id").count().count() == 200


def test_boundary_points_intersects_200(spark):
    # corner point (x+5, y+5) touches the zone boundary: intersects yes, contains no
    pts = _points_df(spark, 5.0, 5.0)
    got = spatial_join(_zones_df(spark), pts, "intersects", grid=GRID)
    assert got.groupBy("zone_id").count().count() == 200
    assert spatial_join(_zones_df(spark), pts, "contains", grid=GRID).count() == 0


def test_outside_points_0(spark):
    assert spatial_join(_zones_df(spark), _points_df(spark, 6.0, 6.0), "intersects", grid=GRID).count() == 0


def test_inside_polygons_contains_200(spark):
    objs = _squares_df(spark, 2.0, 2.0, 2.0)
    got = spatial_join(_zones_df(spark), objs, "contains", grid=GRID)
    assert got.count() == 400
    assert got.groupBy("zone_id").count().count() == 200


def test_overlap_polygons_intersects_200_covers_0(spark):
    objs = _squares_df(spark, 3.0, 3.0, 3.0)  # (x+3..x+6) overlaps (x..x+5)
    got = spatial_join(_zones_df(spark), objs, "intersects", grid=GRID)
    assert got.groupBy("zone_id").count().count() == 200
    assert spatial_join(_zones_df(spark), objs, "covers", grid=GRID).count() == 0


def test_inside_linestrings_200(spark):
    rows = []
    for x in range(0, 100, 10):
        for y in range(0, 100, 10):
            for tag in ("a", "b"):
                ls = W.linestring([(x + 1, y + 1), (x + 1, y + 4), (x + 4, y + 4)])
                rows.append((f"{tag}:{x}:{y}", bytearray(W.dumps(ls))))
    lines = spark.createDataFrame(rows, "obj_id string, wkb binary")
    got = spatial_join(_zones_df(spark), lines, "contains", grid=GRID)
    assert got.groupBy("zone_id").count().count() == 200


def test_distance_join_contract(spark):
    # centers of zones vs points 0.05 away: within 0.1 -> 200, within 0.01 -> 0
    centers = _points_df(spark, 2.5, 2.5)
    near = _points_df(spark, 2.5, 2.55)
    got = distance_join(centers, near, 0.1, grid=GRID)
    assert got.count() == 400  # 2 centers x 2 near points per cell
    assert got.groupBy("pt_id").count().count() == 200
    assert distance_join(centers, near, 0.01, grid=GRID).count() == 0


# -- dedup stress -------------------------------------------------------------

def test_dedup_8_pairs(spark):
    polys = [
        W.polygon([(3, 0), (3, 3), (0, 3), (0, 0)]),
        W.polygon([(4, 0), (4, 3), (1, 3), (1, 0)]),
        W.polygon([(3, 1), (3, 4), (0, 4), (0, 1)]),
        W.polygon([(4, 1), (4, 4), (1, 4), (1, 1)]),
    ]
    left = spark.createDataFrame(
        [(i, bytearray(W.dumps(p))) for i, p in enumerate(polys)], "lid int, wkb binary"
    )
    window = spark.createDataFrame(
        [(0, bytearray(W.dumps(W.box(0, 0, 4, 4)))), (1, bytearray(W.dumps(W.box(0, 0, 4, 4))))],
        "rid int, wkb binary",
    )
    # fine grid -> every polygon spans many cells; dedup must still give 4*2=8
    fine = Grid(0.0, 0.0, 4.01, 4.01, 3)
    got = spatial_join(left, window, "intersects", grid=fine)
    assert got.count() == 8


# -- brute-force oracle equivalence --------------------------------------------

def _random_geoms(rng, n, kinds=("point", "poly", "holed")):
    rows = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        cx, cy = rng.uniform(-10, 10, 2)
        if kind == "point":
            g = W.point(cx, cy)
        elif kind == "holed":
            # polygon with an interior ring: exercises every predicate's
            # hole handling through the full join plan (round-1 finding)
            r = rng.uniform(0.8, 1.8)
            shell = [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r)]
            h = r * rng.uniform(0.25, 0.45)
            hole = [(cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h), (cx - h, cy + h)]
            g = W.polygon(shell, holes=[hole])
        else:
            r = rng.uniform(0.3, 1.5)
            angles = np.sort(rng.uniform(0, 2 * np.pi, rng.integers(4, 7)))
            pts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a in angles]
            g = W.polygon(pts)
        rows.append((i, kind, W.dumps(g)))
    return rows


@pytest.mark.parametrize("predicate", ["intersects", "contains", "within", "covers", "overlaps", "touches", "equals"])
def test_oracle_equivalence(spark, predicate):
    rng = np.random.default_rng(42)
    lrows = _random_geoms(rng, 60)
    rrows = _random_geoms(rng, 60)
    expected = set()
    for li, _, lw in lrows:
        lg = W.loads(lw)
        for ri, _, rw in rrows:
            if K.predicate_pair(predicate, lg, W.loads(rw)):
                expected.add((li, ri))
    left = spark.createDataFrame(
        [(i, bytearray(b)) for i, _, b in lrows], "lid int, wkb binary"
    )
    right = spark.createDataFrame(
        [(i, bytearray(b)) for i, _, b in rrows], "rid int, wkb binary"
    )
    grid = Grid(-12.0, -12.0, 12.01, 12.01, 4)
    got = {
        (r.lid, r.rid)
        for r in spatial_join(left, right, predicate, grid=grid).select("lid", "rid").collect()
    }
    assert got == expected


def test_oracle_distance_join(spark):
    rng = np.random.default_rng(7)
    lx, ly = rng.uniform(-10, 10, 80), rng.uniform(-10, 10, 80)
    rx, ry = rng.uniform(-10, 10, 80), rng.uniform(-10, 10, 80)
    r = 1.5
    d = np.hypot(lx[:, None] - rx[None, :], ly[:, None] - ry[None, :])
    expected = set(zip(*np.nonzero(d <= r)))
    left = spark.createDataFrame(
        [(int(i), bytearray(b)) for i, b in enumerate(W.points_to_wkb(lx, ly))],
        "lid int, wkb binary",
    )
    right = spark.createDataFrame(
        [(int(i), bytearray(b)) for i, b in enumerate(W.points_to_wkb(rx, ry))],
        "rid int, wkb binary",
    )
    grid = Grid(-12.0, -12.0, 12.01, 12.01, 4)
    got = {
        (r_.lid, r_.rid)
        for r_ in distance_join(left, right, r, grid=grid).select("lid", "rid").collect()
    }
    assert got == expected
    # the other join types, through the same back-join finish as spatial_join
    matched = set(np.nonzero((d <= r).any(axis=1))[0].tolist())
    unmatched = set(range(len(lx))) - matched
    for how in ("left_semi", "left_anti", "left_outer", "existence"):
        rows = distance_join(left, right, r, grid=grid, how=how).collect()
        if how == "left_semi":
            assert sorted(x.lid for x in rows) == sorted(matched)
        elif how == "left_anti":
            assert sorted(x.lid for x in rows) == sorted(unmatched)
        elif how == "left_outer":
            assert {(x.lid, x.rid) for x in rows if x.rid is not None} == expected
            assert sorted(x.lid for x in rows if x.rid is None) == sorted(unmatched)
            assert len(rows) == len(expected) + len(unmatched)
        else:
            assert sorted((x.lid, x.exists) for x in rows) == [
                (i, i in matched) for i in range(len(lx))
            ]


def test_circle_mode_clamps_radius(spark):
    # CircleRDD clamp (Circle.java:76-81): a 4x4 polygon with tiny given radius
    # still matches points within its bbox half-diagonal (2*sqrt(2)) of center.
    left = spark.createDataFrame(
        [(0, bytearray(W.dumps(W.box(0, 0, 4, 4))))], "lid int, wkb binary"
    )
    right = spark.createDataFrame(
        [(0, bytearray(W.dumps(W.point(4.5, 2.0))))], "rid int, wkb binary"
    )
    grid = Grid(-1.0, -1.0, 6.01, 6.01, 3)
    # distance from center (2,2) = 2.5 < clamp 2*sqrt(2)=2.828 -> match
    assert distance_join(left, right, 0.1, grid=grid, mode="circle").count() == 1
    # true-distance mode: point is 0.5 from polygon, radius 0.1 -> no match
    assert distance_join(left, right, 0.1, grid=grid, mode="distance").count() == 0


def test_circle_mode_unusable_radius_matches_nothing(spark):
    """The clamp applies to a usable radius only: a NULL, negative, NaN or
    infinite radius matches nothing in circle mode, as in distance mode, and
    the row comes back unmatched in ``left_outer``."""
    left = spark.createDataFrame(
        [(i, 1.0, 1.0, r) for i, r in enumerate([None, -5.0, float("nan"), float("inf"), 0.5])],
        "lid int, x double, y double, rad double",
    ).withColumn("wkb", F.lit(bytearray(W.dumps(W.point(1.0, 1.0)))))
    right = spark.createDataFrame([(0, 1.0, 1.0)], "rid int, x double, y double")
    grid = Grid(-1.0, -1.0, 6.01, 6.01, 3)
    for mode in ("circle", "distance"):
        inner = distance_join(left, right, "rad", grid=grid, mode=mode,
                              left_point_cols=("x", "y"), right_point_cols=("x", "y"))
        assert sorted(r.lid for r in inner.collect()) == [4], mode
        outer = distance_join(left, right, "rad", grid=grid, mode=mode, how="left_outer",
                              left_point_cols=("x", "y"), right_point_cols=("x", "y"))
        assert sorted((r.lid, r.rid) for r in outer.collect()) == [
            (0, None), (1, None), (2, None), (3, None), (4, 0)], mode


# -- join types / broadcast -----------------------------------------------------

def test_semi_anti_outer(spark):
    zones = _zones_df(spark)
    pts = _points_df(spark, 2.5, 2.5).limit(100)
    semi = spatial_join(zones, pts, "contains", grid=GRID, how="left_semi")

    anti = spatial_join(zones, pts, "contains", grid=GRID, how="left_anti")
    assert semi.count() + anti.count() == 200
    outer = spatial_join(zones, pts, "contains", grid=GRID, how="left_outer")
    assert outer.count() == anti.count() + spatial_join(zones, pts, "contains", grid=GRID).count()


# -- broadcast index probe vs the shuffled cell path ---------------------------

_ID_EDGES = (-(2**63), 2**63 - 1)


def _attr(i):
    """An attribute double: NaN on every third row, NULL on every seventh."""
    return None if i % 7 == 6 else float("nan") if i % 3 == 0 else i / 4


def _hazard_polys(spark, id_name, shift):
    """Polygons (plus one line and one point) carrying the join hazards:
    long ids at both int64 limits, a duplicate and a NULL id; a NULL
    geometry; one concave polygon covering most of the grid; squares
    sharing edges and vertices with a neighbour; geometries outside GRID;
    NaN and NULL attribute doubles."""
    s = shift
    geoms = [W.box(x + s, y + s, x + s + 5, y + s + 5) for x in range(0, 80, 20) for y in range(0, 80, 20)]
    geoms += [
        W.box(5 + s, 0, 10 + s, 5),  # shares an edge with the first square
        W.box(5, 5, 8, 8),  # shares a vertex with it
        W.box(21, 21, 24, 24),  # inside a square
        W.polygon([(2, 2), (90, 2), (90, 10), (10, 10), (10, 90), (2, 90)]),  # many cells
        W.box(120 + s, 120, 130 + s, 130),
        W.box(-20, -20 + s, -10, -10 + s),
        W.linestring([(0, 50 + s), (100, 50 + s)]),
        W.point(20, 20),
    ]
    ids = list(range(len(geoms)))
    ids[0], ids[1], ids[2], ids[3] = _ID_EDGES[0], _ID_EDGES[1], 7, 7
    rows = [(i, _attr(k), bytearray(W.dumps(g))) for k, (i, g) in enumerate(zip(ids, geoms))]
    rows += [(None, float("nan"), bytearray(W.dumps(W.box(40, 40, 45, 45)))), (99, 1.0, None)]
    return spark.createDataFrame(rows, f"{id_name} long, val double, wkb binary")


def _hazard_points(spark):
    """Lattice points on the squares' vertices and edges, points outside
    GRID, and NULL rows, as coordinates and as WKB, with NaN and NULL
    attribute doubles."""
    xy = [(float(x), float(y)) for x in range(0, 100, 5) for y in range(0, 100, 5)]
    xy += [(2.5, 2.5), (-15.0, -15.0), (125.0, 125.0), (150.0, 5.0)]
    rows = [(i, x, y, _attr(i), bytearray(W.dumps(W.point(x, y)))) for i, (x, y) in enumerate(xy)]
    rows[0] = (_ID_EDGES[0],) + rows[0][1:]
    rows[1] = (_ID_EDGES[1],) + rows[1][1:]
    rows += [(None, 1.0, 1.0, float("nan"), bytearray(W.dumps(W.point(1.0, 1.0)))),
             (5, None, None, None, None)]
    return spark.createDataFrame(rows, "qid long, x double, y double, val double, wkb binary")


_HOWS = ("inner", "left_semi", "left_anti", "left_outer", "right_outer", "existence")
_POLY_PREDICATES = tuple(p for p in K.PREDICATES if p != "disjoint")

# (left, right, predicate, how, index side, extra spatial_join kwargs)
_PARITY_CASES = (
    [("zones", "points", "contains", "inner", "left", {})]
    + [("polys", "polys_b", p, "inner", "right", {}) for p in _POLY_PREDICATES]
    + [("polys", "polys_b", "intersects", h, ("left", "right")[i % 2], {}) for i, h in enumerate(_HOWS)]
    + [("polys", "points_wkb", p, "inner", "left", {}) for p in ("contains", "covers", "touches")]
    + [("points_wkb", "polys", p, h, "right", {}) for p, h in (("within", "left_anti"), ("coveredby", "right_outer"))]
    + [("polys", "points_xy", p, h, "left", {"right_point_cols": ("x", "y")})
       for p, h in (("contains", "inner"), ("intersects", "existence"), ("touches", "left_outer"),
                    ("covers", "right_outer"))]
    + [("polys", "points_xy", "contains", h, "left",
        {"right_point_cols": ("x", "y"), "left_cover": "shape"}) for h in ("inner", "left_semi")]
    + [("polys", "polys_b", "intersects", "inner", "right", {"grid": None}),
       ("polys", "points_xy", "covers", "left_outer", "left", {"right_point_cols": ("x", "y"), "grid": None})]
    + [("empty", "polys_b", "intersects", "left_outer", "left", {}),
       ("polys", "empty", "intersects", "right_outer", "left", {}),
       ("empty", "polys_b", "intersects", "inner", "right", {})]
)


@pytest.fixture(scope="module")
def parity_sides(spark):
    pts = _hazard_points(spark)
    polys = _hazard_polys(spark, "aid", 0)
    sides = {
        "zones": _zones_df(spark),
        "points": _points_df(spark, 2.5, 2.5),
        "polys": polys,
        "polys_b": _hazard_polys(spark, "bid", 3),
        "points_xy": pts.drop("wkb"),
        "points_wkb": pts.drop("x", "y"),
        "empty": polys.where(F.lit(False)),
    }
    # cached and counted, every side has optimizer statistics, so the
    # stat-less limit-count rule never picks the probe for the baseline
    sides = {k: df.persist() for k, df in sides.items()}
    for df in sides.values():
        df.count()
    yield sides
    for df in sides.values():
        df.unpersist()


@pytest.mark.parametrize(
    "lname, rname, pred, how, side, kw",
    _PARITY_CASES,
    ids=[f"{c[0]}-{c[1]}-{c[2]}-{c[3]}-{c[4]}" + ("-shape" if "left_cover" in c[5] else "")
         + ("-inferred_grid" if "grid" in c[5] else "") for c in _PARITY_CASES],
)
def test_broadcast_matches_partitioned(spark, parity_sides, lname, rname, pred, how, side, kw):
    """The broadcast index probe (a hinted side) returns the rows, column
    names and types of the shuffled cell join (auto-broadcast off), for
    every join form, predicate, index side and hazard (NaN attributes stay
    NaN, not NULL, on either side).  Outside geometries
    clamp to the border cells of either plan's grid, given or inferred (the
    probe infers it from the index side alone)."""
    left, right = parity_sides[lname], parity_sides[rname]
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        kw = {"grid": GRID, **kw}  # grid=None: each plan infers its own grid
        cell = spatial_join(left, right, pred, how=how, **kw)
        probe = spatial_join(left, right, pred, how=how, broadcast=side, **kw)
        plans = [df._jdf.queryExecution().executedPlan().toString() for df in (cell, probe)]
        assert "MapInArrow" not in plans[0] and "MapInArrow" in plans[1]
        # str keeps NULL and NaN apart and compares NaN equal to NaN
        key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
        want, got = sorted(map(key, cell.collect())), sorted(map(key, probe.collect()))
    finally:
        spark.conf.set(conf, old)
    assert probe.columns == cell.columns and probe.dtypes == cell.dtypes
    assert got == want
    if (lname, rname) == ("zones", "points"):
        assert len(got) == 400


def test_range_query(spark):
    pts = _points_df(spark, 2.5, 2.5)
    win = W.dumps(W.box(0, 0, 30, 30))
    got = range_query(pts, win, "within", invert_args=False)
    # points at (x+2.5, y+2.5) for x,y in {0,10,20} -> 9 cells x 2 tags
    assert got.count() == 18


def test_auto_grid_inference(spark):
    zones = _zones_df(spark)
    pts = _points_df(spark, 2.5, 2.5)
    assert spatial_join(zones, pts, "contains").count() == 400


def test_geography_distance_join(spark):
    # two points ~111 km apart (1 deg latitude); radius in METERS
    a = spark.createDataFrame(
        [(0, bytearray(W.dumps(W.point(10.0, 50.0))))], "lid int, wkb binary"
    )
    b = spark.createDataFrame(
        [(0, bytearray(W.dumps(W.point(10.0, 51.0))))], "rid int, wkb binary"
    )
    grid = Grid(0.0, 40.0, 20.01, 60.01, 3)
    assert distance_join(a, b, 120_000.0, grid=grid, geography=True).count() == 1
    assert distance_join(a, b, 100_000.0, grid=grid, geography=True).count() == 0


def test_distance_join_column_radius(spark):
    left = spark.createDataFrame(
        [
            (0, bytearray(W.dumps(W.point(0.0, 0.0))), 5.0),
            (1, bytearray(W.dumps(W.point(50.0, 50.0))), 0.5),
        ],
        "lid int, wkb binary, r double",
    )
    right = spark.createDataFrame(
        [
            (0, bytearray(W.dumps(W.point(3.0, 4.0)))),   # dist 5 from lid 0
            (1, bytearray(W.dumps(W.point(50.0, 51.0)))),  # dist 1 from lid 1
        ],
        "rid int, wkb binary",
    )
    got = {(r.lid, r.rid) for r in distance_join(left, right, "r", grid=GRID).collect()}
    assert got == {(0, 0)}  # 5 <= 5 matches; 1 > 0.5 does not


def test_distance_join_rejects_column_radius(spark):
    """A Column radius never resolved on the cell join (its left columns
    are prefixed there), so it is refused with the way to pass one."""
    left = spark.createDataFrame([(0, 0.0, 0.0, 1.0)], "lid int, x double, y double, r double")
    right = spark.createDataFrame([(0, 0.5, 0.0)], "rid int, x double, y double")
    xy = {"left_point_cols": ("x", "y"), "right_point_cols": ("x", "y")}
    with pytest.raises(TypeError, match=r"left\.withColumn\(name, expr\)"):
        distance_join(left, right, F.col("r"), grid=GRID, **xy)
    with pytest.raises(TypeError, match="left column name"):
        distance_join(left, right, F.col("r") * 2, grid=GRID, **xy)
    assert distance_join(left.withColumn("r2", F.col("r") * 2), right, "r2", grid=GRID, **xy).count() == 1


def test_rectangle_fast_path_matches_kernel_refine(spark):
    """The native rectangle refine must agree with the pandas-UDF kernel
    refine on every predicate for a point set stressing corners, edges,
    eps-offsets and interiors."""
    import itertools

    from incubator_sedona_spark.functions.st import st_polygon_from_envelope
    from incubator_sedona_spark.operators.joins import spatial_join

    eps = 1e-9
    base = [0.0, 2.5, 5.0]
    offs = [0.0, eps / 2, -eps / 2, 3 * eps, -3 * eps, 0.1, -0.1]
    pts = [
        (i, x + dx, y + dy)
        for i, ((x, y), dx, dy) in enumerate(
            itertools.product(itertools.product(base, base), offs, offs)
        )
    ]
    pdf = spark.createDataFrame(pts, "pid long, x double, y double")
    zones = spark.createDataFrame([(0,)], "zid long").select(
        "zid",
        st_polygon_from_envelope(
            F.lit(0.0), F.lit(0.0), F.lit(5.0), F.lit(5.0)
        ).alias("wkb"),
    )
    grid = Grid(-1.0, -1.0, 7.0, 7.0, 2)
    for pred in ("contains", "covers", "intersects", "touches"):
        fast = {
            r.pid
            for r in spatial_join(
                zones, pdf, pred, grid=grid, right_point_cols=("x", "y"),
                left_rect=True,
            ).collect()
        }
        slow = {
            r.pid
            for r in spatial_join(
                zones, pdf, pred, grid=grid, right_point_cols=("x", "y"),
                left_rect=False,
            ).collect()
        }
        assert fast == slow, (pred, fast ^ slow)
    # with stored bbox columns (the GeoParquet-style layout) the whole join
    # plan is Python-free; auto-detection picks the fast path
    zones_bb = zones.select(
        "zid", "wkb",
        F.lit(0.0).alias("xmin"), F.lit(0.0).alias("ymin"),
        F.lit(5.0).alias("xmax"), F.lit(5.0).alias("ymax"),
    )
    j = spatial_join(zones_bb, pdf, "contains", grid=grid, right_point_cols=("x", "y"))
    # project away the wkb payload: with stored bboxes + the rect refine the
    # geometry bytes are never touched, so pruning yields a Python-free plan
    plan = j.select("zid", "pid")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_broadcast_probe_keeps_values_exact(spark):
    """The index probe carries every column type as Arrow, so values come
    back exactly on either side: a NaN double stays NaN (not NULL) next to a
    NULL, longs past 2^53 stay exact alone, in an array, a struct and a map,
    and a timestamp past 2262, a decimal and a date round-trip."""
    import datetime
    import decimal
    import math

    big = 2**53 + 1
    box = bytearray(W.dumps(W.box(0, 0, 2, 2)))
    side = spark.createDataFrame(
        [(big, float("nan"), [big, None], (big,), {"k": big}, datetime.datetime(3000, 1, 1),
          decimal.Decimal("1.25"), datetime.date(2999, 1, 2), box),
         (None, None, None, (None,), None, None, None, None, box)],
        "id long, d double, arr array<long>, st struct<a:long>, m map<string,long>, "
        "ts timestamp, dec decimal(10,2), dt date, wkb binary",
    ).coalesce(1)
    other = spark.createDataFrame([(1, float("nan"), box)], "rid long, d double, wkb binary")
    cols = [c for c in side.columns if c != "wkb"]
    for index in ("left", "right"):
        j = spatial_join(side, other, "intersects", grid=GRID, broadcast=index)
        assert "MapInArrow" in j._jdf.queryExecution().executedPlan().toString()
        got = sorted(j.select(*cols, "d_r").collect(), key=str)
        want = sorted(side.select(*cols).collect(), key=str)
        # NaN != NaN, so compare reprs, which also keep NaN and NULL apart
        assert [str(r[:-1]) for r in got] == [str(tuple(r)) for r in want]
        assert all(math.isnan(r.d_r) for r in got)


# -- broadcast distance probe vs the shuffled cell path ------------------------

DGRID = Grid(0.0, 0.0, 40.01, 40.01, 3)


def _arrow_side(spark, cols):
    """An Arrow-built side (it carries optimizer statistics) from
    ``{name: (arrow type, values)}``."""
    return spark.createDataFrame(pa.table({k: pa.array(v, t) for k, (t, v) in cols.items()}))


def _distance_points(spark, id_name, shift, null_wkb=True, nonfinite_radius=False):
    """Points on a 5-step lattice (every neighbour at exactly r = 5; with
    ``shift`` (3, 4) a 3-4-5 triangle to each left point), coincident
    points, NULL, NaN and +-inf coordinates, points outside DGRID, ids at
    -2^63, 2^53+1 and 2^63-1 plus a duplicate and a NULL, a NaN and NULL
    attribute double, a radius column holding NULL, 0 and negative values
    (and, with ``nonfinite_radius``, NaN, +inf, -inf, -1.0 and NULL on
    five finite lattice points), and a WKB column (with a NULL on a finite
    point if ``null_wkb``)."""
    sx, sy = shift
    xy = [(float(x + sx), float(y + sy)) for x in range(0, 40, 5) for y in range(0, 40, 5)]
    xy += [(10.0, 10.0), (10.0, 10.0), (-30.0, -30.0), (80.0, 10.0), (-27.0, -26.0),
           (None, None), (float("nan"), 5.0), (5.0, float("inf")), (float("-inf"), 0.0)]
    n = len(xy)
    ids = list(range(n))
    ids[0], ids[1], ids[2], ids[3], ids[4] = -(2**63), 2**53 + 1, 2**63 - 1, 7, None
    rad = [5.0 if i % 4 else 2.5 for i in range(n)]
    rad[5], rad[6], rad[7], rad[8] = None, 0.0, -1.0, 7.5
    if nonfinite_radius:
        rad[10:15] = [float("nan"), float("inf"), float("-inf"), -1.0, None]
    wkb = [None if x is None else W.dumps(W.point(x, y)) for x, y in xy]
    if null_wkb:
        wkb[9] = None
    return _arrow_side(spark, {
        id_name: (pa.int64(), ids),
        "x": (pa.float64(), [p[0] for p in xy]),
        "y": (pa.float64(), [p[1] for p in xy]),
        "val": (pa.float64(), [_attr(i) for i in range(n)]),
        "rad": (pa.float64(), rad),
        "wkb": (pa.binary(), wkb),
    })


def _distance_polys(spark):
    """Boxes, an L-shaped polygon, a line, a polygon outside DGRID and a
    NULL geometry, with NaN and NULL attribute doubles."""
    geoms = [W.box(x, y, x + 3, y + 2) for x in range(0, 40, 9) for y in range(0, 40, 11)]
    geoms += [W.polygon([(1, 1), (30, 1), (30, 4), (4, 4), (4, 30), (1, 30)]),
              W.linestring([(0, 20), (40, 21)]), W.box(60, 60, 70, 70), None]
    n = len(geoms)
    return _arrow_side(spark, {
        "gid": (pa.int64(), list(range(n))),
        "val": (pa.float64(), [_attr(i) for i in range(n)]),
        "wkb": (pa.binary(), [None if g is None else W.dumps(g) for g in geoms]),
    })


_XY = {"left_point_cols": ("x", "y"), "right_point_cols": ("x", "y")}

# (case id, left, right, radius, how, index side or "auto", extra kwargs)
_DISTANCE_CASES = (
    [(f"xy-r5-boundary_{b}", "pts", "pts_b", 5.0, "inner", "right", {**_XY, "include_boundary": b})
     for b in (True, False)]
    + [(f"xy-coincident_r0-boundary_{b}", "pts", "pts_c", 0.0, "inner", "left",
        {**_XY, "include_boundary": b}) for b in (True, False)]
    + [(f"xy-column_radius-{side}", "pts", "pts_b", "rad", "inner", side, _XY)
       for side in ("left", "right")]
    + [("xy-column_radius-exclusive", "pts", "pts_c", "rad", "inner", "left",
        {**_XY, "include_boundary": False})]
    + [(f"xy-{h}-{('left', 'right')[i % 2]}", "pts", "pts_b", 5.0, h, ("left", "right")[i % 2], _XY)
       for i, h in enumerate(_HOWS)]
    + [("xy-auto_side", "pts", "pts_b", 5.0, "inner", "auto", _XY)]
    + [(f"xy-inferred_grid-{side}", "pts", "pts_b", 5.0, "inner", side, {**_XY, "grid": None})
       for side in ("left", "right")]
    + [("wkb_points-r5", "pts", "pts_b", 5.0, "inner", "right", {})]
    + [(f"polys_x_points-{h}-{side}", "polys", "pts", 2.0, h, side, {})
       for h, side in (("inner", "left"), ("inner", "right"), ("existence", "left"),
                       ("right_outer", "right"))]
    + [("points_x_polys-column_radius", "pts", "polys", "rad", "left_outer", "right", {}),
       ("polys_x_xy-inferred_grid", "polys", "pts_xy", 1.5, "inner", "left",
        {"right_point_cols": ("x", "y"), "grid": None})]
    + [("empty_index", "pts", "empty", 5.0, "inner", "right", _XY),
       ("empty_stream", "pts", "empty", 5.0, "right_outer", "left", _XY),
       ("empty_index-left_outer", "empty", "pts_b", 5.0, "left_outer", "left", _XY)]
    # a coordinate side's pairs with a polygon use its coordinates: its WKB
    # column (NULL on a finite point here) is never read
    + [("polys_x_xy-null_wkb", "polys", "pts", 1.5, "inner", "left", {"right_point_cols": ("x", "y")})]
    # one rule on both plans: a NULL, NaN, infinite or negative radius
    # matches nothing, and such a row comes back unmatched in an outer form
    + [(f"xy-nonfinite_radius-{side}", "pts_nf", "pts_b", "rad", "inner", side, _XY)
       for side in ("left", "right")]
    + [(f"xy-literal_{name}_radius", "pts", "pts_b", float(name), "left_outer", "right", _XY)
       for name in ("nan", "inf")]
)


@pytest.fixture(scope="module")
def distance_sides(spark):
    pts = _distance_points(spark, "aid", (0, 0))
    return {
        "pts": pts,
        "pts_b": _distance_points(spark, "bid", (3, 4)),
        "pts_c": _distance_points(spark, "cid", (0, 0)),
        # a coordinate side whose WKB column holds its points ("pts" has a
        # NULL WKB on a finite point; neither plan reads it)
        "pts_xy": _distance_points(spark, "cid", (0, 0), null_wkb=False),
        "pts_nf": _distance_points(spark, "aid", (0, 0), nonfinite_radius=True),
        "polys": _distance_polys(spark),
        "empty": pts.where(F.lit(False)),
    }


@pytest.mark.parametrize(
    "lname, rname, radius, how, side, kw",
    [c[1:] for c in _DISTANCE_CASES],
    ids=[c[0] for c in _DISTANCE_CASES],
)
def test_distance_probe_matches_cell_join(spark, distance_sides, lname, rname, radius, how, side, kw):
    """The broadcast distance probe (a hinted side, or the side Catalyst
    would broadcast) returns the rows, names, types and exact
    ``emit_distance`` values of the shuffled cell join (auto-broadcast
    off): exact-boundary pairs under ``<=`` and ``<``, coincident points at
    r = 0, a radius column with NULL, 0 and negative values, NULL, NaN and
    infinite coordinates, NULL WKB (also on a coordinate side, whose
    coordinates define its points), NaN, infinite and negative radii in a
    column or as a literal, int64-limit and duplicate ids, points outside
    the grid, WKB polygons against points, empty sides, every ``how`` and
    either index side."""
    left, right = distance_sides[lname], distance_sides[rname]
    kw = {"grid": DGRID, "how": how, **kw}
    if how in ("inner", "left_outer", "right_outer"):
        kw["emit_distance"] = "dist"
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        cell = distance_join(left, right, radius, **kw)
        cell_rows = cell.collect()
    finally:
        spark.conf.set(conf, old)
    probe = distance_join(left, right, radius, broadcast=None if side == "auto" else side, **kw)
    plans = [df._jdf.queryExecution().executedPlan().toString() for df in (cell, probe)]
    assert "MapInArrow" not in plans[0] and "MapInArrow" in plans[1]
    # str keeps NULL and NaN apart, compares NaN equal to NaN and spells
    # every double exactly
    key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
    want, got = sorted(map(key, cell_rows)), sorted(map(key, probe.collect()))
    assert probe.columns == cell.columns and probe.dtypes == cell.dtypes
    assert got == want
    # d < 0 holds for no pair: that case is empty on both plans
    if "empty" not in (lname, rname) and how == "inner" and (radius or kw.get("include_boundary", True)):
        assert got, "a parity case with no pairs shows nothing"


def test_join_operators_declare_no_pandas_udf():
    """The join operators run their refines through ``functions._udf``'s
    NULL-safe boundary (``geom_batch_udf``) and the probes' ``mapInArrow``:
    neither module declares a ``pandas_udf`` of its own."""
    import ast
    import pathlib

    import incubator_sedona_spark.operators as ops

    found = []
    for name in ("joins.py", "knn.py"):
        tree = ast.parse((pathlib.Path(ops.__file__).parent / name).read_text(), name)
        decorated = {  # decorator line -> the function it declares
            d.lineno: f.name
            for f in ast.walk(tree) if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            for d in f.decorator_list
        }
        found += sorted({
            f"{name}:{n.lineno} {decorated.get(n.lineno, '')}".rstrip()
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "pandas_udf"
            or isinstance(n, ast.Name) and n.id == "pandas_udf"
            or isinstance(n, ast.alias) and n.name == "pandas_udf"
        })
    assert not found, found


# -- plan shape: Python nodes and exchanges per join form --------------------------

def _xy_df(spark, seed, id_name):
    xy = np.random.default_rng(seed).uniform(0, 100, (200, 2))
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        f"{id_name} long, x double, y double",
    )


def _plan_shape_join(spark, form):
    pts = _xy_df(spark, 1, "pid")
    if form == "rect_window_points":
        return spatial_join(
            _zones_df(spark), pts, "contains", grid=GRID, right_point_cols=("x", "y"),
            left_rect=True,
        )
    if form in ("point_distance", "broadcast_point_distance"):
        return distance_join(
            pts, _xy_df(spark, 2, "qid"), 2.0, grid=GRID,
            left_point_cols=("x", "y"), right_point_cols=("x", "y"),
            broadcast="right" if form == "broadcast_point_distance" else None,
        )
    if form in ("wkb_polygons", "broadcast_wkb_polygons"):
        return spatial_join(
            _squares_df(spark, 0, 0, 5), _squares_df(spark, 3, 3, 5), "intersects", grid=GRID,
            broadcast="right" if form == "broadcast_wkb_polygons" else None,
        )
    # concave (L-shaped) zones: the kernel refine runs, not the rectangle path
    ells = [
        (i, bytearray(W.dumps(W.polygon(
            [(x, y), (x + 8, y), (x + 8, y + 3), (x + 3, y + 3), (x + 3, y + 8), (x, y + 8)]
        ))))
        for i, (x, y) in enumerate((x, y) for x in range(0, 90, 10) for y in range(0, 90, 10))
    ]
    zones = spark.createDataFrame(ells, "zid long, wkb binary")
    return spatial_join(
        zones, pts, "contains", grid=GRID, right_point_cols=("x", "y"), left_rect=False
    )


# forms planned as the broadcast index probe: one mapInArrow, no exchange
_MAP_IN_ARROW = {"broadcast_wkb_polygons": 1, "concave_pip": 1, "broadcast_point_distance": 1}


@pytest.mark.parametrize(
    "form, python_nodes, exchanges",
    [
        ("rect_window_points", 1, 1),  # zones' bbox UDF; broadcast build
        ("point_distance", 0, 2),  # stat-less sides: zero-UDF, shuffled both sides
        ("broadcast_point_distance", 0, 0),  # hinted: the index probe
        ("wkb_polygons", 3, 2),  # stat-less sides: the shuffled cell path
        ("broadcast_wkb_polygons", 0, 0),  # hinted: the index probe
        ("concave_pip", 0, 0),  # stat-less small zones: the index probe
    ],
)
def test_join_plan_shape(spark, form, python_nodes, exchanges):
    """Pins how many Python-UDF nodes, mapInArrow nodes and exchanges each
    join form plans, so a refactor cannot silently clone a UDF, add a Python
    runner to a stage or add a shuffle."""
    plan = _plan_shape_join(spark, form)._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for ln in filter(str.strip, plan.splitlines()):
        # "*(2) Project": a codegen stage id precedes the node in a plan
        # that AQE does not wrap (no exchange)
        m = re.match(r"[\s:|+*()\d-]*(\w+)", ln)
        assert m, f"unparsed plan line {ln!r} in\n{plan}"
        nodes.append(m.group(1))
    assert sum(n in ("ArrowEvalPython", "BatchEvalPython") for n in nodes) == python_nodes, plan
    assert nodes.count("MapInArrow") == _MAP_IN_ARROW.get(form, 0), plan
    assert sum(n.endswith("Exchange") for n in nodes) == exchanges, plan
