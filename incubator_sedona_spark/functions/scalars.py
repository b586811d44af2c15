"""Long-tail scalar functions: ST_IsSimple / ST_IsClosed / ST_IsRing,
ST_Angle, ST_BoundingDiagonal, ST_NRings, the spheroid family
(ST_DistanceSpheroid / ST_AreaSpheroid / ST_LengthSpheroid) and
ST_GeomFromGeoHash.

Reference surface and semantics:
- isClosed/isRing/isSimple: Functions.java:359-378 (Point/MultiPoint/
  Polygon/MultiPolygon are closed-by-definition; GeometryCollection false;
  isRing = LineString && closed && simple; polygonal geometry is simple by
  definition per JTS IsSimpleOp).
- angle: Functions.java:1001-1025 + GeomUtils.calcAngle:474-485 (azimuth
  difference normalized to [0, 2pi); the 3-point form measures at the middle
  point).
- boundingDiagonal: Functions.java:969-998 (min->max corner LineString,
  Z-aware).
- nRings: Functions.java:881-898 (shell+holes summed over polygons).
- spheroid family: common/.../sphere/Spheroid.java — the reference delegates
  to GeographicLib (Karney 2013) on WGS84; here distance uses Vincenty's
  inverse formula on WGS84 (agrees with Karney to <1 mm except near-antipodal
  pairs, where Vincenty may not converge and we fall back to the great-circle
  distance on the mean radius).  NOTE the reference feeds coordinates as
  (lat=X, lon=Y) (Spheroid.java:47-52) — mirrored here for parity.
  areaSpheroid maps geodetic latitudes to EXACT authalic latitudes (Snyder
  1987 eq 3-11/3-12) before the spherical-excess sum on the authalic sphere
  (R=6371007.1809 m): parallel/meridian-bounded regions are exact to ~1e-12
  relative; the only residual is that polygon edges follow authalic-sphere
  great circles instead of ellipsoidal geodesics (~0.1% worst case at
  continental edge lengths, negligible at parcel scale).
- ST_GeomFromGeoHash: utils/GeoHashDecoder.java — base32 bit interleave to
  the cell bbox polygon, optional precision truncation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
)

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import wkb as W

# -- predicates ----------------------------------------------------------------


def _segments(arr: np.ndarray) -> np.ndarray:
    return np.concatenate([arr[:-1, :2], arr[1:, :2]], axis=1)


def _segs_touch(s1, s2) -> bool:
    """True if two segments share any point (including endpoints)."""
    ax, ay, bx, by = s1
    cx, cy, dx, dy = s2

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = orient(cx, cy, dx, dy, ax, ay)
    d2 = orient(cx, cy, dx, dy, bx, by)
    d3 = orient(ax, ay, bx, by, cx, cy)
    d4 = orient(ax, ay, bx, by, dx, dy)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True

    def on_seg(px, py, qx, qy, rx, ry):
        return (
            min(px, qx) <= rx <= max(px, qx)
            and min(py, qy) <= ry <= max(py, qy)
        )

    if d1 == 0 and on_seg(cx, cy, dx, dy, ax, ay):
        return True
    if d2 == 0 and on_seg(cx, cy, dx, dy, bx, by):
        return True
    if d3 == 0 and on_seg(ax, ay, bx, by, cx, cy):
        return True
    if d4 == 0 and on_seg(ax, ay, bx, by, dx, dy):
        return True
    return False


def _linestring_is_simple(arr: np.ndarray) -> bool:
    """JTS IsSimpleOp for a single LineString: no two non-adjacent segments
    intersect; adjacent segments may share only their common vertex; a closed
    ring's first/last segments may share the closing endpoint."""
    pts = arr[:, :2]
    n = len(pts) - 1  # segment count
    if n <= 0:
        return True
    closed = bool(np.array_equal(pts[0], pts[-1]))
    segs = _segments(arr)
    for i in range(n):
        for j in range(i + 1, n):
            adjacent = j == i + 1 or (closed and i == 0 and j == n - 1)
            if adjacent:
                # adjacent segments legitimately share one endpoint; any
                # OTHER contact (collinear overlap, doubling back) breaks
                # simplicity — midpoint probes detect interior overlap
                mi = (segs[i][:2] + segs[i][2:]) / 2.0
                mj = (segs[j][:2] + segs[j][2:]) / 2.0
                if _point_on_segment(mi, segs[j]) or _point_on_segment(mj, segs[i]):
                    return False
                continue
            if _segs_touch(segs[i], segs[j]):
                return False
    return True


def _point_on_segment(p, seg) -> bool:
    x1, y1, x2, y2 = seg
    cross = (x2 - x1) * (p[1] - y1) - (y2 - y1) * (p[0] - x1)
    if abs(cross) > 1e-12 * max(1.0, abs(x2 - x1) + abs(y2 - y1)):
        return False
    return min(x1, x2) - 1e-12 <= p[0] <= max(x1, x2) + 1e-12 and (
        min(y1, y2) - 1e-12 <= p[1] <= max(y1, y2) + 1e-12
    )


def geometry_is_simple(g: W.Geometry) -> bool:
    if g.kind == W.POINT:
        return True
    if g.kind == W.MULTIPOINT:
        seen = {tuple(c.parts[0, :2]) for c in g.parts}
        return len(seen) == len(g.parts)
    if g.kind == W.LINESTRING:
        return _linestring_is_simple(g.parts)
    if g.kind == W.MULTILINESTRING:
        if not all(_linestring_is_simple(c.parts) for c in g.parts):
            return False
        # components may only touch at endpoints (JTS boundary rule): any
        # mid-segment contact between two components breaks simplicity
        for i, a in enumerate(g.parts):
            for b in g.parts[i + 1 :]:
                sa, sb = _segments(a.parts), _segments(b.parts)
                for s1 in sa:
                    for s2 in sb:
                        if _segs_touch(s1, s2):
                            p_ends = {
                                tuple(a.parts[0, :2]),
                                tuple(a.parts[-1, :2]),
                                tuple(b.parts[0, :2]),
                                tuple(b.parts[-1, :2]),
                            }
                            mid_contact = True
                            for e in p_ends:
                                if _point_on_segment(np.array(e), s1) and _point_on_segment(np.array(e), s2):
                                    mid_contact = False
                            if mid_contact:
                                return False
        return True
    # polygonal geometry and collections of them are simple by definition
    if g.kind in (W.POLYGON, W.MULTIPOLYGON):
        return True
    return all(geometry_is_simple(c) for c in g.parts)


def geometry_is_closed(g: W.Geometry) -> bool:
    if g.kind in (W.POINT, W.MULTIPOINT, W.POLYGON, W.MULTIPOLYGON):
        return True
    if g.kind == W.LINESTRING:
        return len(g.parts) >= 2 and bool(np.array_equal(g.parts[0, :2], g.parts[-1, :2]))
    if g.kind == W.MULTILINESTRING:
        return all(geometry_is_closed(c) for c in g.parts)
    return False  # GeometryCollection


def st_is_simple(wkb_col: Column) -> Column:
    return geom_udf(BooleanType(), geometry_is_simple)(wkb_col)


def st_is_closed(wkb_col: Column) -> Column:
    return geom_udf(BooleanType(), geometry_is_closed)(wkb_col)


def st_is_ring(wkb_col: Column) -> Column:
    def _ring(g: W.Geometry) -> bool:
        return g.kind == W.LINESTRING and geometry_is_closed(g) and geometry_is_simple(g)

    return geom_udf(BooleanType(), _ring)(wkb_col)


# -- angle / diagonal / rings ----------------------------------------------------


def calc_angle(s1, e1, s2, e2) -> float:
    """GeomUtils.calcAngle: azimuth(s1->e1) - azimuth(s2->e2), each and the
    difference normalized into [0, 2pi)."""

    def norm(a):
        return a + 2 * np.pi if a < 0 else a

    a1 = norm(float(np.arctan2(e1[1] - s1[1], e1[0] - s1[0])))
    a2 = norm(float(np.arctan2(e2[1] - s2[1], e2[0] - s2[0])))
    return norm(a1 - a2)


def st_angle(p1: Column, p2: Column, p3: Column, p4: Column | None = None) -> Column:
    """ST_Angle: 4 points = angle between vectors p1->p2 and p3->p4;
    3 points = angle at p2 from p1 to p3 (Functions.java:1001-1013).
    Radians in [0, 2pi); combine with F.degrees for ST_Degrees."""

    def _angle(*pts: W.Geometry) -> float:
        c = [g.parts[0] for g in pts]
        return calc_angle(c[1], c[0], c[1], c[2]) if len(c) == 3 else calc_angle(*c)

    cols = (p1, p2, p3) if p4 is None else (p1, p2, p3, p4)
    return geom_udf(DoubleType(), _angle)(*cols)


def _bounding_diagonal(g: W.Geometry) -> W.Geometry:
    if g.has_z:
        arrs = []
        for leaf in g.leaves():
            rings = leaf.parts if leaf.kind == W.POLYGON else [leaf.parts]
            arrs.extend(r[:, :3] for r in rings)
        v = np.concatenate(arrs, axis=0)
        return W.Geometry(W.LINESTRING, np.array([v.min(axis=0), v.max(axis=0)]), True, False)
    v = g.vertices()
    return W.Geometry(W.LINESTRING, np.array([v.min(axis=0), v.max(axis=0)]))


def st_bounding_diagonal(wkb_col: Column) -> Column:
    """LineString from the min corner to the max corner (Z-aware)."""
    return geom_udf(BinaryType(), _bounding_diagonal)(wkb_col)


def st_nrings(wkb_col: Column) -> Column:
    """Total ring count (shell + holes) over all polygons (Functions.java:881)."""

    def _n(g: W.Geometry) -> int:
        if g.kind not in (W.POLYGON, W.MULTIPOLYGON):
            raise ValueError("ST_NRings supports Polygon/MultiPolygon only")
        total = 0
        for leaf in g.leaves():
            if leaf.kind == W.POLYGON and len(leaf.parts) and len(leaf.parts[0]):
                total += len(leaf.parts)
        return total

    return geom_udf(IntegerType(), _n)(wkb_col)


def st_num_interior_rings(wkb_col: Column) -> Column:
    """Hole count of a Polygon (null for non-polygons), ST_NumInteriorRings."""
    def _holes(g: W.Geometry):
        return len(g.parts) - 1 if g.kind == W.POLYGON else None

    return geom_udf(IntegerType(), _holes)(wkb_col)


# -- spheroid family -------------------------------------------------------------

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_WGS84_B = _WGS84_A * (1.0 - _WGS84_F)
_AUTHALIC_R = 6371007.1809  # WGS84 authalic sphere radius


def vincenty_inverse(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Geodesic distance (m) on the WGS84 ellipsoid, Vincenty 1975 inverse."""
    if lat1 == lat2 and lon1 == lon2:
        return 0.0
    phi1, phi2 = np.radians(lat1), np.radians(lat2)
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1 - _WGS84_F) * np.tan(phi1))
    U2 = np.arctan((1 - _WGS84_F) * np.tan(phi2))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)
    lam = L
    for _ in range(200):
        sinl, cosl = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cosU2 * sinl) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosl) ** 2
        )
        if sin_sigma == 0:
            return 0.0
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cosl
        sigma = np.arctan2(sin_sigma, cos_sigma)
        sin_alpha = cosU1 * cosU2 * sinl / sin_sigma
        cos2_alpha = 1.0 - sin_alpha**2
        cos_2sm = cos_sigma - 2 * sinU1 * sinU2 / cos2_alpha if cos2_alpha else 0.0
        C = _WGS84_F / 16 * cos2_alpha * (4 + _WGS84_F * (4 - 3 * cos2_alpha))
        lam_prev = lam
        lam = L + (1 - C) * _WGS84_F * sin_alpha * (
            sigma + C * sin_sigma * (cos_2sm + C * cos_sigma * (-1 + 2 * cos_2sm**2))
        )
        if abs(lam - lam_prev) < 1e-12:
            break
    else:
        # near-antipodal non-convergence: great-circle on the mean radius
        return float(
            2
            * 6371008.7714
            * np.arcsin(
                np.sqrt(
                    np.sin((phi2 - phi1) / 2) ** 2
                    + np.cos(phi1) * np.cos(phi2) * np.sin(L / 2) ** 2
                )
            )
        )
    u2 = cos2_alpha * (_WGS84_A**2 - _WGS84_B**2) / _WGS84_B**2
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    Bc = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    d_sigma = Bc * sin_sigma * (
        cos_2sm
        + Bc
        / 4
        * (
            cos_sigma * (-1 + 2 * cos_2sm**2)
            - Bc / 6 * cos_2sm * (-3 + 4 * sin_sigma**2) * (-3 + 4 * cos_2sm**2)
        )
    )
    return float(_WGS84_B * A * (sigma - d_sigma))


def _rep_coord(g: W.Geometry) -> np.ndarray:
    """Point coordinate, or the vertex-mean for non-points (the reference
    uses the centroid; for the distance use case the difference is nil for
    points, which is the documented contract)."""
    if g.kind == W.POINT:
        return g.parts[0, :2]
    return g.vertices().mean(axis=0)


def st_distance_spheroid(a_col: Column, b_col: Column) -> Column:
    """WGS84 geodesic distance in meters.  Reference parity quirk: Sedona
    passes X as latitude and Y as longitude (Spheroid.java:47-52), i.e.
    POINT(lat lon) — mirrored exactly."""

    def _dist(a: W.Geometry, b: W.Geometry) -> float:
        ca, cb = _rep_coord(a), _rep_coord(b)
        return vincenty_inverse(ca[0], ca[1], cb[0], cb[1])

    return geom_udf(DoubleType(), _dist)(a_col, b_col)


def _length_spheroid(g: W.Geometry) -> float:
    total = 0.0
    for leaf in g.leaves():
        if leaf.kind == W.POINT:
            continue
        rings = leaf.parts if leaf.kind == W.POLYGON else [leaf.parts]
        for r in rings:
            for i in range(len(r) - 1):
                total += vincenty_inverse(r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1])
    return total


def st_length_spheroid(wkb_col: Column) -> Column:
    """Sum of per-edge WGS84 geodesic distances (perimeter for polygons),
    ST_LengthSpheroid; same (lat=X, lon=Y) convention as the reference."""
    return geom_udf(DoubleType(), _length_spheroid)(wkb_col)


def _authalic_lat(phi: np.ndarray) -> np.ndarray:
    """Exact authalic latitude (Snyder 1987 eq 3-11/3-12): sin(xi) =
    q(phi)/q(pi/2) on WGS84.  By construction, areas between parallels on
    the authalic sphere EQUAL the ellipsoidal areas — this closes the ~0.3%
    error of feeding geodetic latitudes to the spherical-excess formula."""
    f = 1.0 / 298.257223563  # WGS84
    e = np.sqrt(f * (2.0 - f))

    def q(p):
        s = np.sin(p)
        es = e * s
        return (1 - e * e) * (
            s / (1 - es * es) - np.log((1 - es) / (1 + es)) / (2 * e)
        )

    ratio = np.clip(q(phi) / q(np.pi / 2), -1.0, 1.0)
    return np.arcsin(ratio)


def _ring_area_sphere(r: np.ndarray) -> float:
    """Unsigned ellipsoidal polygon area: geodetic -> exact authalic
    latitude, then l'Huilier/Girard excess on the authalic sphere
    (lat=X, lon=Y in degrees).  Exact for parallel/meridian-bounded
    regions; residual for slanted edges is the authalic-vs-geodesic edge
    deviation (negligible at parcel scale)."""
    lat = _authalic_lat(np.radians(r[:-1, 0]))
    lon = np.radians(r[:-1, 1])
    if len(lat) < 3:
        return 0.0
    # spherical excess via the shoelace-on-sphere formula (Chamberlain &
    # Duquette 2007): sum of lon differences weighted by sin(lat)
    lon_next = np.roll(lon, -1)
    lat_next = np.roll(lat, -1)
    d = lon_next - lon
    # normalize branch cuts
    d = np.where(d > np.pi, d - 2 * np.pi, d)
    d = np.where(d < -np.pi, d + 2 * np.pi, d)
    # Chamberlain & Duquette (2007): A = R^2/2 * |sum (dlon)*(2 + sin(lat1) + sin(lat2))|;
    # checked against R^2 * dlon * d(sin lat) for lat/lon-aligned quads
    excess = np.sum(d * (2 + np.sin(lat) + np.sin(lat_next)))
    return float(abs(excess) * _AUTHALIC_R**2 / 2.0)


def st_area_spheroid(wkb_col: Column) -> Column:
    """Polygon area in m^2 via the exact authalic-latitude mapping (shells
    minus holes).  The reference computes the ellipsoidal area via
    GeographicLib; this form is area-exact for parallel/meridian-bounded
    regions (rel ~1e-12) — the residual is authalic-chord vs geodesic EDGES
    (~0.1% worst case at continental edge lengths).  Same (lat=X, lon=Y)
    convention."""

    def _area(g: W.Geometry) -> float:
        total = 0.0
        for leaf in g.leaves():
            if leaf.kind != W.POLYGON:
                continue
            total += _ring_area_sphere(leaf.parts[0])
            for hole in leaf.parts[1:]:
                total -= _ring_area_sphere(hole)
        return total

    return geom_udf(DoubleType(), _area)(wkb_col)


# -- geohash decode ---------------------------------------------------------------

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32_IDX = {c: i for i, c in enumerate(_B32)}


def geohash_to_bbox(geohash: str, precision: int | None = None):
    """(lon_min, lon_max, lat_min, lat_max) of the cell
    (GeoHashDecoder.java:28-80 parity, including precision truncation)."""
    gh = geohash.lower()
    if precision is not None:
        if precision < 0:
            raise ValueError("precision can not be negative")
        gh = gh[: min(len(gh), precision)]
    lons = [-180.0, 180.0]
    lats = [-90.0, 90.0]
    even = True
    for ch in gh:
        if ch not in _B32_IDX:
            raise ValueError(f"invalid geohash character {ch!r}")
        v = _B32_IDX[ch]
        for bit in (16, 8, 4, 2, 1):
            rng = lons if even else lats
            mid = (rng[0] + rng[1]) / 2.0
            if v & bit:
                rng[0] = mid
            else:
                rng[1] = mid
            even = not even
    return lons[0], lons[1], lats[0], lats[1]


def st_geom_from_geohash(gh_col: Column, precision: int | None = None) -> Column:
    """Geohash cell bbox as a Polygon (ST_GeomFromGeoHash)."""

    def _cell(gh: str) -> W.Geometry:
        x0, x1, y0, y1 = geohash_to_bbox(gh, precision)
        return W.box(x0, y0, x1, y1)

    return geom_udf(BinaryType(), _cell, decode=None)(gh_col)


# -- small accessors (ST_Dimension, ST_IsEmpty, ST_XMin..YMax, ST_Degrees) ---------


def geometry_dimension(g: W.Geometry) -> int:
    """Topological dimension, JTS Geometry.getDimension: 0 points, 1 lines,
    2 polygons; collections take the max over children (empty -> 0)."""
    dims = []
    for leaf in g.leaves():
        if leaf.kind == W.POINT:
            dims.append(0)
        elif leaf.kind == W.LINESTRING:
            dims.append(1)
        else:
            dims.append(2)
    return max(dims, default=0)


def st_dimension(wkb_col: Column) -> Column:
    return geom_udf(IntegerType(), geometry_dimension)(wkb_col)


def st_is_empty(wkb_col: Column) -> Column:
    return geom_udf(BooleanType(), lambda g: len(g.vertices()) == 0)(wkb_col)


def st_xmin(wkb_col: Column) -> Column:
    return geom_udf(DoubleType(), lambda g: g.bounds[0])(wkb_col)


def st_ymin(wkb_col: Column) -> Column:
    return geom_udf(DoubleType(), lambda g: g.bounds[1])(wkb_col)


def st_xmax(wkb_col: Column) -> Column:
    return geom_udf(DoubleType(), lambda g: g.bounds[2])(wkb_col)


def st_ymax(wkb_col: Column) -> Column:
    return geom_udf(DoubleType(), lambda g: g.bounds[3])(wkb_col)


def st_degrees(rad_col: Column) -> Column:
    """ST_Degrees — radians to degrees (pure Catalyst)."""
    return F.degrees(rad_col)


def st_dump_points(wkb_col: Column) -> Column:
    """array<binary> of every vertex as a Point WKB (ST_DumpPoints);
    explode() the result for the row-per-point form."""

    def _points(g: W.Geometry) -> list:
        return [W.dumps(W.point(float(x), float(y))) for x, y in g.vertices()]

    return geom_udf(ArrayType(BinaryType()), _points)(wkb_col)


# -- ST_AsEWKT / ST_AsEWKB ----------------------------------------------------------


def st_as_ewkb(wkb_col: Column) -> Column:
    """EWKB bytes: identical to the stored WKB (the serde already embeds a
    nonzero SRID as the EWKB header flag) — re-serialized for normalization."""
    return geom_udf(BinaryType(), lambda g: g)(wkb_col)


def st_as_ewkt(wkb_col: Column) -> Column:
    """EWKT: 'SRID=nnnn;<wkt>' when an SRID is set, plain WKT otherwise."""
    from incubator_sedona_spark.functions.st import _to_wkt

    def _ewkt(g: W.Geometry) -> str:
        return f"SRID={g.srid};{_to_wkt(g)}" if g.srid else _to_wkt(g)

    return geom_udf(StringType(), _ewkt)(wkb_col)


# -- ST_BuildArea ---------------------------------------------------------------------


def build_area_geometry(g: W.Geometry) -> W.Geometry:
    """Polygons from closed linework (JTS Polygonizer semantics for the
    common case): every closed ring in the input becomes a boundary; ring
    nesting by even-odd containment depth decides shells (even) vs holes
    (odd, attached to their immediately-enclosing shell).  Rings that are
    not closed are ignored (the Polygonizer's dangling-edge behavior)."""
    rings = []
    for leaf in g.leaves():
        cand = leaf.parts if leaf.kind == W.POLYGON else [leaf.parts]
        for r in cand:
            r = np.asarray(r, dtype=np.float64)[:, :2]
            if len(r) >= 4 and np.array_equal(r[0], r[-1]):
                rings.append(r)
    if not rings:
        return W.multi(W.GEOMETRYCOLLECTION, [])

    def _contains(outer: np.ndarray, inner: np.ndarray) -> bool:
        # even-odd test of a point ON the inner ring (its first-edge
        # midpoint): unlike the vertex mean, a boundary point of inner can
        # never lie inside a ring that inner itself encloses, so nesting
        # depth is computed correctly for concentric rings
        px, py = (inner[0, 0] + inner[1, 0]) / 2.0, (inner[0, 1] + inner[1, 1]) / 2.0
        x1, y1 = outer[:-1, 0], outer[:-1, 1]
        x2, y2 = outer[1:, 0], outer[1:, 1]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        return bool(np.count_nonzero(cond & (xs > px)) % 2)

    depth = [sum(1 for j, o in enumerate(rings) if j != i and _contains(o, r))
             for i, r in enumerate(rings)]
    shells = [i for i, d in enumerate(depth) if d % 2 == 0]
    polys = []
    for i in shells:
        holes = [
            rings[j]
            for j, d in enumerate(depth)
            if d == depth[i] + 1 and _contains(rings[i], rings[j])
        ]
        polys.append(W.Geometry(W.POLYGON, [rings[i]] + holes))
    if len(polys) == 1:
        return polys[0]
    return W.multi(W.MULTIPOLYGON, polys)


def st_build_area(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), build_area_geometry)(wkb_col)


# -- ST_SimplifyPreserveTopology ---------------------------------------------------


def st_simplify_preserve_topology(wkb_col: Column, tolerance: float) -> Column:
    """Douglas-Peucker with a validity guard per ring: if simplification
    collapses a ring (< 4 points) or introduces a self-intersection, the
    tolerance is halved and retried (keeping the original ring at the
    floor).  Weaker than JTS TopologyPreservingSimplifier (which also
    preserves cross-component topology) but honors the core contract —
    output polygons stay valid and non-empty.  Documented approximation."""
    from incubator_sedona_spark.functions.st import _dp_simplify

    def _ring_ok(r: np.ndarray) -> bool:
        if len(r) < 4 or not np.array_equal(r[0], r[-1]):
            return False
        return _linestring_is_simple(r)

    def _simp(g: W.Geometry) -> W.Geometry:
        if g.kind == W.POINT:
            return g
        if g.kind == W.LINESTRING:
            return W.Geometry(W.LINESTRING, _dp_simplify(g.parts[:, :2], tolerance))
        if g.kind == W.POLYGON:
            rings = []
            for r in g.parts:
                tol = tolerance
                out = _dp_simplify(r[:, :2], tol)
                while not _ring_ok(out) and tol > tolerance / 64.0:
                    tol /= 2.0
                    out = _dp_simplify(r[:, :2], tol)
                rings.append(out if _ring_ok(out) else r[:, :2])
            return W.Geometry(W.POLYGON, rings)
        return W.Geometry(g.kind, [_simp(c) for c in g.parts])

    return geom_udf(BinaryType(), _simp)(wkb_col)


# -- SRID (ST_SRID / ST_SetSRID) --------------------------------------------------
# The serde carries a nonzero SRID through the EWKB header flag (wkb.Geometry
# .srid; GeometrySerializer hasSrid preamble parity).  Convention for
# DataFrame-level CRS tracking: a sidecar ``srid`` int column — see
# the mismatch guard spatial_join and distance_join share (operators.joins).


def st_srid(wkb_col: Column) -> Column:
    """SRID embedded in the geometry (0 when unset), ST_SRID."""
    return geom_udf(IntegerType(), lambda g: g.srid)(wkb_col)


def st_set_srid(wkb_col: Column, srid: int) -> Column:
    """Stamp an SRID into the geometry header (no reprojection — use
    functions.crs.st_transform for that), ST_SetSRID."""

    def _stamp(g: W.Geometry) -> W.Geometry:
        g.srid = srid
        return g

    return geom_udf(BinaryType(), _stamp)(wkb_col)


# -- ST_Collect / ST_OrderingEquals -------------------------------------------------


def collect_geometries(geoms: list) -> W.Geometry:
    """JTS GeometryFactory.buildGeometry semantics (Functions.java:692-702
    createMultiGeometry): all-same-type -> Multi<type>, mixed or empty ->
    GeometryCollection, single element promoted via its Multi* counterpart
    (Functions.java:645-659)."""
    promote = {
        W.POINT: W.MULTIPOINT,
        W.LINESTRING: W.MULTILINESTRING,
        W.POLYGON: W.MULTIPOLYGON,
    }
    if not geoms:
        return W.multi(W.GEOMETRYCOLLECTION, [])
    kinds = {g.kind for g in geoms}
    if len(kinds) == 1:
        k = kinds.pop()
        if k in promote:
            return W.multi(promote[k], geoms)
        return W.multi(W.GEOMETRYCOLLECTION, geoms)
    return W.multi(W.GEOMETRYCOLLECTION, geoms)


def st_collect(wkb_array_col: Column) -> Column:
    """ST_Collect over an array<binary> of geometries (the row form; the
    aggregate form is functions.overlay.st_collect_aggr).  NULL elements are
    dropped, like the reference expression, and a NULL array collects nothing."""

    def _collect(arr) -> W.Geometry:
        return collect_geometries([W.loads(b) for b in arr if b is not None])

    elems = F.coalesce(wkb_array_col, F.array().cast(ArrayType(BinaryType())))
    return geom_udf(BinaryType(), _collect, decode=None)(elems)


def st_ordering_equals(a: Column, b: Column) -> Column:
    """ST_OrderingEquals: JTS equalsExact — same structure, same coordinates
    in the SAME order (unlike ST_Equals, which is topological).  Both sides
    are re-serialized through the canonical serde, so byte equality is
    exactly coordinate-sequence equality."""
    return geom_udf(BooleanType(), lambda x, y: W.dumps(x) == W.dumps(y))(a, b)
