"""Z/M-coordinate accessors and constructors.

Reference surface: ST_Z / ST_ZMin / ST_ZMax / ST_NDims / ST_HasZ / ST_HasM /
ST_Force3D / ST_3DDistance (Catalog.scala:58-161; serde parity
GeometrySerializer.java:87-101).  The planar kernels stay strictly 2-D (as
JTS's predicates do); these functions read/write the extra coordinate
columns the WKB serde carries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql.types import BinaryType, BooleanType, DoubleType, IntegerType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import wkb as W


def st_z(wkb_col: Column) -> Column:
    """Z of a Point (null for non-points or 2-D points), like ST_Z."""

    def _z(g: W.Geometry):
        if g.kind == W.POINT and g.has_z:
            return float(g.parts[0, 2])
        return None

    return geom_udf(DoubleType(), _z)(wkb_col)


def st_m(wkb_col: Column) -> Column:
    """M of a Point (null when absent)."""

    def _m(g: W.Geometry):
        if g.kind == W.POINT and g.has_m:
            return float(g.parts[0, 2 + int(g.has_z)])
        return None

    return geom_udf(DoubleType(), _m)(wkb_col)


def st_zmin(wkb_col: Column) -> Column:
    def _f(g: W.Geometry):
        z = g.z_values()
        return float(z.min()) if len(z) else None

    return geom_udf(DoubleType(), _f)(wkb_col)


def st_zmax(wkb_col: Column) -> Column:
    def _f(g: W.Geometry):
        z = g.z_values()
        return float(z.max()) if len(z) else None

    return geom_udf(DoubleType(), _f)(wkb_col)


def st_ndims(wkb_col: Column) -> Column:
    return geom_udf(IntegerType(), lambda g: g.ndims)(wkb_col)


def st_hasz(wkb_col: Column) -> Column:
    return geom_udf(BooleanType(), lambda g: bool(g.has_z))(wkb_col)


def st_hasm(wkb_col: Column) -> Column:
    return geom_udf(BooleanType(), lambda g: bool(g.has_m))(wkb_col)


def force_3d_geometry(g: W.Geometry, z: float = 0.0) -> W.Geometry:
    """Add a Z column holding ``z`` to every vertex (existing Z preserved)."""
    if g.has_z:
        return g
    if g.kind in (W.POINT, W.LINESTRING):
        zc = np.full((len(g.parts), 1), z)
        arr = np.column_stack([g.parts[:, :2], zc] + ([g.parts[:, 2:]] if g.has_m else []))
        return W.Geometry(g.kind, arr, True, g.has_m)
    if g.kind == W.POLYGON:
        rings = []
        for r in g.parts:
            zc = np.full((len(r), 1), z)
            rings.append(
                np.column_stack([r[:, :2], zc] + ([r[:, 2:]] if g.has_m else []))
            )
        return W.Geometry(W.POLYGON, rings, True, g.has_m)
    return W.Geometry(
        g.kind, [force_3d_geometry(c, z) for c in g.parts], True, g.has_m
    )


def st_force_3d(wkb_col: Column, z: float = 0.0) -> Column:
    return geom_udf(BinaryType(), lambda g: force_3d_geometry(g, z))(wkb_col)


def st_3ddistance(a_col: Column, b_col: Column) -> Column:
    """ST_3DDistance for arbitrary geometry pairs (2-D inputs read as z=0):
    points, lines (exact segment-segment), and planar polygon facets — the
    JTS Distance3DOp model (round 3; was point-only)."""
    return geom_udf(DoubleType(), geom_3d_distance)(a_col, b_col)


def point_z(x: float, y: float, z: float, m: float | None = None) -> W.Geometry:
    """Constructor for an XYZ(/M) point (ST_PointZ analog)."""
    if m is None:
        return W.Geometry(W.POINT, np.array([[x, y, z]], dtype=np.float64), True, False)
    return W.Geometry(
        W.POINT, np.array([[x, y, z, m]], dtype=np.float64), True, True
    )


def st_point_z(x: Column, y: Column, z: Column) -> Column:
    cols = (x.cast("double"), y.cast("double"), z.cast("double"))
    return geom_udf(BinaryType(), point_z, decode=None)(*cols)


# -- general 3D distance (JTS Distance3DOp semantics) -------------------------


def _coords3(g: W.Geometry, arr: np.ndarray) -> np.ndarray:
    out = np.zeros((len(arr), 3))
    out[:, :2] = arr[:, :2]
    if g.has_z:
        out[:, 2] = arr[:, 2]
    return out


def _pt_seg_3d(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> float:
    d = b - a
    L2 = float(d @ d)
    t = 0.0 if L2 == 0 else float(np.clip((p - a) @ d / L2, 0.0, 1.0))
    return float(np.linalg.norm(p - (a + t * d)))


def _seg_seg_3d(p1, p2, q1, q2) -> float:
    """Closest distance between segments (standard clamped parametric form)."""
    d1, d2, r = p2 - p1, q2 - q1, p1 - q1
    a, e, f = float(d1 @ d1), float(d2 @ d2), float(d2 @ r)
    if a == 0 and e == 0:
        return float(np.linalg.norm(r))
    if a == 0:
        t = np.clip(f / e, 0.0, 1.0)
        return float(np.linalg.norm(p1 - (q1 + t * d2)))
    c = float(d1 @ r)
    if e == 0:
        s = np.clip(-c / a, 0.0, 1.0)
        return float(np.linalg.norm(p1 + s * d1 - q1))
    b = float(d1 @ d2)
    den = a * e - b * b
    s = float(np.clip((b * f - c * e) / den, 0.0, 1.0)) if den != 0 else 0.0
    t = (b * s + f) / e
    if t < 0.0:
        t, s = 0.0, float(np.clip(-c / a, 0.0, 1.0))
    elif t > 1.0:
        t, s = 1.0, float(np.clip((b - c) / a, 0.0, 1.0))
    return float(np.linalg.norm(p1 + s * d1 - (q1 + t * d2)))


def _poly_plane(rings: list[np.ndarray]):
    """(origin, unit normal, u, v) via Newell's method on the shell."""
    shell = rings[0][:-1]
    nrm = np.zeros(3)
    for i in range(len(shell)):
        c, n = shell[i], shell[(i + 1) % len(shell)]
        nrm[0] += (c[1] - n[1]) * (c[2] + n[2])
        nrm[1] += (c[2] - n[2]) * (c[0] + n[0])
        nrm[2] += (c[0] - n[0]) * (c[1] + n[1])
    ln = np.linalg.norm(nrm)
    if ln == 0:  # degenerate: treat as vertical planar fallback
        nrm = np.array([0.0, 0.0, 1.0])
        ln = 1.0
    nrm = nrm / ln
    u = np.cross(nrm, [1.0, 0.0, 0.0])
    if np.linalg.norm(u) < 1e-12:
        u = np.cross(nrm, [0.0, 1.0, 0.0])
    u /= np.linalg.norm(u)
    v = np.cross(nrm, u)
    return shell[0], nrm, u, v


def _pip_2d(pt, ring) -> bool:
    x, y = pt
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    cond = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    return bool(np.count_nonzero(cond & (xs > x)) % 2)


def _point_in_poly_plane(p3, rings, origin, nrm, u, v) -> bool:
    q = np.array([(p3 - origin) @ u, (p3 - origin) @ v])
    proj = [np.stack([(r - origin) @ u, (r - origin) @ v], axis=1) for r in rings]
    if not _pip_2d(q, proj[0]):
        return False
    return not any(_pip_2d(q, hole) for hole in proj[1:])


def _pt_poly_3d(p, rings) -> float:
    origin, nrm, u, v = _poly_plane(rings)
    if _point_in_poly_plane(p, rings, origin, nrm, u, v):
        return abs(float((p - origin) @ nrm))
    return min(
        _pt_seg_3d(p, r[i], r[i + 1]) for r in rings for i in range(len(r) - 1)
    )


def _seg_poly_3d(a, b, rings) -> float:
    origin, nrm, u, v = _poly_plane(rings)
    da, db = float((a - origin) @ nrm), float((b - origin) @ nrm)
    if da * db < 0:  # segment crosses the plane: distance 0 if inside
        t = da / (da - db)
        x = a + t * (b - a)
        if _point_in_poly_plane(x, rings, origin, nrm, u, v):
            return 0.0
    best = min(_pt_poly_3d(a, rings), _pt_poly_3d(b, rings))
    for r in rings:
        for i in range(len(r) - 1):
            best = min(best, _seg_seg_3d(a, b, r[i], r[i + 1]))
    return best


def _decompose_3d(g: W.Geometry):
    """(points, segments, polygons) in 3D coordinates."""
    pts, segs, polys = [], [], []
    for leaf in g.leaves():
        if leaf.kind == W.POINT:
            pts.append(_coords3(leaf, leaf.parts)[0])
        elif leaf.kind == W.LINESTRING:
            c = _coords3(leaf, leaf.parts)
            segs += [(c[i], c[i + 1]) for i in range(len(c) - 1)]
        else:
            polys.append([_coords3(leaf, r) for r in leaf.parts])
    return pts, segs, polys


def geom_3d_distance(ga: W.Geometry, gb: W.Geometry) -> float:
    """Min 3D distance across the decompositions (points, segments, planar
    polygon facets) — the JTS Distance3DOp model: polygons are planar
    patches, interiors count (a point above a polygon's interior measures
    the perpendicular, not the edge ring)."""
    pa, sa, fa = _decompose_3d(ga)
    pb, sb, fb = _decompose_3d(gb)
    best = float("inf")
    for p in pa:
        for q in pb:
            best = min(best, float(np.linalg.norm(p - q)))
        for q1, q2 in sb:
            best = min(best, _pt_seg_3d(p, q1, q2))
        for rings in fb:
            best = min(best, _pt_poly_3d(p, rings))
    for a1, a2 in sa:
        for q in pb:
            best = min(best, _pt_seg_3d(q, a1, a2))
        for q1, q2 in sb:
            best = min(best, _seg_seg_3d(a1, a2, q1, q2))
        for rings in fb:
            best = min(best, _seg_poly_3d(a1, a2, rings))
    for rings in fa:
        for q in pb:
            best = min(best, _pt_poly_3d(q, rings))
        for q1, q2 in sb:
            best = min(best, _seg_poly_3d(q1, q2, rings))
        for rb in fb:
            # polygon-polygon: symmetric edge/vertex treatment; coplanar
            # overlapping interiors reduce to crossing/projection cases below
            for r in rings:
                for i in range(len(r) - 1):
                    best = min(best, _seg_poly_3d(r[i], r[i + 1], rb))
            for r in rb:
                for i in range(len(r) - 1):
                    best = min(best, _seg_poly_3d(r[i], r[i + 1], rings))
    return best


st_3ddistance_general = st_3ddistance  # alias; the main entry now is general
