"""Geometry editors and accessors — the §2.7 long tail.

Reference surface (Catalog.scala:58-161, impls common/.../Functions.java):
ST_Affine, ST_Reverse, ST_PointOnSurface, ST_LineInterpolatePoint,
ST_LineSubstring, ST_AddPoint / ST_RemovePoint / ST_SetPoint, ST_LineMerge,
ST_Force_2D, ST_Multi, ST_CollectionExtract.  All Arrow-batched pandas UDFs
over the WKB column model; per-geometry math is vectorized numpy.

Z/M coordinates are carried through coordinate editors unchanged (see
geom.wkb); ST_Force_2D strips them, functions.zm adds the 3-D accessors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, BinaryType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import wkb as W


def _map_coords(g: W.Geometry, fn) -> W.Geometry:
    """Apply a planar coordinate transform; Z/M columns ride along unchanged
    (coordinate editors are XY operations — JTS's AffineTransformation also
    leaves Z untouched)."""

    def _apply(arr: np.ndarray) -> np.ndarray:
        xy = fn(arr[:, :2])
        if arr.shape[1] > 2:
            return np.column_stack([xy, arr[:, 2:]])
        return xy

    if g.kind in (W.POINT, W.LINESTRING):
        return W.Geometry(g.kind, _apply(g.parts), g.has_z, g.has_m)
    if g.kind == W.POLYGON:
        return W.Geometry(W.POLYGON, [_apply(r) for r in g.parts], g.has_z, g.has_m)
    return W.Geometry(g.kind, [_map_coords(c, fn) for c in g.parts], g.has_z, g.has_m)


def st_affine(
    wkb_col: Column, a: float, b: float, d: float, e: float, xoff: float, yoff: float
) -> Column:
    """ST_Affine(geom, a, b, d, e, xOff, yOff): x' = a*x + b*y + xOff,
    y' = d*x + e*y + yOff (the 2-D form of the reference's affine)."""
    M = np.array([[a, b], [d, e]])
    off = np.array([xoff, yoff])
    return geom_udf(BinaryType(), lambda g: _map_coords(g, lambda c: c @ M.T + off))(wkb_col)


def st_reverse(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), lambda g: _map_coords(g, lambda c: c[::-1].copy()))(wkb_col)


def st_precision_reduce(wkb_col: Column, digits: int) -> Column:
    """Round every coordinate to ``digits`` decimal places (ST_PrecisionReduce)."""
    return geom_udf(BinaryType(), lambda g: _map_coords(g, lambda c: np.round(c, digits)))(wkb_col)


def normalize_geometry(g: W.Geometry) -> W.Geometry:
    """Canonical form so topologically-equal geometries compare byte-equal:
    polygon shells CCW / holes CW, rings rotated to start at their
    lexicographically smallest vertex, linestrings oriented toward the
    smaller endpoint, multi-part children sorted by their WKB bytes.
    (Documented normal form; JTS normalize() differs in winding convention.)"""

    def ring_norm(r: np.ndarray, ccw: bool) -> np.ndarray:
        r = r[:-1]
        area2 = float(np.sum(r[:, 0] * np.roll(r[:, 1], -1) - np.roll(r[:, 0], -1) * r[:, 1]))
        if (area2 > 0) != ccw:
            r = r[::-1]
        i = int(np.lexsort((r[:, 1], r[:, 0]))[0])
        r = np.roll(r, -i, axis=0)
        return np.vstack([r, r[:1]])

    if g.kind == W.POINT:
        return g
    if g.kind == W.LINESTRING:
        a, b = tuple(g.parts[0]), tuple(g.parts[-1])
        return g if a <= b else W.Geometry(W.LINESTRING, g.parts[::-1].copy())
    if g.kind == W.POLYGON:
        return W.Geometry(
            W.POLYGON,
            [ring_norm(g.parts[0], True)] + [ring_norm(r, False) for r in g.parts[1:]],
        )
    kids = [normalize_geometry(c) for c in g.parts]
    kids.sort(key=W.dumps)
    return W.Geometry(g.kind, kids)


def st_normalize(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), normalize_geometry)(wkb_col)


def force_2d_geometry(g: W.Geometry) -> W.Geometry:
    if not (g.has_z or g.has_m):
        return g
    if g.kind in (W.POINT, W.LINESTRING):
        return W.Geometry(g.kind, np.ascontiguousarray(g.parts[:, :2]))
    if g.kind == W.POLYGON:
        return W.Geometry(W.POLYGON, [np.ascontiguousarray(r[:, :2]) for r in g.parts])
    return W.Geometry(g.kind, [force_2d_geometry(c) for c in g.parts])


def st_force_2d(wkb_col: Column) -> Column:
    """Strip Z/M columns (ST_Force_2D); identity on already-2D geometry."""
    return geom_udf(BinaryType(), force_2d_geometry)(wkb_col)


def st_multi(wkb_col: Column) -> Column:
    """Wrap single geometries in their Multi* counterpart (ST_Multi)."""
    promote = {W.POINT: W.MULTIPOINT, W.LINESTRING: W.MULTILINESTRING, W.POLYGON: W.MULTIPOLYGON}

    def _m(g: W.Geometry) -> W.Geometry:
        if g.kind in promote:
            return W.multi(promote[g.kind], [g])
        return g

    return geom_udf(BinaryType(), _m)(wkb_col)


def st_collection_extract(wkb_col: Column, dim: int) -> Column:
    """Leaves of the requested dimension (1=points, 2=lines, 3=polygons) as a
    Multi* geometry — ST_CollectionExtract semantics."""
    kind = {1: W.POINT, 2: W.LINESTRING, 3: W.POLYGON}[dim]
    multi_kind = {1: W.MULTIPOINT, 2: W.MULTILINESTRING, 3: W.MULTIPOLYGON}[dim]

    def _x(g: W.Geometry) -> W.Geometry:
        leaves = [l for l in g.leaves() if l.kind == kind]
        return W.multi(multi_kind, leaves)

    return geom_udf(BinaryType(), _x)(wkb_col)


def point_on_surface(g: W.Geometry) -> W.Geometry:
    """A point guaranteed on the geometry: JTS InteriorPointArea-style widest
    midline span for polygons, middle vertex for lines, the point itself."""
    polys = [l for l in g.leaves() if l.kind == W.POLYGON]
    if polys:
        x0, y0, x1, y1 = g.bounds
        ymid = (y0 + y1) / 2.0
        e = g.edges()
        y1e, y2e = e[:, 1], e[:, 3]
        crosses = (y1e > ymid) != (y2e > ymid)
        if not crosses.any():
            ymid = np.nextafter(ymid, y1)  # grazing a horizontal edge: nudge
            crosses = (y1e > ymid) != (y2e > ymid)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = e[:, 0] + (ymid - y1e) * (e[:, 2] - e[:, 0]) / (y2e - y1e)
        xs = np.sort(xs[crosses])
        if len(xs) >= 2:
            spans = xs.reshape(-1, 2)
            wid = spans[:, 1] - spans[:, 0]
            i = int(np.argmax(wid))
            return W.point(float((spans[i, 0] + spans[i, 1]) / 2.0), float(ymid))
        return W.point((x0 + x1) / 2.0, (y0 + y1) / 2.0)
    v = g.vertices()
    return W.point(float(v[len(v) // 2, 0]), float(v[len(v) // 2, 1]))


def st_point_on_surface(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), point_on_surface)(wkb_col)


def _line_coords(g: W.Geometry) -> np.ndarray:
    if g.kind != W.LINESTRING:
        raise ValueError("expected a LineString")
    return g.parts


def _cumlen(c: np.ndarray) -> np.ndarray:
    seg = np.hypot(np.diff(c[:, 0]), np.diff(c[:, 1]))
    return np.concatenate([[0.0], np.cumsum(seg)])


def line_interpolate_point(g: W.Geometry, frac: float) -> W.Geometry:
    c = _line_coords(g)
    cl = _cumlen(c)
    target = float(np.clip(frac, 0.0, 1.0)) * cl[-1]
    i = int(np.searchsorted(cl, target, side="right") - 1)
    i = min(i, len(c) - 2)
    seg = cl[i + 1] - cl[i]
    t = 0.0 if seg == 0 else (target - cl[i]) / seg
    p = c[i] + t * (c[i + 1] - c[i])
    return W.point(float(p[0]), float(p[1]))


def line_substring(g: W.Geometry, f0: float, f1: float) -> W.Geometry:
    c = _line_coords(g)
    cl = _cumlen(c)
    total = cl[-1]
    a, b = sorted((np.clip(f0, 0, 1) * total, np.clip(f1, 0, 1) * total))

    def at(d):
        i = min(int(np.searchsorted(cl, d, side="right") - 1), len(c) - 2)
        seg = cl[i + 1] - cl[i]
        t = 0.0 if seg == 0 else (d - cl[i]) / seg
        return c[i] + t * (c[i + 1] - c[i]), i

    pa, ia = at(a)
    pb, ib = at(b)
    mid = c[ia + 1 : ib + 1]
    coords = np.vstack([pa[None, :], mid, pb[None, :]])
    # drop consecutive duplicates
    keep = np.ones(len(coords), dtype=bool)
    keep[1:] = (np.abs(np.diff(coords, axis=0)).sum(axis=1)) > 0
    coords = coords[keep]
    if len(coords) < 2:
        coords = np.vstack([pa[None, :], pb[None, :]])
    return W.Geometry(W.LINESTRING, coords)


def st_line_interpolate_point(wkb_col: Column, frac: float) -> Column:
    return geom_udf(BinaryType(), lambda g: line_interpolate_point(g, frac))(wkb_col)


def st_line_substring(wkb_col: Column, f0: float, f1: float) -> Column:
    return geom_udf(BinaryType(), lambda g: line_substring(g, f0, f1))(wkb_col)


def st_add_point(wkb_col: Column, x: float, y: float, index: int = -1) -> Column:
    def _a(g: W.Geometry) -> W.Geometry:
        c = _line_coords(g)
        i = len(c) if index == -1 else index
        return W.Geometry(W.LINESTRING, np.insert(c, i, [x, y], axis=0))

    return geom_udf(BinaryType(), _a)(wkb_col)


def st_remove_point(wkb_col: Column, index: int) -> Column:
    def _r(g: W.Geometry) -> W.Geometry:
        c = _line_coords(g)
        return W.Geometry(W.LINESTRING, np.delete(c, index, axis=0))

    return geom_udf(BinaryType(), _r)(wkb_col)


def st_set_point(wkb_col: Column, index: int, x: float, y: float) -> Column:
    def _s(g: W.Geometry) -> W.Geometry:
        c = _line_coords(g).copy()
        c[index] = (x, y)
        return W.Geometry(W.LINESTRING, c)

    return geom_udf(BinaryType(), _s)(wkb_col)


def line_merge(g: W.Geometry) -> W.Geometry:
    """ST_LineMerge: stitch MultiLineString parts into maximal linestrings by
    shared endpoints (degree-2 chaining; junctions stay split, like JTS)."""
    lines = [l for l in g.leaves() if l.kind == W.LINESTRING]
    if not lines:
        return g

    def key(p):
        return (round(float(p[0]) * 1e9), round(float(p[1]) * 1e9))

    adj: dict[tuple, list[int]] = {}
    for i, l in enumerate(lines):
        adj.setdefault(key(l.parts[0]), []).append(i)
        adj.setdefault(key(l.parts[-1]), []).append(i)
    used = [False] * len(lines)
    merged = []
    for s in range(len(lines)):
        if used[s]:
            continue
        used[s] = True
        coords = [lines[s].parts]
        # extend forward from the tail while the junction has degree 2
        for flip in (False, True):
            while True:
                endpt = coords[-1][-1] if not flip else coords[0][0]
                k = key(endpt)
                cands = [i for i in adj.get(k, ()) if not used[i]]
                if len(adj.get(k, ())) != 2 or not cands:
                    break
                i = cands[0]
                used[i] = True
                nxt = lines[i].parts
                if key(nxt[0]) != k:
                    nxt = nxt[::-1]
                if not flip:
                    coords.append(nxt[1:])
                else:
                    # reversed so its end meets the current head (head dropped)
                    coords.insert(0, nxt[::-1][:-1])
        merged.append(W.Geometry(W.LINESTRING, np.concatenate(coords, axis=0)))
    if len(merged) == 1:
        return merged[0]
    return W.multi(W.MULTILINESTRING, merged)


def st_line_merge(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), line_merge)(wkb_col)


# -- indexed accessors / constructors (Catalog.scala:58-161 long tail) ---------

def st_geometry_n(wkb_col: Column, n: int) -> Column:
    """n-th (0-based, like the reference's ST_GeometryN) child of a Multi*."""

    def _g(g: W.Geometry) -> W.Geometry:
        if g.kind in (W.MULTIPOINT, W.MULTILINESTRING, W.MULTIPOLYGON, W.GEOMETRYCOLLECTION):
            return g.parts[n]
        if n == 0:
            return g
        raise IndexError(f"geometry has no child {n}")

    return geom_udf(BinaryType(), _g)(wkb_col)


def st_point_n(wkb_col: Column, n: int) -> Column:
    """n-th point of a LineString (1-based like the reference; negative from end)."""

    def _p(g: W.Geometry) -> W.Geometry:
        c = _line_coords(g)
        i = n - 1 if n > 0 else len(c) + n
        return W.point(float(c[i, 0]), float(c[i, 1]))

    return geom_udf(BinaryType(), _p)(wkb_col)


def st_start_point(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), lambda g: W.point(*map(float, _line_coords(g)[0])))(wkb_col)


def st_end_point(wkb_col: Column) -> Column:
    return geom_udf(BinaryType(), lambda g: W.point(*map(float, _line_coords(g)[-1])))(wkb_col)


def st_interior_ring_n(wkb_col: Column, n: int) -> Column:
    """n-th interior ring (0-based) of a polygon, as a LineString."""

    def _r(g: W.Geometry) -> W.Geometry:
        if g.kind != W.POLYGON:
            raise ValueError("expected a Polygon")
        return W.Geometry(W.LINESTRING, g.parts[n + 1].copy())

    return geom_udf(BinaryType(), _r)(wkb_col)


def st_make_polygon(shell_col: Column, holes_col: Column | None = None) -> Column:
    """Closed LineString (+ optional array of closed LineStrings) -> Polygon;
    a NULL holes array means no holes."""

    def _polygon(shell: bytes, holes=()) -> W.Geometry:
        return W.Geometry(W.POLYGON, [_line_coords(W.loads(b)) for b in (shell, *holes)])

    if holes_col is None:
        return geom_udf(BinaryType(), _polygon, decode=None)(shell_col)
    holes = F.coalesce(holes_col, F.array().cast(ArrayType(BinaryType())))
    return geom_udf(BinaryType(), _polygon, decode=None)(shell_col, holes)


def st_line_from_multipoint(wkb_col: Column) -> Column:
    """MultiPoint -> LineString through its points in order."""

    def _l(g: W.Geometry) -> W.Geometry:
        pts = [leaf.parts[0] for leaf in g.leaves() if leaf.kind == W.POINT]
        if len(pts) < 2:
            raise ValueError("need at least 2 points")
        return W.Geometry(W.LINESTRING, np.asarray(pts, dtype=np.float64))

    return geom_udf(BinaryType(), _l)(wkb_col)
