"""Vectorized geometry predicate kernel (pure numpy).

Plays the role of JTS predicate evaluation in the reference
(/root/reference/common/src/main/java/org/apache/sedona/common/Predicates.java and
/root/reference/core/src/main/java/org/apache/sedona/core/spatialOperator/SpatialPredicateEvaluators.java:1-165),
re-expressed as ray-casting / orientation tests over numpy coordinate arrays so
that a whole Arrow batch of candidate pairs is refined without per-row Python
object churn.  The batch evaluator groups candidate pairs by their repeated
(usually polygon) side — the moral equivalent of the reference's
PreparedGeometry cache (BroadcastIndexJoinExec.scala:126-133).

Predicate semantics follow JTS (SpatialPredicate enum,
core/.../spatialOperator/SpatialPredicate.java:27-56): CONTAINS excludes the
boundary, COVERS includes it, EQUALS is topological.  Exotic mixed-dimension
cases (crosses/overlaps/touches on collections) use documented approximations.
"""

from __future__ import annotations

import numpy as np

from incubator_sedona_spark.geom import wkb as W

_EPS = 1e-9

PREDICATES = (
    "contains",
    "intersects",
    "within",
    "covers",
    "coveredby",
    "crosses",
    "overlaps",
    "touches",
    "equals",
    "disjoint",
)

INVERSE = {
    "contains": "within",
    "within": "contains",
    "covers": "coveredby",
    "coveredby": "covers",
    "intersects": "intersects",
    "crosses": "crosses",
    "overlaps": "overlaps",
    "touches": "touches",
    "equals": "equals",
    "disjoint": "disjoint",
}


# -- low-level vectorized primitives ----------------------------------------

def _rings_of(g: W.Geometry):
    """All rings of a polygonal geometry (exterior + holes, all leaves)."""
    rings = []
    for leaf in g.leaves():
        if leaf.kind == W.POLYGON:
            rings.extend(leaf.parts)
    return rings


def point_in_polygon(poly: W.Geometry, pts: np.ndarray):
    """Even-odd ray cast of (m, 2) points against all rings of ``poly``.

    Returns (strict_inside, on_boundary) boolean arrays.  Even-odd counting
    makes holes work with no special casing.
    """
    pts = np.asarray(pts, dtype=np.float64)
    # accept (m, 2+e) rows: the planar kernel reads XY and ignores Z/M columns
    pts = pts.reshape(-1, pts.shape[-1] if pts.ndim > 1 else 2)[:, :2]
    m = len(pts)
    inside = np.zeros(m, dtype=bool)
    on_bnd = np.zeros(m, dtype=bool)
    edges = poly.edges()
    if len(edges) == 0 or m == 0:
        return inside, on_bnd
    x1, y1, x2, y2 = edges[:, 0:1], edges[:, 1:2], edges[:, 2:3], edges[:, 3:4]
    px, py = pts[:, 0][None, :], pts[:, 1][None, :]

    # boundary: |cross| tiny and point within the segment bbox
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    seg_len = np.hypot(x2 - x1, y2 - y1)
    near = np.abs(cross) <= _EPS * np.maximum(seg_len, 1.0)
    in_box = (
        (px >= np.minimum(x1, x2) - _EPS)
        & (px <= np.maximum(x1, x2) + _EPS)
        & (py >= np.minimum(y1, y2) - _EPS)
        & (py <= np.maximum(y1, y2) + _EPS)
    )
    on_bnd = np.any(near & in_box, axis=0)

    # even-odd crossing count (half-open in y so vertices count once)
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    crossings = cond & (px < xint)
    inside = (np.sum(crossings, axis=0) % 2).astype(bool)
    return inside & ~on_bnd, on_bnd


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect_any(A: np.ndarray, B: np.ndarray, proper_only: bool = False) -> bool:
    """True if any segment of A (e,4) intersects any segment of B (f,4).

    ``proper_only`` restricts to transversal crossings (strict sign change on
    both orientation tests) — used by covers/contains to detect boundary exits.
    Runs in f-sized chunks to bound memory on big edge sets.
    """
    if len(A) == 0 or len(B) == 0:
        return False
    ax1, ay1, ax2, ay2 = A[:, 0:1], A[:, 1:2], A[:, 2:3], A[:, 3:4]
    chunk = max(1, int(4e6 // max(len(A), 1)))
    for s in range(0, len(B), chunk):
        b = B[s : s + chunk]
        bx1, by1, bx2, by2 = b[:, 0][None], b[:, 1][None], b[:, 2][None], b[:, 3][None]
        d1 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
        d2 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
        d3 = _orient(bx1, by1, bx2, by2, ax1, ay1)
        d4 = _orient(bx1, by1, bx2, by2, ax2, ay2)
        proper = ((d1 > _EPS) & (d2 < -_EPS) | (d1 < -_EPS) & (d2 > _EPS)) & (
            (d3 > _EPS) & (d4 < -_EPS) | (d3 < -_EPS) & (d4 > _EPS)
        )
        if np.any(proper):
            return True
        if not proper_only:
            # collinear / endpoint touches
            for d, px, py in ((d1, bx1, by1), (d2, bx2, by2)):
                touch = (
                    (np.abs(d) <= _EPS)
                    & (px >= np.minimum(ax1, ax2) - _EPS)
                    & (px <= np.maximum(ax1, ax2) + _EPS)
                    & (py >= np.minimum(ay1, ay2) - _EPS)
                    & (py <= np.maximum(ay1, ay2) + _EPS)
                )
                if np.any(touch):
                    return True
            for d, px, py in ((d3, ax1, ay1), (d4, ax2, ay2)):
                touch = (
                    (np.abs(d) <= _EPS)
                    & (px >= np.minimum(bx1, bx2) - _EPS)
                    & (px <= np.maximum(bx1, bx2) + _EPS)
                    & (py >= np.minimum(by1, by2) - _EPS)
                    & (py <= np.maximum(by1, by2) + _EPS)
                )
                if np.any(touch):
                    return True
    return False


def points_to_segments_dist(pts: np.ndarray, segs: np.ndarray) -> np.ndarray:
    """Min distance from each of (m,2) points to the nearest of (e,4) segments."""
    if len(segs) == 0:
        return np.full(len(pts), np.inf)
    x1, y1 = segs[:, 0][None], segs[:, 1][None]
    x2, y2 = segs[:, 2][None], segs[:, 3][None]
    px, py = pts[:, 0][:, None], pts[:, 1][:, None]
    dx, dy = x2 - x1, y2 - y1
    ll = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / ll
    t = np.clip(np.where(ll > 0, t, 0.0), 0.0, 1.0)
    cx, cy = x1 + t * dx, y1 + t * dy
    return np.sqrt(np.min((px - cx) ** 2 + (py - cy) ** 2, axis=1))


def points_to_geometry_dist(g: "W.Geometry", pts: np.ndarray) -> np.ndarray:
    """Min euclidean distance from each (m,2) point to geometry ``g``
    (0.0 for covered points), vectorized over the points.  The kNN-join
    candidate scorer for arbitrary right geometries."""
    pts = np.asarray(pts, dtype=np.float64)[:, :2]
    edges = g.edges()
    if len(edges):
        d = points_to_segments_dist(pts, edges)
    else:  # (multi)point geometry: nearest vertex
        v = g.vertices()[:, :2]
        d = np.sqrt(((pts[:, None, :] - v[None, :, :]) ** 2).sum(-1)).min(axis=1)
    cov = _covers_points(g, pts)
    return np.where(cov, 0.0, d)


# -- pairwise predicate dispatch --------------------------------------------

def _bbox_disjoint(a: W.Geometry, b: W.Geometry) -> bool:
    ab, bb = a.bounds, b.bounds
    return ab[2] < bb[0] or bb[2] < ab[0] or ab[3] < bb[1] or bb[3] < ab[1]


def _covers_points(g: W.Geometry, pts: np.ndarray) -> np.ndarray:
    """Closed point-in-geometry test (boundary counts)."""
    if g.kind in (W.POLYGON, W.MULTIPOLYGON) or any(
        l.kind == W.POLYGON for l in g.leaves()
    ):
        inside, bnd = point_in_polygon(g, pts)
        return inside | bnd
    if g.kind == W.POINT or all(l.kind == W.POINT for l in g.leaves()):
        v = g.vertices()
        return np.array(
            [np.any((np.abs(v[:, 0] - p[0]) <= _EPS) & (np.abs(v[:, 1] - p[1]) <= _EPS)) for p in pts]
        )
    # linestring: on-segment test (XY columns only)
    p2 = np.asarray(pts, dtype=np.float64)
    p2 = p2.reshape(-1, p2.shape[-1] if p2.ndim > 1 else 2)[:, :2]
    return points_to_segments_dist(p2, g.edges()) <= _EPS


def _strict_inside_points(g: W.Geometry, pts: np.ndarray) -> np.ndarray:
    inside, _ = point_in_polygon(g, pts)
    return inside


def _interior_probe_pts(g: W.Geometry) -> np.ndarray:
    """Vertices plus edge midpoints — probe set for interior-intersection tests."""
    v = g.vertices()
    e = g.edges()
    if len(e):
        mids = np.column_stack([(e[:, 0] + e[:, 2]) / 2, (e[:, 1] + e[:, 3]) / 2])
        return np.concatenate([v, mids], axis=0)
    return v


def _is_polygonal(g: W.Geometry) -> bool:
    return any(l.kind == W.POLYGON for l in g.leaves())


def _intersects(a: W.Geometry, b: W.Geometry) -> bool:
    if _bbox_disjoint(a, b):
        return False
    if a.kind == W.POINT:
        return bool(_covers_points(b, a.parts)[0])
    if b.kind == W.POINT:
        return bool(_covers_points(a, b.parts)[0])
    if _is_polygonal(a) and np.any(_covers_points(a, b.vertices())):
        return True
    if _is_polygonal(b) and np.any(_covers_points(b, a.vertices())):
        return True
    return segments_intersect_any(a.edges(), b.edges())


def _hole_probe_pts(g: W.Geometry) -> np.ndarray:
    """Vertices + edge midpoints of interior rings (holes) of a polygonal geometry."""
    pts = []
    for leaf in g.leaves():
        if leaf.kind != W.POLYGON:
            continue
        for ring in leaf.parts[1:]:
            pts.append(ring[:-1])
            pts.append((ring[:-1] + ring[1:]) / 2.0)
    if not pts:
        return np.empty((0, 2))
    return np.concatenate(pts, axis=0)


def _covers(a: W.Geometry, b: W.Geometry) -> bool:
    if _bbox_disjoint(a, b):
        return False
    if not np.all(_covers_points(a, b.vertices())):
        return False
    if b.kind == W.POINT or all(l.kind == W.POINT for l in b.leaves()):
        return True
    # all vertices covered: reject if an edge of b properly exits a's boundary
    if segments_intersect_any(a.edges(), b.edges(), proper_only=True):
        return False
    # hole check: a hole of `a` strictly inside `b` means b's interior dips
    # into the hole even though all of b's vertices are covered and no edge
    # properly crosses (the hole ring lies wholly inside b)
    if _is_polygonal(b):
        hp = _hole_probe_pts(a)
        if len(hp) and np.any(_strict_inside_points(b, hp)):
            return False
    return True


def _interiors_intersect(a: W.Geometry, b: W.Geometry) -> bool:
    if _bbox_disjoint(a, b):
        return False
    if a.kind == W.POINT:
        return bool(_strict_inside_points(b, a.parts)[0]) if _is_polygonal(b) else False
    if b.kind == W.POINT:
        return bool(_strict_inside_points(a, b.parts)[0]) if _is_polygonal(a) else False
    if segments_intersect_any(a.edges(), b.edges(), proper_only=True):
        return True
    if _is_polygonal(a) and np.any(_strict_inside_points(a, _interior_probe_pts(b))):
        return True
    if _is_polygonal(b) and np.any(_strict_inside_points(b, _interior_probe_pts(a))):
        return True
    return False


def _dim(g: W.Geometry) -> int:
    if _is_polygonal(g):
        return 2
    if any(l.kind == W.LINESTRING for l in g.leaves()):
        return 1
    return 0


def predicate_pair(name: str, a: W.Geometry, b: W.Geometry) -> bool:
    if name == "intersects":
        return _intersects(a, b)
    if name == "disjoint":
        return not _intersects(a, b)
    if name == "covers":
        return _covers(a, b)
    if name == "coveredby":
        return _covers(b, a)
    if name == "contains":
        return _covers(a, b) and _interiors_intersect(a, b)
    if name == "within":
        return _covers(b, a) and _interiors_intersect(a, b)
    if name == "equals":
        return _covers(a, b) and _covers(b, a)
    if name == "touches":
        return _intersects(a, b) and not _interiors_intersect(a, b)
    if name == "overlaps":
        return (
            _dim(a) == _dim(b)
            and _interiors_intersect(a, b)
            and not _covers(a, b)
            and not _covers(b, a)
        )
    if name == "crosses":
        if _dim(a) == _dim(b) == 2:
            return False
        if _dim(a) == _dim(b) == 1:
            return segments_intersect_any(a.edges(), b.edges(), proper_only=True)
        return (
            _interiors_intersect(a, b) and not _covers(a, b) and not _covers(b, a)
        )
    raise ValueError(f"unknown predicate {name!r}")


def distance_pair(a: W.Geometry, b: W.Geometry) -> float:
    if _intersects(a, b):
        return 0.0
    av, bv = a.vertices(), b.vertices()
    ae, be = a.edges(), b.edges()
    best = np.inf
    if len(be):
        best = min(best, float(points_to_segments_dist(av, be).min()))
    if len(ae):
        best = min(best, float(points_to_segments_dist(bv, ae).min()))
    if not len(ae) and not len(be):
        d = np.sqrt(((av[:, None, :] - bv[None, :, :]) ** 2).sum(-1))
        best = min(best, float(d.min()))
    return best


# -- Arrow-batch evaluator (join refinement hot path) ------------------------

def _parse_cached(buf: bytes, cache: dict) -> W.Geometry:
    g = cache.get(buf)
    if g is None:
        g = W.loads(buf)
        cache[buf] = g
    return g


def by_geometry(bufs, pts: np.ndarray, dtype, fn, cache: dict | None = None) -> np.ndarray:
    """``fn(g, pts[rows])`` for each distinct WKB buffer ``g`` in ``bufs``:
    rows are grouped by their repeated buffer, so each geometry is parsed once
    and all its points go through one vectorized kernel call.  ``cache``
    (buffer -> Geometry) keeps the parsed geometries across calls."""
    cache = {} if cache is None else cache
    out = np.zeros(len(bufs), dtype=dtype)
    groups: dict[bytes, list[int]] = {}
    for i, b in enumerate(bufs):
        groups.setdefault(b, []).append(i)
    for buf, idxs in groups.items():
        out[idxs] = fn(_parse_cached(buf, cache), pts[idxs])
    return out


def eval_predicate_batch(name: str, lbufs, rbufs) -> np.ndarray:
    """Evaluate ``name(left, right)`` for aligned WKB buffers, vectorized.

    Groups pairs by the repeated non-point side and ray-casts all its candidate
    points in one numpy call — the batch analog of the reference's per-partition
    index probe (RightIndexLookupJudgement + JudgementBase.java:205-246).
    """
    lbufs = list(lbufs)
    rbufs = list(rbufs)
    n = len(lbufs)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    cache: dict[bytes, W.Geometry] = {}

    l_is_pt = all(len(b) == 21 and b[0] == 1 for b in lbufs)
    r_is_pt = all(len(b) == 21 and b[0] == 1 for b in rbufs)

    # fast path: one side is all points -> group by the other side
    if r_is_pt != l_is_pt:
        geoms, pts = (lbufs, rbufs) if r_is_pt else (rbufs, lbufs)
        return by_geometry(
            geoms, W.wkb_to_points(pts), bool,
            lambda g, p: _eval_geom_vs_points(name, g, p, point_is_left=l_is_pt),
        )
    if l_is_pt and r_is_pt:
        lp, rp = W.wkb_to_points(lbufs), W.wkb_to_points(rbufs)
        same = (np.abs(lp[:, 0] - rp[:, 0]) <= _EPS) & (np.abs(lp[:, 1] - rp[:, 1]) <= _EPS)
        if name in ("intersects", "equals", "covers", "coveredby", "contains", "within"):
            return same
        if name == "disjoint":
            return ~same
        return out  # touches/crosses/overlaps on point-point: False

    for i in range(n):
        out[i] = predicate_pair(name, _parse_cached(lbufs[i], cache), _parse_cached(rbufs[i], cache))
    return out


def _eval_geom_vs_points(name: str, g: W.Geometry, pts: np.ndarray, point_is_left: bool):
    """Predicate between geometry ``g`` and many points, vectorized.

    ``point_is_left`` means the point is the first argument; flip via the
    predicate inverse (SpatialPredicate.inverse(), SpatialPredicate.java:27-56).
    """
    if point_is_left:
        name = INVERSE[name]
    # now: name(g, point)
    if _is_polygonal(g):
        inside, bnd = point_in_polygon(g, pts)
        closed = inside | bnd
    elif g.kind == W.POINT or all(l.kind == W.POINT for l in g.leaves()):
        closed = _covers_points(g, pts)
        inside = closed  # a point's interior is the point itself
        bnd = np.zeros_like(closed)
    else:  # linestring: boundary = endpoints, interior = rest of the line
        on_line = _covers_points(g, pts)
        ends = np.concatenate([leaf.parts[[0, -1]] for leaf in g.leaves() if leaf.kind == W.LINESTRING])
        on_end = np.array(
            [np.any((np.abs(ends[:, 0] - p[0]) <= _EPS) & (np.abs(ends[:, 1] - p[1]) <= _EPS)) for p in pts]
        )
        closed = on_line
        inside = on_line & ~on_end
        bnd = on_line & on_end
    if name == "contains":
        return inside
    if name == "covers":
        return closed
    if name == "intersects":
        return closed
    if name == "disjoint":
        return ~closed
    if name == "touches":
        return bnd
    if name in ("within", "coveredby", "equals"):
        # geometry within a point only if the geometry is that same point
        if g.kind == W.POINT:
            return closed
        return np.zeros(len(pts), dtype=bool)
    if name in ("crosses", "overlaps"):
        return np.zeros(len(pts), dtype=bool)
    raise ValueError(f"unknown predicate {name!r}")


def distance_batch(lbufs, rbufs) -> np.ndarray:
    """Pairwise distances for aligned WKB buffers (vectorized point fast path)."""
    lbufs = list(lbufs)
    rbufs = list(rbufs)
    n = len(lbufs)
    if n == 0:
        return np.empty(0)
    l_is_pt = all(len(b) == 21 and b[0] == 1 for b in lbufs)
    r_is_pt = all(len(b) == 21 and b[0] == 1 for b in rbufs)
    if l_is_pt and r_is_pt:
        lp, rp = W.wkb_to_points(lbufs), W.wkb_to_points(rbufs)
        return np.hypot(lp[:, 0] - rp[:, 0], lp[:, 1] - rp[:, 1])
    cache: dict[bytes, W.Geometry] = {}
    out = np.empty(n)
    for i in range(n):
        out[i] = distance_pair(_parse_cached(lbufs[i], cache), _parse_cached(rbufs[i], cache))
    return out
