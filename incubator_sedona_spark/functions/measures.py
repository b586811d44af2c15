"""Shape measures: minimum bounding circle, Hausdorff and Frechet distance.

Reference surface: ST_MinimumBoundingCircle / ST_MinimumBoundingRadius
(Catalog.scala, impls in common/.../Functions.java via JTS MinimumBoundingCircle),
ST_HausdorffDistance (JTS DiscreteHausdorffDistance; vertex-discrete, optional
densify fraction) and ST_FrechetDistance (JTS DiscreteFrechetDistance).
All implemented as seeded/deterministic numpy, wrapped in Arrow-batched UDFs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql.types import ArrayType, BinaryType, DoubleType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import wkb as W


# -- minimum bounding circle (Welzl, deterministic shuffle) --------------------

def _circle_two(a, b):
    c = (a + b) / 2.0
    return c, float(np.hypot(*(a - c)))


def _circle_three(a, b, c):
    ax, ay = a
    bx, by = b
    cx, cy = c
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if abs(d) < 1e-24:
        # collinear: widest pair
        pts = np.array([a, b, c])
        dd = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1)
        i, j = np.unravel_index(np.argmax(dd), dd.shape)
        return _circle_two(pts[i], pts[j])
    ux = ((ax**2 + ay**2) * (by - cy) + (bx**2 + by**2) * (cy - ay) + (cx**2 + cy**2) * (ay - by)) / d
    uy = ((ax**2 + ay**2) * (cx - bx) + (bx**2 + by**2) * (ax - cx) + (cx**2 + cy**2) * (bx - ax)) / d
    ctr = np.array([ux, uy])
    return ctr, float(np.hypot(*(a - ctr)))


def _in_circle(p, c, r):
    return np.hypot(*(p - c)) <= r * (1 + 1e-12) + 1e-24


def min_bounding_circle(pts: np.ndarray):
    """Welzl's algorithm, iterative form (move-to-front), deterministic order."""
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if len(p) == 0:
        return np.array([0.0, 0.0]), 0.0
    if len(p) == 1:
        return p[0], 0.0
    rng = np.random.default_rng(12345)
    p = p[rng.permutation(len(p))]
    c, r = _circle_two(p[0], p[1])
    for i in range(2, len(p)):
        if _in_circle(p[i], c, r):
            continue
        c, r = _circle_two(p[0], p[i])
        for j in range(1, i):
            if _in_circle(p[j], c, r):
                continue
            c, r = _circle_two(p[i], p[j])
            for k in range(j):
                if _in_circle(p[k], c, r):
                    continue
                c, r = _circle_three(p[i], p[j], p[k])
    return c, r


def st_minimum_bounding_radius(wkb_col: Column) -> Column:
    """array<double>(cx, cy, radius) — ST_MinimumBoundingRadius analog."""

    def _radius(g: W.Geometry) -> np.ndarray:
        c, r = min_bounding_circle(g.vertices())
        return np.array([c[0], c[1], r])

    return geom_udf(ArrayType(DoubleType()), _radius)(wkb_col)


def st_minimum_bounding_circle(wkb_col: Column, quadrant_segments: int = 8) -> Column:
    """WKB polygon approximating the minimum bounding circle (JTS default
    quadrantSegments=8 -> 32-gon)."""
    nseg = 4 * quadrant_segments

    def _circle(g: W.Geometry) -> W.Geometry:
        c, r = min_bounding_circle(g.vertices())
        if r == 0:
            return W.point(c[0], c[1])
        ang = np.linspace(0.0, 2 * np.pi, nseg, endpoint=False)
        return W.polygon(np.column_stack([c[0] + r * np.cos(ang), c[1] + r * np.sin(ang)]))

    return geom_udf(BinaryType(), _circle)(wkb_col)


# -- Hausdorff / Frechet -------------------------------------------------------

def _densified(g: W.Geometry, frac: float | None) -> np.ndarray:
    v = g.vertices()
    if not frac:
        return v
    segs = g.edges()
    if not len(segs):
        return v
    k = max(1, int(round(1.0 / frac)))
    ts = np.arange(1, k)[:, None] / k
    extra = []
    for sx1, sy1, sx2, sy2 in segs:
        extra.append(np.column_stack([sx1 + ts * (sx2 - sx1), sy1 + ts * (sy2 - sy1)]).reshape(-1, 2))
    return np.concatenate([v] + extra, axis=0)


def hausdorff(a: W.Geometry, b: W.Geometry, densify_frac: float | None = None) -> float:
    """Discrete (vertex) Hausdorff distance, JTS DiscreteHausdorffDistance
    semantics: symmetric max of directed point-set distances, optional
    densification of segments at the given fraction."""
    pa, pb = _densified(a, densify_frac), _densified(b, densify_frac)
    d = np.sqrt(((pa[:, None, :] - pb[None, :, :]) ** 2).sum(-1))
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))


def frechet(a: W.Geometry, b: W.Geometry) -> float:
    """Discrete Frechet distance (JTS DiscreteFrechetDistance) by DP."""
    pa, pb = a.vertices(), b.vertices()
    n, m = len(pa), len(pb)
    d = np.sqrt(((pa[:, None, :] - pb[None, :, :]) ** 2).sum(-1))
    ca = np.full((n, m), np.inf)
    ca[0, 0] = d[0, 0]
    for i in range(1, n):
        ca[i, 0] = max(ca[i - 1, 0], d[i, 0])
    for j in range(1, m):
        ca[0, j] = max(ca[0, j - 1], d[0, j])
    for i in range(1, n):
        np_min = np.minimum
        for j in range(1, m):
            ca[i, j] = max(min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]), d[i, j])
    return float(ca[n - 1, m - 1])


def st_hausdorff_distance(a: Column, b: Column, densify_frac: float | None = None) -> Column:
    return geom_udf(DoubleType(), lambda x, y: hausdorff(x, y, densify_frac))(a, b)


def st_frechet_distance(a: Column, b: Column) -> Column:
    return geom_udf(DoubleType(), frechet)(a, b)
