"""ST_SubDivide / ST_SubDivideExplode / ST_Split.

Reference: GeometrySubDivider recursively quarters a geometry's envelope and
clips until every piece has at most maxVertices
(/root/reference/common/src/main/java/org/apache/sedona/common/subDivide/GeometrySubDivider.java,
Catalog.scala:120-121); GeometrySplitter splits by a blade geometry
(common/.../utils/GeometrySplitter.java, Catalog.scala:145).

Engine mapping:
- subdivide: recursive bbox HALVING along the longer axis; each half-box is
  convex, so the clip is the exact general overlay intersection.  Subdividing
  is the reference's own tool for taming huge geometries before joins — the
  pieces carry small bboxes, so the cell cover stops exploding.
- split: blade must be a single straight line segment (extended to a full
  line); the two half-plane clips are exact.  Polyline blades raise.
- SubDivideExplode = subdivide + F.explode (generators are explodes here).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, BinaryType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import clip as CL
from incubator_sedona_spark.geom import wkb as W

_MIN_VERTICES = 5  # reference GeometrySubDivider minimum allowed maxVertices


def _nvertices(g: W.Geometry) -> int:
    return len(g.vertices())


def _clip_box(g: W.Geometry, x0, y0, x1, y1) -> W.Geometry:
    box_rings = [np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])]
    rings = CL.overlay_rings(CL.rings_of_geometry(g), box_rings, "intersection")
    edges = CL._edges_of_rings(rings)
    eps = CL._scale_of(edges) * 1e-9 if len(edges) else 1e-9
    return CL.rings_to_geometry(rings, eps)


def subdivide_geometry(g: W.Geometry, max_vertices: int) -> list[W.Geometry]:
    """Recursively halve the envelope until each polygonal piece is small."""
    max_vertices = max(max_vertices, _MIN_VERTICES)
    out: list[W.Geometry] = []
    stack = [g]
    while stack:
        cur = stack.pop()
        leaves = list(cur.leaves())
        if not leaves:
            continue
        if len(leaves) > 1:
            stack.extend(leaves)
            continue
        if _nvertices(cur) <= max_vertices or not any(
            l.kind == W.POLYGON for l in leaves
        ):
            out.append(cur)
            continue
        x0, y0, x1, y1 = cur.bounds
        if x1 - x0 >= y1 - y0:
            xm = (x0 + x1) / 2.0
            halves = [(x0, y0, xm, y1), (xm, y0, x1, y1)]
        else:
            ym = (y0 + y1) / 2.0
            halves = [(x0, y0, x1, ym), (x0, ym, x1, y1)]
        for hx0, hy0, hx1, hy1 in halves:
            piece = _clip_box(cur, hx0, hy0, hx1, hy1)
            if list(piece.leaves()):
                stack.append(piece)
    return out


def st_subdivide(wkb_col: Column, max_vertices: int) -> Column:
    """array<binary> of pieces (explode for ST_SubDivideExplode)."""

    def _pieces(g: W.Geometry) -> list:
        return [W.dumps(p) for p in subdivide_geometry(g, max_vertices)]

    return geom_udf(ArrayType(BinaryType()), _pieces)(wkb_col)


def st_subdivide_explode(df, geom_col: str, max_vertices: int, out_col: str = "geom"):
    return df.withColumn(out_col, F.explode(st_subdivide(F.col(geom_col), max_vertices)))


def split_by_line(g: W.Geometry, p1, p2) -> list[W.Geometry]:
    """Split a polygonal geometry by the infinite line through p1-p2: the two
    exact half-plane clips (each half-plane realized as a large convex box)."""
    x0, y0, x1, y1 = g.bounds
    ext = max(x1 - x0, y1 - y0, 1.0) * 4.0
    p1 = np.asarray(p1, dtype=np.float64)
    p2 = np.asarray(p2, dtype=np.float64)
    d = p2 - p1
    ln = float(np.hypot(*d))
    if ln == 0:
        raise ValueError("degenerate blade")
    d = d / ln
    nrm = np.array([-d[1], d[0]])
    mid = (np.array([x0 + x1, y0 + y1]) / 2.0)
    # anchor the blade line near the geometry, extend well past its bounds
    t = float(np.dot(mid - p1, d))
    c = p1 + t * d
    a, b = c - d * ext, c + d * ext
    out = []
    for side in (1.0, -1.0):
        half = [np.array([a, b, b + side * nrm * ext, a + side * nrm * ext, a])]
        rings = CL.overlay_rings(CL.rings_of_geometry(g), half, "intersection")
        edges = CL._edges_of_rings(rings)
        eps = CL._scale_of(edges) * 1e-9 if len(edges) else 1e-9
        piece = CL.rings_to_geometry(rings, eps)
        if list(piece.leaves()):
            out.append(piece)
    return out


def st_split(wkb_col: Column, blade_col: Column) -> Column:
    """array<binary> pieces of geom split by a single-segment line blade."""

    def _split(g: W.Geometry, blade: W.Geometry) -> list:
        if blade.kind != W.LINESTRING or len(blade.parts) != 2:
            raise NotImplementedError("st_split supports single-segment line blades")
        return [W.dumps(p) for p in split_by_line(g, blade.parts[0], blade.parts[1])]

    return geom_udf(ArrayType(BinaryType()), _split)(wkb_col, blade_col)
