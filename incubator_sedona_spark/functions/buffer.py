"""True round ST_Buffer (positive distances).

The reference's ST_Buffer is JTS BufferOp with quadrantSegments=8
(/root/reference/common/src/main/java/org/apache/sedona/common/Functions.java, Catalog.scala).
This engine builds the buffer as a MINKOWSKI-SUM UNION — the original
geometry, a rectangle per edge (extruded +/- d along the edge normal) and a
(4*quadrant_segments)-gon disk per vertex — dissolved with the N-ary overlay
union (geom/clip.py).  The disk polygon is inscribed in the true circle, so
areas approach pi*d^2 from below exactly as JTS's segment approximation does.

Scope: positive distances over points, lines and polygons (incl. multi/holed).
Negative (erosion) buffers raise — documented gap, not silent wrongness.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql.types import BinaryType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import clip as CL
from incubator_sedona_spark.geom import wkb as W


def _disk_ring(cx: float, cy: float, d: float, nseg: int) -> np.ndarray:
    ang = np.linspace(0.0, 2.0 * np.pi, nseg, endpoint=False)
    pts = np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])
    return np.concatenate([pts, pts[:1]], axis=0)


def _edge_rect(x1, y1, x2, y2, d: float) -> np.ndarray:
    dx, dy = x2 - x1, y2 - y1
    ln = np.hypot(dx, dy)
    nx, ny = -dy / ln * d, dx / ln * d
    return np.array(
        [
            (x1 + nx, y1 + ny),
            (x2 + nx, y2 + ny),
            (x2 - nx, y2 - ny),
            (x1 - nx, y1 - ny),
            (x1 + nx, y1 + ny),
        ]
    )


def buffer_geometry(g: W.Geometry, dist: float, quadrant_segments: int = 8) -> W.Geometry:
    if dist < 0:
        raise NotImplementedError("negative (erosion) buffers are not supported")
    if dist == 0:
        return g
    nseg = 4 * quadrant_segments
    ring_sets: list[list[np.ndarray]] = []
    for leaf in g.leaves():
        if leaf.kind == W.POLYGON:
            ring_sets.append(leaf.parts)  # the polygon itself
            coords = [r for r in leaf.parts]
        elif leaf.kind == W.LINESTRING:
            coords = [leaf.parts]
        else:  # POINT
            ring_sets.append([_disk_ring(leaf.parts[0, 0], leaf.parts[0, 1], dist, nseg)])
            continue
        for arr in coords:
            for i in range(len(arr) - 1):
                x1, y1, x2, y2 = arr[i, 0], arr[i, 1], arr[i + 1, 0], arr[i + 1, 1]
                if x1 == x2 and y1 == y2:
                    continue
                ring_sets.append([_edge_rect(x1, y1, x2, y2, dist)])
            for i in range(len(arr) - (1 if len(arr) > 1 and np.array_equal(arr[0], arr[-1]) else 0)):
                ring_sets.append([_disk_ring(arr[i, 0], arr[i, 1], dist, nseg)])
    rings = CL.union_many(ring_sets)
    edges = CL._edges_of_rings(rings)
    eps = CL._scale_of(edges) * 1e-9
    return CL.rings_to_geometry(rings, eps)


def st_buffer(wkb_col: Column, dist: float, quadrant_segments: int = 8) -> Column:
    return geom_udf(BinaryType(), lambda g: buffer_geometry(g, dist, quadrant_segments))(wkb_col)
