"""Uniform cell grid — the engine's spatial shuffle key.

Replaces the reference's driver-built quadtree/KDB partitioners
(/root/reference/core/src/main/java/org/apache/sedona/core/spatialPartitioning/QuadtreePartitioning.java:43-64,
KDB.java:90-235) with a *static* power-of-two grid, equivalent to the
reference's own EQUALGRID mode (SpatialRDD.java:252-261) and its documented
S2-cell join recipe (docs/api/sql/Optimizer.md:152-220): every geometry maps to
the int64 ids of the grid cells its bbox intersects; points map to exactly ONE
cell via half-open ``[min, max)`` assignment — the same single-assignment rule
as StandardQuadTree.placeObject (StandardQuadTree.java:445-466) — which is what
makes point joins duplicate-free with no dedup pass (GeomUtils.java:330-332).

Skew is handled downstream by AQE skew-join splitting plus optional explicit
salting (operators/joins.py), not by a driver-side balanced tree: at 100 TB a
collected sample + broadcast tree is a driver bottleneck, while a static grid
key is computed fully JVM-side by codegen'd expressions.

Cell id packing: ``(level << 58) | (ix << 29) | iy`` — int64, level <= 28,
ix/iy < 2^29.  The (level, ix, iy) triple doubles as the quadkey lineage id
(LineageDecoder analog, viz/.../utils/LineageDecoder.scala).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Global bounds padding, mirroring SpatialRDD.java:245-249 (pad +0.01 so
# max-edge geometries stay inside the grid).
BOUNDARY_PAD = 0.01

# cell id bit layout (see module docstring); only this module knows it
_LEVEL_SHIFT = 58
_IX_SHIFT = 29
_IXY_MASK = (1 << _IX_SHIFT) - 1


@dataclass(frozen=True)
class Grid:
    minx: float
    miny: float
    maxx: float
    maxy: float
    level: int

    @property
    def n(self) -> int:
        return 1 << self.level

    @property
    def cw(self) -> float:
        return (self.maxx - self.minx) / self.n

    @property
    def ch(self) -> float:
        return (self.maxy - self.miny) / self.n

    # -- python/numpy side ---------------------------------------------------
    def pack(self, ix, iy):
        return (
            (np.int64(self.level) << _LEVEL_SHIFT)
            | (np.asarray(ix, dtype=np.int64) << _IX_SHIFT)
            | np.asarray(iy, dtype=np.int64)
        )

    @staticmethod
    def unpack(cell: int):
        cell = int(cell)
        return (cell >> _LEVEL_SHIFT) & 0x3F, (cell >> _IX_SHIFT) & _IXY_MASK, cell & _IXY_MASK

    def cell_index(self, x, y):
        """Clamped half-open (ix, iy) cell indices of coordinates (vectorized)."""
        ix = np.clip(np.floor((np.asarray(x) - self.minx) / self.cw), 0, self.n - 1)
        iy = np.clip(np.floor((np.asarray(y) - self.miny) / self.ch), 0, self.n - 1)
        return ix.astype(np.int64), iy.astype(np.int64)

    def _bbox_index_grid(self, xmin, ymin, xmax, ymax):
        """Flat (ix, iy) arrays of every cell index in the clamped bbox range."""
        (ix0, ix1), (iy0, iy1) = self.cell_index([xmin, xmax], [ymin, ymax])
        gx, gy = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1), indexing="ij")
        return gx.ravel(), gy.ravel()

    def point_cells(self, x, y) -> np.ndarray:
        """Single half-open cell assignment per point (vectorized)."""
        return self.pack(*self.cell_index(x, y))

    def cover_bbox(self, xmin, ymin, xmax, ymax) -> np.ndarray:
        """All cells whose extent intersects the (closed) bbox."""
        return self.pack(*self._bbox_index_grid(xmin, ymin, xmax, ymax))

    def cover_bbox_batch(self, bounds: np.ndarray) -> list:
        """Covering cell-id arrays for an (n, 4) bbox batch (pandas-UDF body)."""
        return [self.cover_bbox(*row) for row in bounds]

    def cell_bounds(self, cell: int):
        _, ix, iy = self.unpack(cell)
        return (
            self.minx + ix * self.cw,
            self.miny + iy * self.ch,
            self.minx + (ix + 1) * self.cw,
            self.miny + (iy + 1) * self.ch,
        )

    def ring_cells(self, cell: int, k: int) -> np.ndarray:
        """Cells at Chebyshev distance exactly k from ``cell`` (kNN expansion)."""
        _, ix, iy = self.unpack(cell)
        out = []
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                jx, jy = ix + dx, iy + dy
                if max(abs(dx), abs(dy)) == k and 0 <= jx < self.n and 0 <= jy < self.n:
                    out.append(self.pack(jx, jy))
        return np.array(out, dtype=np.int64)

    def _edge_cells(self, x1: float, y1: float, x2: float, y2: float) -> set:
        """Supercover: (ix, iy) of every cell a segment passes through.

        Crossing-midpoint method: split the segment at every gridline
        crossing; each sub-interval's midpoint identifies one cell.  Exact
        corner passes add the 4 surrounding cells and run-along-gridline
        segments add both adjacent cells, so the cover stays a superset of
        all intersecting cells (join safety: losing a cell loses pairs)."""
        n = self.n
        u1, v1 = (x1 - self.minx) / self.cw, (y1 - self.miny) / self.ch
        u2, v2 = (x2 - self.minx) / self.cw, (y2 - self.miny) / self.ch
        ts = {0.0, 1.0}
        if u1 != u2:
            lo, hi = min(u1, u2), max(u1, u2)
            for gx in range(int(np.ceil(lo)), int(np.floor(hi)) + 1):
                ts.add((gx - u1) / (u2 - u1))
        if v1 != v2:
            lo, hi = min(v1, v2), max(v1, v2)
            for gy in range(int(np.ceil(lo)), int(np.floor(hi)) + 1):
                ts.add((gy - v1) / (v2 - v1))
        ts = sorted(t for t in ts if 0.0 <= t <= 1.0)
        eps = 1e-9
        cells: set = set()

        def add(u: float, v: float, both_if_on_line: bool):
            iu, iv = np.floor(u), np.floor(v)
            on_u = abs(u - round(u)) <= eps
            on_v = abs(v - round(v)) <= eps
            us = [int(round(u)) - 1, int(round(u))] if (on_u and both_if_on_line) else [int(iu)]
            vs = [int(round(v)) - 1, int(round(v))] if (on_v and both_if_on_line) else [int(iv)]
            for a in us:
                for b in vs:
                    if 0 <= a < n and 0 <= b < n:
                        cells.add((a, b))

        for ta, tb in zip(ts[:-1], ts[1:]):
            tm = (ta + tb) / 2.0
            add(u1 + tm * (u2 - u1), v1 + tm * (v2 - v1), both_if_on_line=True)
        for t in ts:  # crossing points / endpoints: conservative 4-neighborhood
            add(u1 + t * (u2 - u1), v1 + t * (v2 - v1), both_if_on_line=True)
        return cells

    def cover_geometry(self, g) -> np.ndarray:
        """Cells ACTUALLY intersecting the geometry — shape-following covering
        (reference S2 region covering analog, common/.../utils/S2Utils.java:46-52).

        Boundary cells come from an edge supercover; interior cells from a
        vectorized center-in-polygon test over the bbox cell range.  A long
        diagonal geometry covers O(length) cells instead of its O(area) bbox,
        which is what keeps candidate counts linear at scale."""
        from incubator_sedona_spark.geom import kernel as K
        from incubator_sedona_spark.geom import wkb as W

        cells: set = set()
        polygonal = False
        for leaf in g.leaves():
            if leaf.kind == W.POINT:
                ix, iy = self.cell_index(leaf.parts[0, 0], leaf.parts[0, 1])
                cells.add((int(ix), int(iy)))
            elif leaf.kind == W.POLYGON:
                polygonal = True
        for e in g.edges():
            cells |= self._edge_cells(e[0], e[1], e[2], e[3])
        if polygonal:
            gx, gy = self._bbox_index_grid(*g.bounds)
            cx = self.minx + (gx + 0.5) * self.cw
            cy = self.miny + (gy + 0.5) * self.ch
            inside, bnd = K.point_in_polygon(g, np.column_stack([cx, cy]))
            for a, b in zip(gx[inside | bnd], gy[inside | bnd]):
                cells.add((int(a), int(b)))
        if not cells:
            # degenerate/outside-grid geometry: fall back to clamped bbox cover
            return self.cover_bbox(*g.bounds)
        arr = np.array(sorted(cells), dtype=np.int64)
        return self.pack(arr[:, 0], arr[:, 1])

    def quadkey(self, cell: int) -> str:
        """Base-4 lineage string for a cell (LineageDecoder analog)."""
        _, ix, iy = self.unpack(cell)
        digits = []
        for b in range(self.level - 1, -1, -1):
            digits.append(str(((ix >> b) & 1) | (((iy >> b) & 1) << 1)))
        return "".join(digits)

    # -- Spark-native (codegen'd, no UDF) expressions -------------------------
    def cell_index_col(self, x: Column, y: Column) -> tuple[Column, Column]:
        """Clamped half-open (ix, iy) cell-index columns, pure Catalyst exprs."""

        def idx(c: Column, lo: float, w: float) -> Column:
            return F.least(
                F.lit(self.n - 1), F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(w)))
            ).cast("long")

        return idx(x, self.minx, self.cw), idx(y, self.miny, self.ch)

    def pack_col(self, ix: Column, iy: Column) -> Column:
        """Cell id column from long (ix, iy) index columns."""
        return (
            F.shiftleft(F.lit(self.level).cast("long"), _LEVEL_SHIFT)
            .bitwiseOR(F.shiftleft(ix, _IX_SHIFT))
            .bitwiseOR(iy)
        )

    @staticmethod
    def unpack_col(cell: Column) -> tuple[Column, Column]:
        """(ix, iy) index columns of a cell id column."""
        mask = F.lit(_IXY_MASK)
        return F.shiftright(cell, _IX_SHIFT).bitwiseAND(mask), cell.bitwiseAND(mask)

    def point_cell_col(self, x: Column, y: Column) -> Column:
        """Half-open single-cell id for point columns, pure Catalyst exprs."""
        return self.pack_col(*self.cell_index_col(x, y))

    def cover_bbox_col(self, xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
        """array<long> of covering cells for bbox columns — pure Catalyst.

        Built from ``sequence`` x ``transform``/``flatten``: stays JVM-side, so
        polygon cell covering costs no Python round trip.
        """
        ix0, iy0 = self.cell_index_col(xmin, ymin)
        ix1, iy1 = self.cell_index_col(xmax, ymax)
        return F.flatten(
            F.transform(
                F.sequence(ix0, ix1),
                lambda ix: F.transform(
                    F.sequence(iy0, iy1), lambda iy: self.pack_col(ix, iy)
                ),
            )
        )


def grid_for_bounds(
    minx: float, miny: float, maxx: float, maxy: float, level: int, pad: float = BOUNDARY_PAD
) -> Grid:
    """Grid over padded data bounds (pad per SpatialRDD.java:245-249)."""
    return Grid(minx, miny, maxx + pad, maxy + pad, level)


def choose_level(avg_extent: float, world_extent: float, target_cells_per_geom: float = 4.0) -> int:
    """Pick a grid level so an average geometry covers ~target_cells_per_geom cells.

    Heuristic stand-in for the reference's sampled tree sizing
    (RDDSampleUtils.getSampleNumbers); computable from cheap agg stats
    (avg bbox width) instead of a collected sample.
    """
    if avg_extent <= 0:
        return 12
    cells_per_axis = world_extent / avg_extent * (target_cells_per_geom ** 0.5) / 2.0
    level = int(np.clip(np.ceil(np.log2(max(cells_per_axis, 1.0))), 1, 28))
    return level
