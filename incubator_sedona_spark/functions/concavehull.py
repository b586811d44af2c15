"""ST_ConcaveHull — Delaunay-based concave hull (chi-shape).

Reference: ST_ConcaveHull(geom, pctConvex[, allowHoles]) backed by JTS
ConcaveHull (Catalog.scala; JTS concaveHullByLengthRatio): build the Delaunay
triangulation of the vertices, then erode the boundary by removing border
triangles whose border edge is longer than
``minLen + ratio * (maxLen - minLen)`` while the shape stays regular (the
exposed vertex is not already on the border — no pinch points).

Pure-numpy Bowyer-Watson triangulation (O(n^2), fine for the per-geometry UDF
sizes this serves); deterministic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql.types import BinaryType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.geom import wkb as W


def delaunay(pts: np.ndarray) -> list[tuple[int, int, int]]:
    """Bowyer-Watson over unique points; returns index triples."""
    p = np.asarray(pts, dtype=np.float64).copy()
    n = len(p)
    if n < 3:
        return []
    # deterministic micro-jitter: exact cocircularity (points sampled from
    # circles/grids) breaks the non-robust incircle predicate; a 1e-9-relative
    # symbolic perturbation moves hull vertices immeasurably but makes the
    # triangulation decisions unambiguous
    span0 = max(p[:, 0].ptp(), p[:, 1].ptp(), 1.0)
    rng = np.random.default_rng(987654321)
    p += rng.uniform(-1.0, 1.0, p.shape) * span0 * 1e-9
    # super-triangle
    cx, cy = p[:, 0].mean(), p[:, 1].mean()
    span = span0 * 16.0
    sp = np.array([[cx - span, cy - span], [cx + span, cy - span], [cx, cy + span]])
    P = np.vstack([p, sp])
    tris: list[tuple[int, int, int]] = [(n, n + 1, n + 2)]

    def circum_ok(tri, q):
        a, b, c = P[tri[0]], P[tri[1]], P[tri[2]]
        ax, ay = a - q
        bx, by = b - q
        cx2, cy2 = c - q
        det = (
            (ax * ax + ay * ay) * (bx * cy2 - cx2 * by)
            - (bx * bx + by * by) * (ax * cy2 - cx2 * ay)
            + (cx2 * cx2 + cy2 * cy2) * (ax * by - bx * ay)
        )
        # orientation of the triangle decides the sign convention
        orient = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return det * np.sign(orient) > 0

    for i in range(n):
        q = P[i]
        bad = [t for t in tris if circum_ok(t, q)]
        if not bad:
            continue
        # cavity border: edges belonging to exactly one bad triangle
        edge_count: dict[tuple, int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_count[k] = edge_count.get(k, 0) + 1
        border = [e for e, c in edge_count.items() if c == 1]
        tris = [t for t in tris if t not in bad]
        for a, b in border:
            tris.append((a, b, i))
    # drop triangles touching the super-triangle
    return [t for t in tris if max(t) < n]


def concave_hull_rings(
    pts: np.ndarray, ratio: float, allow_holes: bool = False
) -> list[np.ndarray]:
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    tris = delaunay(p)
    if not tris:
        return []
    tri_set = set(tris)

    def edges_of(t):
        return [tuple(sorted(e)) for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0]))]

    def elen(e):
        return float(np.hypot(*(p[e[0]] - p[e[1]])))

    all_lens = [elen(e) for t in tris for e in edges_of(t)]
    thresh = min(all_lens) + float(ratio) * (max(all_lens) - min(all_lens))

    def edge_owner_count():
        cnt: dict[tuple, int] = {}
        for t in tri_set:
            for e in edges_of(t):
                cnt[e] = cnt.get(e, 0) + 1
        return cnt

    cnt = edge_owner_count()
    changed = True
    while changed:
        changed = False
        border_verts = {v for e, c in cnt.items() if c == 1 for v in e}
        # candidate: border triangle with exactly one border edge longer than
        # the threshold whose opposite vertex is interior (chi regularity)
        best, best_len = None, thresh
        for t in tri_set:
            es = edges_of(t)
            bes = [e for e in es if cnt[e] == 1]
            if len(bes) != 1:
                continue
            e = bes[0]
            opp = next(v for v in t if v not in e)
            if opp in border_verts:
                continue
            L = elen(e)
            if L > best_len:
                best, best_len = t, L
        if best is not None:
            tri_set.remove(best)
            for e in edges_of(best):
                cnt[e] = cnt.get(e, 0) - 1
                if cnt[e] == 0:
                    del cnt[e]
            changed = True
    border = [e for e, c in cnt.items() if c == 1]
    # stitch border edges into rings
    adj: dict[int, list[int]] = {}
    for a, b in border:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    used = set()
    rings = []
    for a, b in border:
        if (a, b) in used:
            continue
        ring = [a, b]
        used.add((a, b))
        used.add((b, a))
        while ring[-1] != ring[0]:
            cur, prev = ring[-1], ring[-2]
            nxts = [v for v in adj[cur] if (cur, v) not in used]
            if not nxts:
                break
            ring.append(nxts[0])
            used.add((cur, nxts[0]))
            used.add((nxts[0], cur))
        if ring[-1] == ring[0] and len(ring) >= 4:
            rings.append(p[np.asarray(ring)])
    if not allow_holes and len(rings) > 1:
        # keep only the ring with the largest absolute area (the outer shell)
        areas = [
            abs(float(np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1])) / 2) for r in rings
        ]
        rings = [rings[int(np.argmax(areas))]]
    return rings


def concave_hull(g: W.Geometry, ratio: float, allow_holes: bool = False) -> W.Geometry:
    rings = concave_hull_rings(g.vertices(), ratio, allow_holes)
    if not rings:
        return g
    return W.Geometry(W.POLYGON, rings)


def st_concave_hull(wkb_col: Column, pct_convex: float, allow_holes: bool = False) -> Column:
    return geom_udf(BinaryType(), lambda g: concave_hull(g, pct_convex, allow_holes))(wkb_col)
