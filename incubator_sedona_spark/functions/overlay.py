"""Overlay (per-row geometry set ops) + spatial aggregates.

Reference surface: ST_Intersection / ST_Union / ST_Difference /
ST_SymDifference (Catalog.scala:72-75) and the three spatial aggregates
(AggregateFunctions.scala:56-170).

Polygon x polygon Boolean ops go through the general overlay kernel
(geom/clip.py): concave, holed and multi inputs are all supported, and
``st_union_aggr`` dissolves (two-stage: salted partial unions, then a final
merge — the Aggregator reduce/merge contract expressed as two hash
aggregations).  Point and line operands keep the direct special cases.
``st_envelope_aggr`` stays a pure native min/max aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BinaryType

from incubator_sedona_spark.functions._udf import geom_udf
from incubator_sedona_spark.functions.st import st_polygon_from_envelope
from incubator_sedona_spark.geom import clip as CL
from incubator_sedona_spark.geom import kernel as K
from incubator_sedona_spark.geom import wkb as W


def _is_convex(ring: np.ndarray) -> bool:
    r = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(r)
    if n < 3:
        return False
    sign = 0
    for i in range(n):
        a, b, c = r[i], r[(i + 1) % n], r[(i + 2) % n]
        cr = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        if abs(cr) < 1e-12:
            continue
        s = 1 if cr > 0 else -1
        if sign == 0:
            sign = s
        elif s != sign:
            return False
    return True


def _clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip a polygon ring by a CONVEX ring (both open)."""
    r = clip[:-1] if np.array_equal(clip[0], clip[-1]) else clip
    # ensure counter-clockwise clip ring
    area2 = np.sum(r[:, 0] * np.roll(r[:, 1], -1) - np.roll(r[:, 0], -1) * r[:, 1])
    if area2 < 0:
        r = r[::-1]
    out = list(subject[:-1] if np.array_equal(subject[0], subject[-1]) else subject)
    for i in range(len(r)):
        a, b = r[i], r[(i + 1) % len(r)]
        inp = out
        out = []
        if not inp:
            break
        for j in range(len(inp)):
            p, q = inp[j], inp[(j + 1) % len(inp)]
            side_p = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
            side_q = (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])
            if side_p >= -1e-12:
                out.append(p)
            if (side_p > 1e-12 and side_q < -1e-12) or (side_p < -1e-12 and side_q > 1e-12):
                t = side_p / (side_p - side_q)
                out.append(p + t * (np.asarray(q) - np.asarray(p)))
    return np.array(out) if out else np.empty((0, 2))


def _is_line(g: W.Geometry) -> bool:
    leaves = list(g.leaves())
    return bool(leaves) and all(l.kind == W.LINESTRING for l in leaves)


def clip_line_to_polygon(line: W.Geometry, poly: W.Geometry) -> W.Geometry:
    """line ∩ polygon: split line edges at the polygon boundary, keep covered
    sub-edges (closed test) — MultiLineString result."""
    le = CL._edges_of_rings([l.parts for l in line.leaves() if l.kind == W.LINESTRING])
    pr = CL.rings_of_geometry(poly)
    pe = CL._edges_of_rings(pr)
    eps = CL._scale_of(le, pe) * 1e-9
    subs = CL._subdivide(le, CL._split_params(le, pe, eps))
    if len(subs) == 0:
        return W.multi(W.GEOMETRYCOLLECTION, [])
    mids = np.column_stack([(subs[:, 0] + subs[:, 2]) / 2, (subs[:, 1] + subs[:, 3]) / 2])
    inside, bnd = K.point_in_polygon(poly, mids)
    keep = subs[inside | bnd]
    parts = [W.Geometry(W.LINESTRING, np.array([s[0:2], s[2:4]])) for s in keep]
    if not parts:
        return W.multi(W.GEOMETRYCOLLECTION, [])
    return parts[0] if len(parts) == 1 else W.multi(W.MULTILINESTRING, parts)


def intersection_pair(a: W.Geometry, b: W.Geometry) -> W.Geometry:
    """Geometric intersection: exact for point/line/polygon operands of any
    shape (concave, holed, multi) via the overlay kernel."""
    if a.kind == W.POINT:
        return a if K.predicate_pair("intersects", a, b) else W.multi(W.GEOMETRYCOLLECTION, [])
    if b.kind == W.POINT:
        return b if K.predicate_pair("intersects", a, b) else W.multi(W.GEOMETRYCOLLECTION, [])
    if _is_line(a) and K._is_polygonal(b):
        return clip_line_to_polygon(a, b)
    if _is_line(b) and K._is_polygonal(a):
        return clip_line_to_polygon(b, a)
    if K._is_polygonal(a) and K._is_polygonal(b):
        # fast exact path for the common convex case, general overlay otherwise
        if (
            a.kind == W.POLYGON and b.kind == W.POLYGON
            and len(a.parts) == 1 and len(b.parts) == 1
            and (_is_convex(a.parts[0]) or _is_convex(b.parts[0]))
        ):
            if _is_convex(b.parts[0]):
                ring = _clip_convex(a.parts[0], b.parts[0])
            else:
                ring = _clip_convex(b.parts[0], a.parts[0])
            if len(ring) < 3:
                return W.multi(W.GEOMETRYCOLLECTION, [])
            return W.polygon(ring)
        return CL.overlay_geoms(a, b, "intersection")
    raise NotImplementedError(f"intersection for kinds ({a.kind}, {b.kind})")


def overlay_pair(a: W.Geometry, b: W.Geometry, op: str) -> W.Geometry:
    """union / difference / symdifference for polygonal operands (dissolving)."""
    if op == "intersection":
        return intersection_pair(a, b)
    if not (K._is_polygonal(a) and K._is_polygonal(b)):
        raise NotImplementedError(f"{op} implemented for polygonal operands")
    return CL.overlay_geoms(a, b, op)


def _overlay_udf(op: str):
    return geom_udf(BinaryType(), lambda a, b: overlay_pair(a, b, op))


def st_intersection(a: Column, b: Column) -> Column:
    return _overlay_udf("intersection")(a, b)


def st_union(a: Column, b: Column) -> Column:
    """Dissolving pairwise union (general overlay)."""
    return _overlay_udf("union")(a, b)


def st_difference(a: Column, b: Column) -> Column:
    return _overlay_udf("difference")(a, b)


def st_sym_difference(a: Column, b: Column) -> Column:
    return _overlay_udf("symdifference")(a, b)


def st_union_aggr(
    df: DataFrame,
    geom_col: str = "wkb",
    group_by: list | None = None,
    partial_buckets: int = 32,
) -> DataFrame:
    """Dissolving ST_Union_Aggr (AggregateFunctions.scala:56-70).

    Two-stage, mirroring the Aggregator reduce/merge contract: rows are salted
    into ``partial_buckets`` groups, each bucket dissolves its geometries with
    one N-ary overlay (union_many — cost bounded by edge + crossing counts,
    not by a pairwise fold), then the partials merge in a final union.  Both
    stages are hash aggregations, so the heavy geometry never converges on the
    driver.  Output column: ``union_wkb``.
    """
    gb = group_by or []

    @F.pandas_udf(BinaryType())
    def _union_lists(geom_lists: pd.Series) -> pd.Series:
        out = []
        for lst in geom_lists:
            ring_sets = [CL.rings_of_geometry(W.loads(b)) for b in lst]
            rings = CL.union_many(ring_sets)
            edges = CL._edges_of_rings(rings)
            eps = CL._scale_of(edges) * 1e-9
            out.append(W.dumps(CL.rings_to_geometry(rings, eps)))
        return pd.Series(out)

    salt = F.pmod(F.xxhash64(F.col(geom_col)), F.lit(partial_buckets)).alias("__salt")
    partial = (
        df.select(*gb, F.col(geom_col), salt)
        .groupBy(*gb, "__salt")
        .agg(F.collect_list(geom_col).alias("__geoms"))
        .withColumn("__partial", _union_lists(F.col("__geoms")))
        .drop("__geoms")
    )
    final = (
        partial.groupBy(*gb)
        .agg(F.collect_list("__partial").alias("__geoms"))
        .withColumn("union_wkb", _union_lists(F.col("__geoms")))
        .drop("__geoms", "__salt")
    )
    return final


def st_union_collect(a: Column, b: Column) -> Column:
    """Union as a (Multi-)collection WITHOUT dissolving overlaps — exact for
    disjoint inputs; documented approximation otherwise."""

    def _collect(ga: W.Geometry, gb: W.Geometry) -> W.Geometry:
        leaves = list(ga.leaves()) + list(gb.leaves())
        kinds = {g.kind for g in leaves}
        if kinds == {W.POLYGON}:
            return W.multi(W.MULTIPOLYGON, leaves)
        if kinds == {W.POINT}:
            return W.multi(W.MULTIPOINT, leaves)
        return W.multi(W.GEOMETRYCOLLECTION, leaves)

    return geom_udf(BinaryType(), _collect)(a, b)


def st_intersection_aggr(df: DataFrame, geom_col: str = "wkb", group_by: list | None = None) -> DataFrame:
    """ST_Intersection_Aggr (AggregateFunctions.scala:157-170) — the common
    intersection of all geometries per group.

    Left fold of pairwise intersections (convex pairs take the
    Sutherland-Hodgman fast path, anything else the general overlay kernel);
    the running intersection only shrinks, so the fold is bounded by the
    smallest input.
    """
    gb = group_by or []
    grouped = df.groupBy(*gb).agg(F.collect_list(geom_col).alias("__geoms"))

    @F.pandas_udf(BinaryType())
    def _fold(geom_lists: pd.Series) -> pd.Series:
        out = []
        for lst in geom_lists:
            geoms = [W.loads(b) for b in lst]
            acc = geoms[0]
            for g in geoms[1:]:
                acc = intersection_pair(acc, g)
                if not list(acc.leaves()):
                    break
            out.append(W.dumps(acc))
        return pd.Series(out)

    return grouped.withColumn("intersection_wkb", _fold(F.col("__geoms"))).drop("__geoms")


# -- aggregates -------------------------------------------------------------------

def st_envelope_aggr(df: DataFrame, geom_col: str = "wkb", group_by: list | None = None) -> DataFrame:
    """ST_Envelope_Aggr (AggregateFunctions.scala:76-115): the enclosing box.

    Pure native min/max aggregation over bbox columns — map-side partial
    aggregation makes it one cheap pass at any scale.  Output columns:
    env_xmin/env_ymin/env_xmax/env_ymax + env_wkb.
    """
    from incubator_sedona_spark.operators.joins import with_bbox

    src = with_bbox(df, geom_col)
    aggs = [
        F.min("xmin").alias("env_xmin"),
        F.min("ymin").alias("env_ymin"),
        F.max("xmax").alias("env_xmax"),
        F.max("ymax").alias("env_ymax"),
    ]
    out = src.groupBy(*(group_by or [])).agg(*aggs) if group_by else src.agg(*aggs)
    box = st_polygon_from_envelope(*(F.col("env_" + c) for c in ("xmin", "ymin", "xmax", "ymax")))
    return out.withColumn("env_wkb", box)


def st_collect_aggr(df: DataFrame, geom_col: str = "wkb", group_by: list | None = None) -> DataFrame:
    """ST_Collect over groups: rows -> one Multi*/GeometryCollection per group
    (collect/union-without-dissolve; exact for disjoint inputs, which is the
    tiling case the reference's ST_Union_Aggr is used for in its tests)."""

    @F.pandas_udf(BinaryType())
    def _collect(wkbs: pd.Series) -> pd.Series:
        leaves = []
        for b in wkbs:
            leaves.extend(W.loads(b).leaves())
        kinds = {g.kind for g in leaves}
        if kinds == {W.POLYGON}:
            g = W.multi(W.MULTIPOLYGON, leaves)
        elif kinds == {W.POINT}:
            g = W.multi(W.MULTIPOINT, leaves)
        elif kinds == {W.LINESTRING}:
            g = W.multi(W.MULTILINESTRING, leaves)
        else:
            g = W.multi(W.GEOMETRYCOLLECTION, leaves)
        return pd.Series([W.dumps(g)])

    # two-stage: per-partition partial collect, then final merge — mirrors the
    # reference Aggregator's reduce/merge contract
    gb = group_by or []
    grouped = df.groupBy(*gb).agg(F.collect_list(geom_col).alias("__geoms"))

    @F.pandas_udf(BinaryType())
    def _merge(geom_lists: pd.Series) -> pd.Series:
        out = []
        for lst in geom_lists:
            leaves = []
            for b in lst:
                leaves.extend(W.loads(b).leaves())
            kinds = {g.kind for g in leaves}
            if kinds == {W.POLYGON}:
                g = W.multi(W.MULTIPOLYGON, leaves)
            elif kinds == {W.POINT}:
                g = W.multi(W.MULTIPOINT, leaves)
            elif kinds == {W.LINESTRING}:
                g = W.multi(W.MULTILINESTRING, leaves)
            else:
                g = W.multi(W.GEOMETRYCOLLECTION, leaves)
            out.append(W.dumps(g))
        return pd.Series(out)

    return grouped.withColumn("collected_wkb", _merge(F.col("__geoms"))).drop("__geoms")
