"""Spatial joins as native Spark plans.

This is the engine's equivalent of the reference's join stack
(/root/reference/core/src/main/java/org/apache/sedona/core/spatialOperator/JoinQuery.java:527-581,
sql/common/.../strategy/join/RangeJoinExec.scala:39, DistanceJoinExec.scala:50-84,
BroadcastIndexJoinExec.scala:43-289), in two plans:

- the cell equi-join, the reference's own documented S2-cell recipe
  (docs/api/sql/Optimizer.md:152-220):

      cover both sides with grid-cell ids -> explode -> cell equi-join
      -> native bbox prefilter -> vectorized predicate refine (Arrow batch)
      -> reference-point dedup (GeomUtils.java:327-351), expressed columnar.

  Catalyst sees a plain equi-join it already knows how to execute
  (broadcast-hash or sort-merge, AQE skew splitting, partial aggregation).
  Point sides get a single half-open cell (StandardQuadTree placeObject
  analog, StandardQuadTree.java:445-466), so point joins are duplicate-free
  with no dedup pass (GeomUtils.java:330-332).

- the broadcast index probe (BroadcastIndexJoinExec analog, :func:`_probe_join`):
  when one side is small enough to broadcast, the driver collects that
  side once, at call time, into a sorted cell index and ONE ``mapInArrow``
  streams the other side through it, covering, probing, prefiltering and
  refining each Arrow batch in the same Python call.  Each task then holds
  one Python runner instead of two (a bbox UDF plus a refine UDF in the
  same stage), and the plan has no exchange.  ``spatial_join`` takes it
  when its refine needs the Python kernel; ``distance_join`` whenever the
  distance is planar (not geography or circle mode), because its cell join
  costs a shuffle of both sides and, with WKB sides, a second runner too.
  ``salt`` splits shuffle keys, so it does not apply to the probe.

Both plans share each join rule.  The refines (``K.eval_predicate_batch``,
:func:`_points_refine`, :func:`_pair_distance`) are called by the probe on
each Arrow batch and by the cell join through ``functions._udf``'s
``geom_batch_udf``, which owns the NULL rule; which rows can match is one
box test (:func:`_box_ok`).  Neither plan declares a pandas UDF of its own.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType, StructField, StructType

from incubator_sedona_spark.cells import Grid, choose_level, grid_for_bounds
from incubator_sedona_spark.functions._udf import geom_batch_udf, geom_udf
from incubator_sedona_spark.geom import kernel as K
from incubator_sedona_spark.geom import wkb as W

BBOX_COLS = ("xmin", "ymin", "xmax", "ymax")
_CELL = "__iss_cell"

_BBOX_OVERLAP = {"intersects", "touches", "overlaps", "crosses", "equals"}
_BBOX_L_CONTAINS_R = {"contains", "covers"}
_BBOX_R_CONTAINS_L = {"within", "coveredby"}


# -- bbox derivation ---------------------------------------------------------

def with_bbox(df: DataFrame, geom_col: str = "wkb", prefix: str = "") -> DataFrame:
    """Attach (xmin, ymin, xmax, ymax) double columns derived from a WKB column.

    One Arrow-batched pandas UDF; vectorized fast path for point batches.  A
    NULL geometry gets a NULL bbox, so it covers no cell and matches nothing.
    Skipped entirely when the columns already exist (e.g. stored alongside the
    geometry in parquet — the storage-native analog of GeoParquet's bbox
    metadata, GeoParquetMetaData.scala).
    """
    cols = [prefix + c for c in BBOX_COLS]
    if all(c in df.columns for c in cols):
        return df

    def _bbox(wkb_s: pd.Series) -> list:
        return list(W.bounds_batch(wkb_s))

    # non-deterministic marker (guide on UDF duplication): the bbox
    # prefilter downstream references these UDF-derived columns, and the
    # optimizer's filter pushdown otherwise plants a SECOND ArrowEvalPython
    # evaluating the same UDF below the filter — every geometry row then
    # pays the WKB parse twice (observed in the flagship plan).  The value
    # is deterministic; the marker only stops the optimizer from cloning it.
    bbox = geom_batch_udf(ArrayType(DoubleType()), _bbox).asNondeterministic()
    df = df.withColumn("__iss_bb", bbox(F.col(geom_col)))
    for i, c in enumerate(cols):
        df = df.withColumn(c, F.col("__iss_bb")[i])
    return df.drop("__iss_bb")


def infer_grid(
    dfs: Iterable[DataFrame], level: int | None = None, prefix: str = ""
) -> Grid:
    """Derive a Grid from cheap global aggregates over bbox columns.

    Replaces the reference's driver-collected envelope sample + tree build
    (SpatialRDD.java:208-281): two tiny agg jobs instead of shipping a sample
    to the driver — scales to any input size.
    """
    minx = miny = np.inf
    maxx = maxy = -np.inf
    avg_ext = 0.0
    for df in dfs:
        row = df.agg(
            F.min(prefix + "xmin"),
            F.min(prefix + "ymin"),
            F.max(prefix + "xmax"),
            F.max(prefix + "ymax"),
            F.avg(F.col(prefix + "xmax") - F.col(prefix + "xmin")),
            F.avg(F.col(prefix + "ymax") - F.col(prefix + "ymin")),
        ).collect()[0]
        if row[0] is None:
            continue
        minx, miny = min(minx, row[0]), min(miny, row[1])
        maxx, maxy = max(maxx, row[2]), max(maxy, row[3])
        avg_ext = max(avg_ext, max(row[4] or 0.0, row[5] or 0.0))
    if not np.isfinite(minx):
        minx = miny = 0.0
        maxx = maxy = 1.0
    if level is None:
        level = choose_level(avg_ext, max(maxx - minx, maxy - miny))
    return grid_for_bounds(minx, miny, maxx, maxy, level)


# -- internals ---------------------------------------------------------------

def _explode_cells(df: DataFrame, grid: Grid, prefix: str) -> DataFrame:
    """Explode each row into its covering cells — the spatial shuffle key.

    Pure Catalyst expressions (sequence x transform x flatten): no UDF.  A
    degenerate (point) bbox yields exactly one cell, so points are never
    duplicated — the half-open single-assignment contract.
    """
    cover = grid.cover_bbox_col(
        F.col(prefix + "xmin"),
        F.col(prefix + "ymin"),
        F.col(prefix + "xmax"),
        F.col(prefix + "ymax"),
    )
    return df.withColumn(_CELL, F.explode(cover))


def _explode_cells_shape(df: DataFrame, grid: Grid, geom_col: str) -> DataFrame:
    """Shape-following covering: cells the geometry ACTUALLY intersects
    (reference S2 region covering, S2Utils.java:46-52) instead of its bbox.

    One pandas UDF on the (small, usually broadcast) polygon side; a long
    diagonal river/road covers O(length) cells, not O(area) of its bbox, so
    candidate counts stay linear.  Join safety relies on the cover being a
    superset of intersecting cells (cells.Grid.cover_geometry contract).  A
    NULL geometry covers no cell.
    """
    def _cover(g: W.Geometry) -> list:
        return grid.cover_geometry(g)

    cover = geom_udf(ArrayType(LongType()), _cover)
    return df.withColumn(_CELL, F.explode(cover(F.col(geom_col))))


def _bbox(prefix: str) -> list[Column]:
    return [F.col(prefix + c) for c in BBOX_COLS]


def _is_point(prefix: str) -> Column:
    return (F.col(prefix + "xmin") == F.col(prefix + "xmax")) & (
        F.col(prefix + "ymin") == F.col(prefix + "ymax")
    )


def _bbox_prefilter(predicate: str, l: list, r: list) -> Column:
    """Bbox test implied by ``predicate(l, r)``; each side is an (xmin, ymin,
    xmax, ymax) list of Columns or plain numbers (range_query's window)."""
    (lx0, ly0, lx1, ly1), (rx0, ry0, rx1, ry1) = l, r
    if predicate in _BBOX_L_CONTAINS_R:
        return (lx0 <= rx0) & (lx1 >= rx1) & (ly0 <= ry0) & (ly1 >= ry1)
    if predicate in _BBOX_R_CONTAINS_L:
        return (rx0 <= lx0) & (rx1 >= lx1) & (ry0 <= ly0) & (ry1 >= ly1)
    return (lx0 <= rx1) & (rx0 <= lx1) & (ly0 <= ry1) & (ry0 <= ly1)


def _box_ok(box: list):
    """The rule for which rows can match, on both plans: the row's (xmin,
    ymin, xmax, ymax) box (for a distance join's left side, the
    radius-expanded one) is finite and ordered.  Over numpy arrays or
    Columns, like :func:`_bbox_prefilter`: in Spark a NaN compares above
    +inf and a NULL fails the filter, so each comparison rejects them."""
    x0, y0, x1, y1 = box
    inf = float("inf")
    return (x0 > -inf) & (x0 <= x1) & (x1 < inf) & (y0 > -inf) & (y0 <= y1) & (y1 < inf)


def _points_refine(predicate: str, geoms, pts: np.ndarray, cache: dict | None = None) -> np.ndarray:
    """``predicate(geometry, point)`` for aligned WKB ``geoms`` and (n, 2)
    coordinate ``pts``: each distinct geometry is parsed once (into
    ``cache``, when given) and all its points go through one kernel call."""
    return K.by_geometry(
        geoms, pts, bool,
        lambda g, p: K._eval_geom_vs_points(predicate, g, p, point_is_left=False), cache,
    )


def _rect_refine_xy(predicate: str, lp: str, rx: Column, ry: Column) -> Column:
    """Native refine for AXIS-ALIGNED RECTANGLE left geometries vs point
    coordinates — bit-for-bit the kernel's `_eval_geom_vs_points` semantics
    (point_in_polygon's EPS boundary band incl. the max(len,1)/len
    perpendicular tolerance and the half-open even-odd rule), expressed as
    pure Catalyst comparisons.  The reference has the same specialization
    (RectangleRDD / JoinQuery rectangle windows); here it removes the only
    Python node from rectangle-window point joins."""
    eps = F.lit(float(K._EPS))
    x0, y0 = F.col(lp + "xmin"), F.col(lp + "ymin")
    x1, y1 = F.col(lp + "xmax"), F.col(lp + "ymax")
    w, h = x1 - x0, y1 - y0
    tol_h = eps * F.greatest(w, F.lit(1.0)) / w  # horizontal edges: |dy| band
    tol_v = eps * F.greatest(h, F.lit(1.0)) / h
    near_bt = (
        ((F.abs(ry - y0) <= tol_h) | (F.abs(ry - y1) <= tol_h))
        & (rx >= x0 - eps)
        & (rx <= x1 + eps)
    )
    near_lr = (
        ((F.abs(rx - x0) <= tol_v) | (F.abs(rx - x1) <= tol_v))
        & (ry >= y0 - eps)
        & (ry <= y1 + eps)
    )
    on_bnd = near_bt | near_lr
    # even-odd ray cast of a rectangle: one crossing iff x0 <= px < x1 with
    # the half-open y rule counting the bottom edge in, top edge out
    eo = (rx >= x0) & (rx < x1) & (ry >= y0) & (ry < y1)
    inside = eo & ~on_bnd
    closed = inside | on_bnd
    if predicate == "contains":
        return inside
    if predicate in ("covers", "intersects"):
        return closed
    if predicate == "touches":
        return on_bnd
    # within/coveredby/equals/crosses/overlaps of polygon vs point: False
    return F.lit(False)


# Auto-probing for the rectangle fast path costs one pandas pass over the
# left side; above this row count the probe itself outweighs the win it is
# trying to detect (the fast path targets small window/zone sets joined
# against huge point sides), so auto-detection declines and the kernel
# refine runs.  Callers that KNOW a big left side is all rectangles pass
# left_rect=True explicitly.
RECT_PROBE_MAX_ROWS = 100_000


def _ring_is_rectangle(r: np.ndarray) -> bool:
    """True iff the closed 5-point ring traverses the 4 distinct corners of
    its own bbox in rectangular cyclic order (each consecutive vertex pair
    differs in EXACTLY one coordinate).  The traversal-order check matters:
    a bowtie like (0,0),(1,1),(1,0),(0,1),(0,0) has 2 distinct xs/ys but is
    NOT its bbox — bbox-containment answers would silently diverge from the
    ray-cast kernel (round-3 ADVICE)."""
    if len(r) != 5 or not np.array_equal(r[0], r[-1]):
        return False
    corners = {(float(x), float(y)) for x, y in r[:4]}
    if len(corners) != 4:
        return False
    xs = {c[0] for c in corners}
    ys = {c[1] for c in corners}
    if len(xs) != 2 or len(ys) != 2:
        return False
    for i in range(4):
        dx = r[i + 1, 0] != r[i, 0]
        dy = r[i + 1, 1] != r[i, 1]
        if dx == dy:  # both changed (diagonal) or neither (repeated vertex)
            return False
    return True


def _left_all_rectangles(df: DataFrame, geom_col: str) -> bool:
    """One bounded aggregate: every left geometry is a single axis-aligned
    5-point rectangle ring equal to its own bbox.  Declines (returns False)
    without scanning when the left side exceeds RECT_PROBE_MAX_ROWS — the
    row-cap check is a limit-pushed count, not a full scan.  NULL geometries
    are skipped (they join nothing)."""
    if df.limit(RECT_PROBE_MAX_ROWS + 1).count() > RECT_PROBE_MAX_ROWS:
        return False

    def _is_rect(g: W.Geometry) -> bool:
        return g.kind == W.POLYGON and len(g.parts) == 1 and _ring_is_rectangle(g.parts[0][:, :2])

    is_rect = geom_udf(BooleanType(), _is_rect)
    row = df.agg(F.min(is_rect(F.col(geom_col))).alias("all_rect")).first()
    return bool(row.all_rect)


def _dedup_filter(grid: Grid, lp: str, rp: str) -> Column:
    """Reference-point dedup (GeomUtils.isDuplicate, GeomUtils.java:327-351).

    Keep a pair only in the cell containing the bottom-left corner of the bbox
    intersection; pairs where either side is a point are never duplicated
    (points are single-assigned).  Pure Catalyst arithmetic — the dedup costs
    no shuffle, unlike a GROUP BY pair-id dedup.
    """
    ref_x = F.greatest(F.col(lp + "xmin"), F.col(rp + "xmin"))
    ref_y = F.greatest(F.col(lp + "ymin"), F.col(rp + "ymin"))
    return _is_point(lp) | _is_point(rp) | (F.col(_CELL) == grid.point_cell_col(ref_x, ref_y))


_LEFT_ID_HOWS = ("left_semi", "left_anti", "left_outer", "existence")
_ROW_ID = "__iss_lid"


def _finish_how(left: DataFrame, inner: DataFrame, how: str, left_cols: list[str]) -> DataFrame:
    """Turn inner pair results into semi/anti/outer/existence forms.

    Mirrors BroadcastIndexJoinExec's join-type coverage
    (BroadcastIndexJoinExec.scala:57-71,244) via a matched-id back-join —
    Catalyst plans left_semi/left_anti natively.  ``existence`` returns every
    left row plus a boolean ``exists`` column (the ExistenceJoin output shape).
    """
    matched = inner.select(_ROW_ID).distinct()
    if how in ("left_semi", "left_anti"):
        return left.join(matched, _ROW_ID, how).drop(_ROW_ID)
    if how == "left_outer":
        right_cols = [c for c in inner.columns if c not in left_cols and c != _ROW_ID]
        return left.join(
            inner.select(_ROW_ID, *right_cols), _ROW_ID, "left_outer"
        ).drop(_ROW_ID)
    return (  # existence
        left.join(matched.withColumn("__iss_ex", F.lit(True)), _ROW_ID, "left_outer")
        .withColumn("exists", F.coalesce(F.col("__iss_ex"), F.lit(False)))
        .drop(_ROW_ID, "__iss_ex")
    )


def _finish_right_outer(
    rgt: DataFrame, inner: DataFrame, rp: str, left_cols: list[str], right_cols: list[str]
) -> DataFrame:
    """right_outer: every right row, left columns null where unmatched.

    Output naming matches the inner form (left names first, colliding right
    names suffixed ``_r``) — BroadcastIndexJoinExec.scala:63-65 parity.
    """
    lnames = set(left_cols)
    out_right = [c if c not in lnames else c + "_r" for c in right_cols]
    right_plain = rgt.select(
        *[F.col(rp + c).alias(o) for c, o in zip(right_cols, out_right)],
        F.col(_ROW_ID),
    )
    # extras = computed pair columns (e.g. distance_join's emit_distance):
    # carried through like left columns (null on unmatched right rows), so
    # right_outer's output contract matches left_outer's
    extras = [
        c
        for c in inner.columns
        if c != _ROW_ID and c not in lnames and c not in set(out_right)
    ]
    pairs_left = inner.select(_ROW_ID, *left_cols, *extras)
    res = right_plain.join(pairs_left, _ROW_ID, "left_outer")
    return res.select(*left_cols, *out_right, *extras)


def _with_row_id(left: DataFrame, right: DataFrame, how: str) -> tuple[DataFrame, DataFrame]:
    """Give the side a ``how`` finish back-joins to a pinned ``_ROW_ID``
    column: the id must be identical in the pair plan and the back-join plan
    (monotonically_increasing_id is plan-nondeterministic)."""
    # lazy import (pipeline imports are heavy); the pin registry lets a
    # long-lived session free these persists: pipeline.dedup.release_cached()
    from incubator_sedona_spark.pipeline.dedup import _pin

    if how in _LEFT_ID_HOWS:
        left = _pin(left.withColumn(_ROW_ID, F.monotonically_increasing_id()))
    elif how == "right_outer":
        right = _pin(right.withColumn(_ROW_ID, F.monotonically_increasing_id()))
    elif how != "inner":
        raise ValueError(f"unsupported how={how!r}")
    return left, right


# -- the shared candidate-join pipeline ----------------------------------------

def _check_srid_columns(left: DataFrame, right: DataFrame, assume_same_crs: bool) -> None:
    """CRS-mismatch guard (the engine's WKB columns are CRS-less by
    convention; a documented ``srid`` sidecar column opts a DataFrame into
    tracking).  When BOTH sides carry the column, joining sources in
    different CRSs is silent-wrong — so mixed SRIDs raise unless the caller
    passes ``assume_same_crs=True`` (spatial_join only).  Cost: one min/max
    aggregate per side, only ever paid when both sides opted in (ref:
    Constructors.java SRID plumbing; the reference carries SRID in its serde
    instead)."""
    if assume_same_crs or "srid" not in left.columns or "srid" not in right.columns:
        return
    ls = left.agg(F.min("srid").alias("lo"), F.max("srid").alias("hi")).first()
    rs = right.agg(F.min("srid").alias("lo"), F.max("srid").alias("hi")).first()
    vals = {v for v in (ls.lo, ls.hi, rs.lo, rs.hi) if v is not None}
    if len(vals) > 1:
        raise ValueError(
            f"spatial join across mixed SRIDs {sorted(vals)}: transform one side "
            "with functions.crs.st_transform; if both sides already share one "
            "CRS, set their srid columns to the same value or drop one of them "
            "(spatial_join also takes assume_same_crs=True)"
        )


def _side(df: DataFrame, geom: str, point_cols, prefix: str) -> DataFrame:
    """Prefixed join side with bbox columns: derived from WKB, or — for a
    point side with raw coordinate columns — (x, y, x, y), fully native, so
    no pandas UDF ever touches the (big) point side."""
    if point_cols is None:
        df = with_bbox(df, geom)
    else:
        x, y = point_cols
        for c, src in zip(BBOX_COLS, (x, y, x, y)):
            if c not in df.columns:
                df = df.withColumn(c, F.col(src))
    return df.select([F.col(c).alias(prefix + c) for c in df.columns])


def _cell_join(
    left: DataFrame,
    right: DataFrame,
    lft: DataFrame,
    rgt: DataFrame,
    box: str,
    predicate: str,
    grid: Grid | None,
    level: int | None,
    how: str,
    broadcast: str | None,
    salt: bool | dict | None,
    salt_min_rows: int,
    assume_same_crs: bool = False,
    shape_geom: str | None = None,
    pair_cols: dict | None = None,
    refine: Column | None = None,
    extras: list[Column] | None = None,
) -> DataFrame:
    """The candidate-join pipeline behind spatial_join and distance_join
    (TraitJoinQueryExec.scala:45-143, shared the same way by RangeJoinExec
    and DistanceJoinExec).

    ``lft``/``rgt`` are the ``l_``/``r_``-prefixed sides from :func:`_side`;
    ``box`` prefixes the left bbox that is cell-covered and prefiltered —
    ``l_`` itself, or distance_join's radius-expanded envelope.  In order:
    CRS guard, grid inference, row-id persist, cell explode (``shape_geom``:
    shape-following left cover), salting, broadcast hint, cell equi-join +
    the box rule on both boxes (:func:`_box_ok`; ``lft`` itself keeps every
    row, so the ``how`` finish returns the dropped ones unmatched) + bbox
    prefilter + reference-point dedup, ``pair_cols`` added to the
    candidates, the ``refine`` filter, bbox drop and caller-facing names
    (``extras`` appended), ``how`` finish.
    """
    _check_srid_columns(left, right, assume_same_crs)
    lp, rp = "l_", "r_"
    if grid is None:
        grid = infer_grid(
            [
                lft.select(*[F.col(box + c).alias(c) for c in BBOX_COLS]),
                rgt.select(*[F.col(rp + c).alias(c) for c in BBOX_COLS]),
            ],
            level=level,
        )

    lft, rgt = _with_row_id(lft, rgt, how)
    if shape_geom is not None:
        le = _explode_cells_shape(lft, grid, lp + shape_geom)
    else:
        le = _explode_cells(lft, grid, box)
    re = _explode_cells(rgt, grid, rp)
    join_keys: list[str] = [_CELL]
    if salt:
        # lazy import: partitioning imports this module at load time
        from incubator_sedona_spark.partitioning import find_hot_cells, salt_cells

        if isinstance(salt, dict):
            hot = {int(k): int(v) for k, v in salt.items()}
        elif right.isStreaming or left.isStreaming:
            raise ValueError(
                "salt=True detects hot cells with a count pre-aggregate, "
                "which cannot run on a streaming side; pass a dict of hot "
                "cells instead (e.g. from partitioning.find_hot_cells over "
                "the metrics ledger of previous batches)"
            )
        else:
            hot = find_hot_cells(re, cell_col=_CELL, top_k=64, min_rows=salt_min_rows)
        if hot:
            salt_col = "__iss_salt"
            re = salt_cells(re, hot, cell_col=_CELL, salt_col=salt_col)
            le = salt_cells(le, hot, cell_col=_CELL, explode_side=True, salt_col=salt_col)
            join_keys.append(salt_col)

    if broadcast == "left":
        le = F.broadcast(le)
    elif broadcast == "right":
        re = F.broadcast(re)

    cand = le.join(re, join_keys).where(
        _box_ok(_bbox(box)) & _box_ok(_bbox(rp)) & _bbox_prefilter(predicate, _bbox(box), _bbox(rp))
    )
    cand = cand.where(_dedup_filter(grid, box, rp))
    for name, expr in (pair_cols or {}).items():
        cand = cand.withColumn(name, expr)
    if refine is not None:
        cand = cand.where(refine)

    # bbox drop + caller-facing names: left columns, then right ones (suffix
    # ``_r`` on collision), extras, and the row id the ``how`` finish needs
    drop = {
        p + c for p, src in ((lp, left), (rp, right)) for c in BBOX_COLS if c not in src.columns
    }
    lcols = [c for c in cand.columns if c.startswith(lp) and c not in drop]
    lnames = {c[len(lp):] for c in lcols}
    out = [F.col(c).alias(c[len(lp):]) for c in lcols]
    for c in cand.columns:
        if c.startswith(rp) and c not in drop:
            base = c[len(rp):]
            out.append(F.col(c).alias(base + "_r" if base in lnames else base))
    out += extras or []
    if how == "inner":
        return cand.select(out)
    inner = cand.select(*out, F.col(_ROW_ID))
    if how == "right_outer":
        return _finish_right_outer(rgt, inner, rp, list(left.columns), list(right.columns))
    left_plain = lft.select(*[F.col(lp + c).alias(c) for c in left.columns], F.col(_ROW_ID))
    return _finish_how(left_plain, inner, how, list(left.columns))


# -- the broadcast index probe ---------------------------------------------------

# the optimizer's size placeholder for a relation with no statistics
_STAT_LESS = 1 << 50


def _plan_size(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate, or None where it cannot be read."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _broadcast_limit(df: DataFrame) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes (-1: off)."""
    return df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _broadcast_size(df: DataFrame) -> int | None:
    """The optimizer's size of ``df`` when Catalyst would broadcast it: at most
    :func:`_broadcast_limit`."""
    est = _plan_size(df)
    return est if est is not None and est <= _broadcast_limit(df) else None


def _auto_index_side(left: DataFrame, right: DataFrame, right_indexable: bool = True) -> str | None:
    """The side Catalyst would broadcast (:func:`_broadcast_size`).  The
    smaller qualifying side wins, the right one on a tie (BuildRight); the
    right side is a candidate only when ``right_indexable``."""
    sides = {"left": left, "right": right} if right_indexable else {"left": left}
    sizes = {side: _broadcast_size(df) for side, df in sides.items()}
    sizes = {side: est for side, est in sizes.items() if est is not None}
    return min(sizes, key=lambda side: (sizes[side], side == "left")) if sizes else None


def _expand(start: np.ndarray, count: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(group, value) for every value of the ranges [start[g], start[g] + count[g])."""
    group = np.repeat(np.arange(len(count)), count)
    first = np.cumsum(count) - count
    return group, start[group] + np.arange(len(group)) - first[group]


def _bbox_range(grid: Grid, bb: np.ndarray):
    """Clamped (ix0, iy0, ix1, iy1) cell-index ranges of an (n, 4) bbox array;
    a point's range is its one half-open cell."""
    ix0, iy0 = grid.cell_index(bb[:, 0], bb[:, 1])
    ix1, iy1 = grid.cell_index(bb[:, 2], bb[:, 3])
    return ix0, iy0, ix1, iy1


def _bbox_cells(grid: Grid, bb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(row, cell) for every cell each bbox covers: Grid.cover_bbox, batched
    (10k bboxes at level 7: 3 ms, against 272 ms row by row)."""
    ix0, iy0, ix1, iy1 = _bbox_range(grid, bb)
    row, ix = _expand(ix0, ix1 - ix0 + 1)
    grp, iy = _expand(iy0[row], (iy1 - iy0 + 1)[row])
    return row[grp], grid.pack(ix[grp], iy)


def _key_ranges(grid: Grid, keys: np.ndarray, ix0, iy0, ix1, iy1):
    """(row, lo, hi): the index entries ``keys[lo:hi]`` in one grid column of
    each cell rectangle [ix0, ix1] x [iy0, iy1].  Keys pack (ix, iy) in that
    order, so one column of a rectangle is one key range: one pair of
    ``searchsorted`` calls per column, not per cell."""
    row, ix = _expand(ix0, ix1 - ix0 + 1)
    lo = np.searchsorted(keys, grid.pack(ix, iy0[row]), "left")
    hi = np.searchsorted(keys, grid.pack(ix, iy1[row]), "right")
    return row, lo, hi


def _probe_cells(grid: Grid, keys: np.ndarray, bb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(row, entry) for every index entry in a cell each bbox covers."""
    row, lo, hi = _key_ranges(grid, keys, *_bbox_range(grid, bb))
    grp, entry = _expand(lo, hi - lo)
    return row[grp], entry


def _probe_source(df: DataFrame, point_cols, radius) -> DataFrame:
    """``df`` with the probe's double inputs appended after its own columns:
    ``__x``, ``__y`` for a coordinate side, ``__rad`` for a radius column."""
    extra = [F.col(c).cast("double").alias(n) for c, n in zip(point_cols or (), ("__x", "__y"))]
    if isinstance(radius, str):
        extra.append(F.col(radius).cast("double").alias("__rad"))
    return df.select("*", *extra) if extra else df


def _probe_rows(batch: pa.RecordBatch, n: int, geom: int | None, radius):
    """``(rows, bb, box, wkb, rad)`` for the rows of ``batch`` that can match.

    ``n`` is the side's own column count (:func:`_probe_source` columns
    follow it) and ``geom`` its WKB column, None for a coordinate side.
    ``box`` is the bbox the cover and prefilter use: ``bb`` itself, or for
    the left side of a distance join ``bb`` expanded by the radius
    (``radius``: a number, or a column name for the ``__rad`` column).
    Rows with a NULL geometry or a box that fails :func:`_box_ok` (a
    non-finite coordinate; a NULL, NaN, infinite or, for a point, negative
    radius) are dropped; the cell join applies the same rule in its
    candidate filter.
    """
    if geom is None:
        x, y = (batch.column(n + k).to_numpy(zero_copy_only=False) for k in (0, 1))
        rows, wkb, bb = np.arange(batch.num_rows), None, np.column_stack([x, y, x, y])
    else:
        col = batch.column(geom)
        rows = np.flatnonzero(col.is_valid().to_numpy(zero_copy_only=False))
        wkb = col.to_numpy(zero_copy_only=False)[rows]
        bb = W.bounds_batch(wkb)
    rad, box = None, bb
    if radius is not None:
        rad = (
            batch.column(batch.num_columns - 1).to_numpy(zero_copy_only=False)[rows]
            if isinstance(radius, str) else np.full(len(rows), float(radius))
        )
        box = np.column_stack([bb[:, 0] - rad, bb[:, 1] - rad, bb[:, 2] + rad, bb[:, 3] + rad])
    ok = _box_ok(list(box.T))
    return (
        rows[ok], bb[ok], box[ok], None if wkb is None else wkb[ok], None if rad is None else rad[ok]
    )


def _collect_batch(df: DataFrame) -> pa.RecordBatch:
    """An index side's rows, collected once (``toArrow``), as one Arrow batch."""
    tab = df.toArrow()
    return pa.RecordBatch.from_arrays([c.combine_chunks() for c in tab.columns], names=tab.column_names)


def _sorted_keys(cells: np.ndarray, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The probe index: packed cell keys ascending, each with its row position."""
    order = np.argsort(cells, kind="stable")
    return cells[order], rows[order]


def _arrow_stage(src: DataFrame, fn, fields: list, names: list[str]) -> DataFrame:
    """``src.mapInArrow`` over ``fn``, which yields lists of Arrow columns
    typed as ``fields``.  The stage's columns are positional (the two sides
    may share names); one ``select`` restores ``names``."""
    pos = [f"__c{i}" for i in range(len(fields))]
    schema = StructType([StructField(p, f.dataType, f.nullable) for p, f in zip(pos, fields)])

    def _batches(batches):
        for cols in fn(batches):
            yield pa.RecordBatch.from_arrays(cols, names=pos)

    return src.mapInArrow(_batches, schema).select([F.col(p).alias(n) for p, n in zip(pos, names)])


def _pair_distance(lbb: np.ndarray, rbb: np.ndarray, lwkb, rwkb) -> np.ndarray:
    """distance_join's cell-join distance, pair by pair.  Point pairs (both
    bboxes degenerate) get ``sqrt(dx**2 + dy**2)`` on the bbox corners:
    bit-identical to Catalyst's ``sqrt(pow(dx, 2) + pow(dy, 2))``, because
    Spark's ``Pow`` is ``StrictMath.pow`` and fdlibm returns ``x*x`` for
    ``y == 2``.  Other pairs go through ``K.distance_batch``; a
    coordinate side (``wkb`` None) passes its points as WKB.  Both plans
    call it: the probe per batch, the cell join through
    :func:`_distance_col`."""
    d = np.sqrt((lbb[:, 0] - rbb[:, 0]) ** 2 + (lbb[:, 1] - rbb[:, 1]) ** 2)
    point = (lbb[:, 0] == lbb[:, 2]) & (lbb[:, 1] == lbb[:, 3])
    point &= (rbb[:, 0] == rbb[:, 2]) & (rbb[:, 1] == rbb[:, 3])
    other = np.flatnonzero(~point)
    if len(other):
        d[other] = K.distance_batch(*(
            W.points_to_wkb(bb[other, 0], bb[other, 1]) if wkb is None else wkb[other]
            for wkb, bb in ((lwkb, lbb), (rwkb, rbb))
        ))
    return d


def _probe_join(
    left: DataFrame,
    right: DataFrame,
    index: str,
    left_geom: str,
    right_geom: str,
    grid: Grid | None,
    level: int | None,
    how: str,
    predicate: str = "intersects",
    left_point_cols: tuple[str, str] | None = None,
    right_point_cols: tuple[str, str] | None = None,
    shape_cover: bool = False,
    assume_same_crs: bool = False,
    radius: float | str | None = None,
    include_boundary: bool = True,
    emit_distance: str | None = None,
) -> DataFrame:
    """Broadcast index join (BroadcastIndexJoinExec.scala:43-289 analog):
    the ``index`` side is collected once and built into a flat cell index on
    the driver; one ``mapInArrow`` over the other (stream) side probes it.
    It runs ``spatial_join``'s ``predicate`` or, with a ``radius``,
    ``distance_join``: the left side's bboxes are expanded by the radius
    (a number or a left column), whichever side is the left one.

    Build: rows that cannot match dropped (:func:`_probe_rows`), bboxes
    from ``W.bounds_batch`` or the coordinate columns, cells from the bbox
    cover (or ``cover_geometry`` for ``shape_cover``), stored as sorted
    packed cell keys with their row positions.  Without a ``grid`` the grid
    is sized from the index boxes alone, so no aggregate job runs.

    Probe, per Arrow batch: stream boxes, one key range per covered grid
    column, unique (stream, index) pairs (this replaces the reference-point
    dedup), the bbox prefilter, then the refine: the kernel predicate, or
    :func:`_pair_distance` against the radius (``<=``, or ``<`` without
    ``include_boundary``), optionally emitted as ``emit_distance``.  For a
    predicate, coordinate points go through :func:`_points_refine` with a
    cache for the task, so each index geometry is parsed once per task; WKB
    pairs go through ``K.eval_predicate_batch``, which parses each geometry
    once per batch.  The cell join calls the same functions through
    ``geom_batch_udf``.  Both sides' rows stay Arrow from
    collect to output (``take`` on the index and on each stream batch), so
    every column type comes back exactly as it went in.  The result is the
    inner pairs with the cell join's names and types; the ``how`` finish is
    shared.
    """
    _check_srid_columns(left, right, assume_same_crs)
    left_cols, right_cols = list(left.columns), list(right.columns)
    left, right = _with_row_id(left, right, how)
    sides = {
        "left": (left, left_geom, left_point_cols, radius),
        "right": (right, right_geom, right_point_cols, None),
    }
    (idx_df, i_geom, i_xy, i_rad), (stream, s_geom, s_xy, s_rad) = (
        sides[index], sides["right" if index == "left" else "left"]
    )
    n_i, n_s = len(idx_df.columns), len(stream.columns)
    ig = None if i_xy else idx_df.columns.index(i_geom)
    sg = None if s_xy else stream.columns.index(s_geom)

    # build: the index side's rows as one Arrow batch, matchable rows only
    ibatch = _collect_batch(_probe_source(idx_df, i_xy, i_rad))
    irows, ibb, ibox, _, irad = _probe_rows(ibatch, n_i, ig, i_rad)
    ibatch = ibatch.take(pa.array(irows, pa.int64()))
    if grid is None:
        # infer_grid's rule over the index boxes alone
        bb = ibox if len(ibox) else np.array([[0.0, 0.0, 1.0, 1.0]])
        (x0, y0), (x1, y1) = bb[:, :2].min(axis=0), bb[:, 2:].max(axis=0)
        if level is None:
            ext = max((bb[:, 2] - bb[:, 0]).mean(), (bb[:, 3] - bb[:, 1]).mean())
            level = choose_level(float(ext), float(max(x1 - x0, y1 - y0)))
        grid = grid_for_bounds(float(x0), float(y0), float(x1), float(y1), level)
    if shape_cover:
        iwkb = ibatch.column(ig).to_numpy(zero_copy_only=False)
        covers = [grid.cover_geometry(W.loads(b)) for b in iwkb]
        rows = np.repeat(np.arange(len(covers)), [len(c) for c in covers])
        cells = np.concatenate(covers) if covers else np.empty(0, np.int64)
    else:
        rows, cells = _bbox_cells(grid, ibox)
    keys, kpos = _sorted_keys(cells, rows)
    n_idx = max(ibatch.num_rows, 1)

    def lr(idx, strm):
        """``(index, stream)`` parts in left, right order."""
        return (idx, strm) if index == "left" else (strm, idx)

    def _probe(batches):
        # the index geometries from the shipped batch, not a second copy
        iwkb = None if ig is None else ibatch.column(ig).to_numpy(zero_copy_only=False)
        cache: dict[bytes, W.Geometry] = {}  # index geometries parsed, for the task
        for batch in batches:
            valid, sbb, sbox, swkb, srad = _probe_rows(batch, n_s, sg, s_rad)
            row, entry = _probe_cells(grid, keys, sbox)
            pair = np.unique(row * n_idx + kpos[entry])
            srow, ipos = pair // n_idx, pair % n_idx
            lbox, rbox = lr(ibox[ipos], sbox[srow])
            keep = _bbox_prefilter(predicate, list(lbox.T), list(rbox.T))
            srow, ipos = srow[keep], ipos[keep]
            extra = []
            if radius is not None:
                d = _pair_distance(
                    *lr(ibb[ipos], sbb[srow]),
                    *lr(None if iwkb is None else iwkb[ipos], None if swkb is None else swkb[srow]),
                )
                rad = irad[ipos] if index == "left" else srad[srow]
                hit = d <= rad if include_boundary else d < rad
                if emit_distance:
                    extra = [pa.array(d[hit], pa.float64())]
            elif s_xy:
                hit = _points_refine(predicate, iwkb[ipos], sbb[srow, :2], cache)
            else:
                hit = K.eval_predicate_batch(predicate, *lr(iwkb[ipos], swkb[srow]))
            srow, ipos = valid[srow[hit]], ipos[hit]
            if len(srow):
                lcols, rcols = lr(ibatch.take(ipos).columns[:n_i], batch.take(srow).columns[:n_s])
                yield lcols + rcols + extra

    fields = [f for part in lr(idx_df.schema.fields, stream.schema.fields) for f in part]
    fields += [StructField(emit_distance, DoubleType())] if emit_distance else []
    lnames = set(left_cols)
    names = list(left.columns) + [c + "_r" if c in lnames else c for c in right.columns]
    names += [emit_distance] if emit_distance else []
    inner = _arrow_stage(_probe_source(stream, s_xy, s_rad), _probe, fields, names)
    if how == "inner":
        return inner
    if how == "right_outer":
        return _finish_right_outer(right, inner, "", left_cols, right_cols)
    return _finish_how(left, inner, how, left_cols)


# -- public operators ---------------------------------------------------------

def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "wkb",
    right_geom: str = "wkb",
    grid: Grid | None = None,
    level: int | None = None,
    how: str = "inner",
    broadcast: str | None = None,
    refine: bool = True,
    right_point_cols: tuple[str, str] | None = None,
    left_cover: str = "bbox",
    assume_same_crs: bool = False,
    left_rect: bool | str = "auto",
    salt: bool | dict | None = None,
    salt_min_rows: int = 100_000,
) -> DataFrame:
    """Join two geometry DataFrames on a spatial predicate.

    RangeJoinExec analog (RangeJoinExec.scala:39 + TraitJoinQueryExec.scala:45-143).
    Output = left columns ++ right columns (collisions suffixed ``_r``), inner
    dup contract identical to the reference: each qualifying pair exactly once.

    ``broadcast``: "left"/"right" names the side to broadcast.  When the
    refine needs the Python kernel (WKB x WKB, or non-rectangle polygons x
    coordinate points) and neither side streams, the broadcast side becomes
    a driver-built cell index that one ``mapInArrow`` over the other side
    probes (BroadcastIndexJoinExec analog, see :func:`_probe_join`).  The
    side is the hinted one, else a stat-less small left side (one bounded
    count, below), else the side Catalyst itself would broadcast: optimizer
    size at most ``spark.sql.autoBroadcastJoinThreshold``, the smaller one,
    the right one on a tie.  A coordinate-point side is never the index.
    The index side is read once, when ``spatial_join`` is called: the
    returned DataFrame keeps probing those rows, so re-running it after the
    index side's source changes does not see the change.
    Every other join (no broadcast side, a rectangle or no refine,
    streaming) is the cell equi-join, where the hint is a Catalyst broadcast
    hint on that exploded side.  ``how``: inner, left_semi, left_anti,
    left_outer, right_outer, existence.

    ``left_cover="shape"`` replaces the left side's bbox cell cover with a
    shape-following cover (high-aspect geometries stop exploding into their
    whole bbox).  Requires ``right_point_cols`` (single-cell right side keeps
    the pair-uniqueness contract without the reference-point rule, whose
    reference cell may fall outside a shape cover).

    ``salt`` — hot-cell skew handling (the engine's answer to the
    reference's balanced-KDB default partitioner, KDB.java:90-235 /
    SedonaConf.java:75).  ``True``: one cheap count-by-cell pre-aggregate
    over the exploded RIGHT side finds cells above ``salt_min_rows``; those
    cells' right rows get a deterministic sub-key in [0, 8) and the left
    rows covering them replicate into all 8 sub-keys, so the equi-join on
    (cell, salt) is output-identical to the cell join while the hot cell's
    candidate work spreads over 8 reducers.  The factor is fixed: 8 splits
    a hot cell across a typical executor set while the left side's hot-cell
    rows replicate only 8x, and the output never depends on it.  A dict
    {cell_id: rows} (e.g. from partitioning.find_hot_cells on the metrics
    ledger) skips the pre-aggregate.  Default off: AQE's skew-join
    splitting already re-plans runtime skew for the sort-merge case, and
    broadcast joins (small polygon side — the common shape) never shuffle
    the probe side at all; salting is for the big x big join whose skew is
    known up front, or when AQE is unavailable (e.g. streaming).  ``salt``
    has no effect on the broadcast index probe: it splits shuffle keys, and
    the probe has none.
    """
    if predicate == "disjoint":
        raise NotImplementedError(
            "disjoint is not cell-joinable (it is the complement of intersects); "
            "use spatial_join(..., 'intersects', how='left_anti')"
        )
    if predicate not in K.PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    if left_cover == "shape" and right_point_cols is None:
        raise ValueError("left_cover='shape' requires right_point_cols")
    streaming = left.isStreaming or right.isStreaming
    if broadcast is None and right_point_cols is not None and not streaming:
        # A stat-less left side (e.g. a createDataFrame zones table) defeats
        # both Catalyst's auto-broadcast AND AQE's runtime conversion, which
        # would leave a SortMergeJoin that shuffles the big point side.  When
        # the optimizer only has the size placeholder, one bounded
        # limit-count decides; a genuinely big left side pays one cheap
        # limit-pushed job and keeps the shuffle plan.  The confirmed-small
        # side is then MATERIALIZED with an eager localCheckpoint: it cuts
        # the lineage, so the broadcast index build (or, on the rectangle
        # path, the bbox stage and broadcast build) reads the materialized
        # rows and no construction UDF re-runs per job (a list-built
        # relation is pickled Python slices the RDD runner re-evaluates on
        # every job).  The coalesce shrinks the pandas-UDF stages over it
        # (bbox, rectangle probe) to a handful of Arrow tasks.
        est = _plan_size(left)
        if est is not None and est >= _STAT_LESS:
            n_left = left.limit(100_001).count()
            if n_left <= 100_000:
                broadcast = "left"
                left = left.localCheckpoint(eager=True).coalesce(
                    max(1, min(8, 1 + n_left // 2000))
                )

    # rectangle-window fast path (RectangleRDD analog): when every left
    # geometry is its own bbox, the kernel's polygon-vs-point answer is a
    # pure comparison, so the join runs zero Python
    rect = refine and right_point_cols is not None and (
        left_rect if isinstance(left_rect, bool) else _left_all_rectangles(left, left_geom)
    )
    if refine and not rect and not streaming:
        index = broadcast or _auto_index_side(left, right, right_point_cols is None)
        if index == "left" or (index == "right" and right_point_cols is None):
            return _probe_join(
                left, right, index, left_geom, right_geom, grid, level, how, predicate,
                right_point_cols=right_point_cols, shape_cover=left_cover == "shape",
                assume_same_crs=assume_same_crs,
            )

    lp, rp = "l_", "r_"
    lft = _side(left, left_geom, None, lp)
    rgt = _side(right, right_geom, right_point_cols, rp)
    cond = None
    if rect:
        rx, ry = (F.col(rp + c) for c in right_point_cols)
        cond = _rect_refine_xy(predicate, lp, rx, ry)
    elif refine and right_point_cols is None:
        def predicate_refine(lw, rw):
            return K.eval_predicate_batch(predicate, lw, rw)

        cond = geom_batch_udf(BooleanType(), predicate_refine)(
            F.col(lp + left_geom), F.col(rp + right_geom)
        )
    elif refine:
        def points_refine(lw, rx, ry):
            pts = np.column_stack([rx.to_numpy(np.float64), ry.to_numpy(np.float64)])
            return _points_refine(predicate, lw, pts)

        rx, ry = (F.col(rp + c) for c in right_point_cols)
        cond = geom_batch_udf(BooleanType(), points_refine)(F.col(lp + left_geom), rx, ry)
    return _cell_join(
        left, right, lft, rgt, lp, predicate, grid, level, how, broadcast, salt,
        salt_min_rows, assume_same_crs=assume_same_crs,
        shape_geom=left_geom if left_cover == "shape" else None,
        refine=cond,
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float | str,
    left_geom: str = "wkb",
    right_geom: str = "wkb",
    grid: Grid | None = None,
    level: int | None = None,
    how: str = "inner",
    broadcast: str | None = None,
    mode: str = "distance",
    include_boundary: bool = True,
    emit_distance: str | None = None,
    left_point_cols: tuple[str, str] | None = None,
    right_point_cols: tuple[str, str] | None = None,
    geography: bool = False,
    salt: bool | dict | None = None,
    salt_min_rows: int = 100_000,
) -> DataFrame:
    """Join pairs with ST_Distance(left, right) <= radius (or < if not include_boundary).

    DistanceJoinExec analog (DistanceJoinExec.scala:50-84): the LEFT side's
    envelope is expanded by the radius (TraitJoinQueryBase.scala:51-66) and
    fed to the same two plans as :func:`spatial_join` (an ``intersects``
    join); the refine is a vectorized distance computation.  ``radius`` is
    a number or a left column name; a Column raises ``TypeError`` (add it
    with ``left.withColumn(name, expr)`` and pass the name).

    Which plan runs: the broadcast index probe (:func:`_probe_join`, the
    reference's BroadcastIndexJoinExec with expanded envelopes) when
    ``mode="distance"``, ``geography`` is off, neither side streams and one
    side is broadcast: the ``broadcast`` hint, else the side Catalyst
    itself would broadcast (optimizer size at most
    ``spark.sql.autoBroadcastJoinThreshold``, the smaller one, the right
    one on a tie).  Unlike in :func:`spatial_join`, a coordinate-point side
    may be the index.  One ``mapInArrow`` then covers, probes and refines
    each batch, with no exchange and no second Python runner; rows and
    ``emit_distance`` values are the cell join's, bit for bit.  The index
    side is read once, when ``distance_join`` is called: the returned
    DataFrame keeps probing those rows.  Every other join (geography,
    circle mode, no broadcast side, streaming) is the cell equi-join, where
    the hint is a Catalyst broadcast hint; its non-point pairs go through
    the probe's :func:`_pair_distance`, and a coordinate side passes its
    coordinates, so its WKB column is never read.  On both plans a row
    whose radius is NULL, NaN, infinite or negative matches nothing (its
    expanded box fails :func:`_box_ok`, or no distance is that small) and
    comes back unmatched in the outer forms.
    ``how``, ``salt``/``salt_min_rows`` (fixed salt factor 8, cell join
    only: the probe has no shuffle keys to split) and the ``srid`` mismatch
    guard behave as in :func:`spatial_join`.

    ``mode="circle"`` reproduces the reference's CircleRDD semantics exactly
    (Circle.java:76-81): distance measured from the bbox *center* of the left
    geometry with the radius clamped to at least the half-diagonal of its bbox.
    The clamp leaves the rule above as it is: a NULL, NaN, infinite or
    negative radius matches nothing.
    ``mode="distance"`` (default) is true geometry-to-geometry distance — what
    ST_Distance-based SQL computes.  For point-point inputs the two coincide
    and the refine is pure Catalyst arithmetic (no UDF at all).
    """
    if isinstance(radius, Column):
        raise TypeError(
            "distance_join's radius is a number or a left column name; add a computed "
            "radius with left.withColumn(name, expr) and pass the name"
        )
    if mode == "distance" and not geography and not (left.isStreaming or right.isStreaming):
        index = broadcast or _auto_index_side(left, right)
        if index is not None:
            return _probe_join(
                left, right, index, left_geom, right_geom, grid, level, how,
                left_point_cols=left_point_cols, right_point_cols=right_point_cols,
                radius=radius, include_boundary=include_boundary, emit_distance=emit_distance,
            )

    lp, rp = "l_", "r_"
    lft = _side(left, left_geom, left_point_cols, lp)
    rgt = _side(right, right_geom, right_point_cols, rp)
    lb, rb = dict(zip(BBOX_COLS, _bbox(lp))), dict(zip(BBOX_COLS, _bbox(rp)))
    rad = F.col(lp + radius) if isinstance(radius, str) else F.lit(float(radius))
    meter_rad = rad
    lon_scale = F.lit(1.0)
    if geography:
        # geography mode: radius given in METERS; the envelope expansion
        # converts to degrees with the reference's constants — earth radius
        # 6357000 m and a 10% safety fudge (TraitJoinQueryBase.scala:84-97).
        # The LONGITUDE delta must additionally be divided by cos(lat +/-
        # latDelta) (reference expandEnvelope): one degree of longitude spans
        # cos(lat) fewer meters away from the equator, so above ~25 deg the
        # flat 1.1 fudge alone under-expands the bbox and drops true pairs.
        # The refine below then computes haversine distance in meters.
        rad = rad / F.lit(6357000.0) * F.lit(180.0 / math.pi) * F.lit(1.1)
        worst_abs_lat = F.greatest(F.abs(lb["ymin"] - rad), F.abs(lb["ymax"] + rad))
        lon_scale = F.lit(1.0) / F.cos(F.radians(F.least(worst_abs_lat, F.lit(89.9))))

    cx = (lb["xmin"] + lb["xmax"]) / 2.0
    cy = (lb["ymin"] + lb["ymax"]) / 2.0
    if mode == "circle":
        half_diag = F.sqrt(
            F.pow(lb["xmax"] - lb["xmin"], 2) + F.pow(lb["ymax"] - lb["ymin"], 2)
        ) / 2.0
        # greatest() skips NULL: the clamp applies to a usable radius only,
        # so a NULL or negative one stays unusable and matches nothing
        rad = F.when(rad >= 0, F.greatest(rad, half_diag))
        lo_x, lo_y, hi_x, hi_y = cx, cy, cx, cy
    else:
        lo_x, lo_y, hi_x, hi_y = lb["xmin"], lb["ymin"], lb["xmax"], lb["ymax"]
    lft = lft.withColumn("__iss_rad", rad)
    expanded = (lo_x - rad * lon_scale, lo_y - rad, hi_x + rad * lon_scale, hi_y + rad)
    for c, e in zip(BBOX_COLS, expanded):
        lft = lft.withColumn("e_" + c, e)

    rgeom = None if right_point_cols else F.col(rp + right_geom)
    if mode == "circle":
        # distance from the left bbox centre, a point box
        dist = _distance_col([cx, cy, cx, cy], _bbox(rp), None, rgeom)
    elif geography:
        # haversine meters, pure Catalyst (Haversine.java analog, R=6371008)
        rl1, rl2 = F.radians(lb["ymin"]), F.radians(rb["ymin"])
        dlat = rl2 - rl1
        dlon = F.radians(rb["xmin"]) - F.radians(lb["xmin"])
        hav = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2)
        dist = F.lit(2.0 * 6371008.0) * F.asin(F.sqrt(hav))
    else:
        lgeom = None if left_point_cols else F.col(lp + left_geom)
        dist = _distance_col(_bbox(lp), _bbox(rp), lgeom, rgeom)
    pair_cols = {"__iss_dist": dist}
    if geography:
        pair_cols["__iss_rad"] = meter_rad
    d, r = F.col("__iss_dist"), F.col("__iss_rad")
    return _cell_join(
        left, right, lft, rgt, "e_", "intersects", grid, level, how, broadcast, salt,
        salt_min_rows, pair_cols=pair_cols, refine=d <= r if include_boundary else d < r,
        extras=[d.alias(emit_distance)] if emit_distance else None,
    )


def _distance_col(lbox: list[Column], rbox: list[Column], lwkb: Column | None, rwkb: Column | None):
    """:func:`_pair_distance` as the cell join's pair column.  Two coordinate
    sides (both WKB Columns None) keep Catalyst's ``sqrt(pow(dx, 2) +
    pow(dy, 2))`` and no UDF; otherwise one ``geom_batch_udf`` over both
    boxes and the WKB side(s)."""
    if lwkb is None and rwkb is None:
        return F.sqrt(F.pow(lbox[0] - rbox[0], 2) + F.pow(lbox[1] - rbox[1], 2))

    has_wkb = (lwkb is not None, rwkb is not None)  # the UDF must not capture Columns

    def pair_distance(*cols):
        lbb, rbb = (np.column_stack([c.to_numpy(np.float64) for c in cols[i:i + 4]]) for i in (0, 4))
        wkb = iter(c.to_numpy() for c in cols[8:])
        return _pair_distance(lbb, rbb, *(next(wkb) if h else None for h in has_wkb))

    geoms = [g for g in (lwkb, rwkb) if g is not None]
    return geom_batch_udf(DoubleType(), pair_distance)(*lbox, *rbox, *geoms)


def range_query(
    df: DataFrame,
    window_wkb: bytes,
    predicate: str = "intersects",
    geom_col: str = "wkb",
    invert_args: bool = False,
) -> DataFrame:
    """Filter rows by a literal query window.

    RangeQuery.SpatialRangeQuery analog (RangeQuery.java:53-94): a native bbox
    prefilter (pushed to the parquet scan when bbox columns are stored) plus a
    vectorized refine against the constant window.  ``predicate(geom, window)``
    unless ``invert_args``.
    """
    pred = K.INVERSE[predicate] if invert_args else predicate
    # bbox prefilter: the window's bounds are the (literal) right argument
    window = [float(v) for v in W.loads(window_wkb).bounds]
    out = with_bbox(df, geom_col).where(_bbox_prefilter(pred, _bbox(""), window))

    def window_refine(wkb_s):
        win = [window_wkb] * len(wkb_s)
        return K.eval_predicate_batch(predicate, *((win, wkb_s) if invert_args else (wkb_s, win)))

    out = out.where(geom_batch_udf(BooleanType(), window_refine)(F.col(geom_col)))
    return out.select(df.columns)
