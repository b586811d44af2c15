"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) over the
driver's TPC-H-ish parquet tables; ``oracle_sql()`` gives the DuckDB-runnable
ANSI equivalent.  Spatial inputs are derived deterministically from integer
keys via a documented hash bijection (same arithmetic inlined in both engines,
so results match bit-for-bit):

    lon(k) = ((k * 2654435761) % 2^32) / 2^32 * 100
    lat(k) = (((k + 7919) * 2246822519) % 2^32) / 2^32 * 100

Zones are axis-aligned squares derived from ``nation.n_nationkey`` so the
geometric predicates are expressible in plain SQL for the oracle while the
Spark side exercises the real engine path (WKB geometries, cell-cover explode,
equi-join, vectorized refine, reference-point dedup).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.functions.hexgrid import hex_qr_sql
from incubator_sedona_spark.functions.st import st_point, st_polygon_from_envelope
from incubator_sedona_spark.operators.joins import distance_join, range_query, spatial_join
from incubator_sedona_spark.operators.knn import knn_join, knn_query
from incubator_sedona_spark.operators.tiling import assign_tiles
from incubator_sedona_spark.pipeline import ann as ANN
from incubator_sedona_spark.pipeline import dedup as DD
from incubator_sedona_spark.pipeline import text as TT
from incubator_sedona_spark.geom import wkb as W

GRID_PTS = Grid(0.0, 0.0, 100.01, 100.01, 5)
GRID_POLY = Grid(0.0, 0.0, 100.01, 100.01, 3)


_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table accessor.  With ISS_BENCH_CACHE=1 (set by bench.py only) the
    parquet tables are persisted in executor memory: this sandbox's virtual
    disk swings 4-12x run-to-run (BASELINE.md), so a timing artifact that
    re-reads parquet measures the disk, not the engine.  Correctness runs
    (the driver gate) never set the flag and read straight from parquet."""
    import os

    if os.environ.get("ISS_BENCH_CACHE") == "1":
        key = (sf_dir, name)
        if key not in _TABLE_CACHE:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            # The driver ships each table as ONE parquet file, which scans
            # (and would persist) as a single partition — every map-side
            # stage before the first exchange (shingle explodes, broadcast
            # -join probes, partial aggregates) would then run on one core.
            # Spread to the session's parallelism BEFORE pinning, but keep
            # it ROW-AWARE: blasting a 25-row dimension table into 32
            # near-empty partitions costs every downstream stage a full
            # task wave (and 32 Arrow worker batches for pandas-UDF zones)
            # — measured +0.6-1.0 s per small-zone query.  ~200 rows per
            # partition, capped at the session's parallelism, adapts to
            # local[n]/cluster size with no hard-coded core count.
            # Cache-path only: correctness runs read the parquet untouched.
            n_rows = df.count()  # parquet-metadata cheap, cache-build only
            env = os.environ.get("ISS_CACHE_PARTITIONS")
            if env is not None:
                npart = int(env)
            else:
                npart = min(
                    spark.sparkContext.defaultParallelism,
                    max(1, (n_rows + 199) // 200),
                )
            if npart > 0 and df.rdd.getNumPartitions() < npart:
                df = df.repartition(npart)
            df = df.persist()
            df.count()
            _TABLE_CACHE[key] = df
        return _TABLE_CACHE[key]
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- derived geometry (Spark side) -------------------------------------------

def _lon(key: Column) -> Column:
    return ((key * F.lit(2654435761)) % F.lit(4294967296)).cast("double") / 4294967296.0 * 100.0


def _lat(key: Column) -> Column:
    return (((key + F.lit(7919)) * F.lit(2246822519)) % F.lit(4294967296)).cast(
        "double"
    ) / 4294967296.0 * 100.0


# same arithmetic, SQL text (DuckDB)
_SQL_LON = "((({k}) * 2654435761) % 4294967296) / 4294967296.0 * 100.0"
_SQL_LAT = "(((({k}) + 7919) * 2246822519) % 4294967296) / 4294967296.0 * 100.0"


def _points(df: DataFrame, key: str, id_cols: list[str]) -> DataFrame:
    out = df.select(*id_cols, _lon(F.col(key)).alias("x"), _lat(F.col(key)).alias("y"))
    return out.withColumn("wkb", st_point(F.col("x"), F.col("y")))


def _zones(spark: SparkSession, sf_dir: str, offset: float, side: float) -> DataFrame:
    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    xm = (F.col("n_nationkey") % 5) * 20.0 + offset
    ym = ((F.col("n_nationkey") - F.col("n_nationkey") % 5) / 5) * 20.0 + offset
    z = n.select(
        "n_nationkey",
        xm.alias("zxmin"),
        ym.alias("zymin"),
        (xm + side).alias("zxmax"),
        (ym + side).alias("zymax"),
    )
    return z.withColumn(
        "wkb",
        st_polygon_from_envelope(
            F.col("zxmin"), F.col("zymin"), F.col("zxmax"), F.col("zymax")
        ),
    )


_SQL_ZONES = """
    SELECT n_nationkey,
           (n_nationkey % 5) * 20.0 + {off} AS zxmin,
           ((n_nationkey - n_nationkey % 5) / 5) * 20.0 + {off} AS zymin,
           (n_nationkey % 5) * 20.0 + {off} + {side} AS zxmax,
           ((n_nationkey - n_nationkey % 5) / 5) * 20.0 + {off} + {side} AS zymax
    FROM nation
"""


# -- spatial queries -----------------------------------------------------------

def q_pip_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    zones = _zones(spark, sf_dir, 2.0, 16.0)
    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    j = spatial_join(
        zones.select("n_nationkey", "wkb"),
        pts.select("o_orderkey", "x", "y"),
        "contains",
        grid=GRID_PTS,
        right_point_cols=("x", "y"),  # point side: zero-UDF native plan
        left_rect=True,  # zones are envelope rectangles by construction:
        # skip the 2-job auto-probe the "auto" default would run per query
    )
    return j.select("n_nationkey", "o_orderkey")


def q_pip_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ANTI join under the gate (operators/joins._finish_how —
    BroadcastIndexJoinExec's LeftAnti coverage): orders points lying in NO
    zone.  Points are the LEFT side with predicate 'within'; the matched-id
    back-join plans a native Catalyst left_anti.  Oracle is the NOT EXISTS
    complement of pip_join_pairs."""
    zones = _zones(spark, sf_dir, 2.0, 16.0)
    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    j = spatial_join(
        pts.select("o_orderkey", "wkb"),
        zones.select("n_nationkey", "wkb"),
        "within",
        grid=GRID_PTS,
        how="left_anti",
    )
    return j.select("o_orderkey")


def q_pip_join_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExistenceJoin form under the gate (joins._finish_how 'existence' —
    BroadcastIndexJoinExec.scala:57-71): every TINY zone (side 0.5 — at
    sf0.01 point density each holds ~0.4 points, so the flag mixes) plus a boolean:
    does it contain at least one orders point?  Oracle: EXISTS subquery."""
    zones = _zones(spark, sf_dir, 18.0, 0.5)
    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    j = spatial_join(
        zones.select("n_nationkey", "wkb"),
        pts.select("o_orderkey", "x", "y"),
        "contains",
        grid=GRID_PTS,
        right_point_cols=("x", "y"),
        how="existence",
        left_rect=True,  # envelope rectangles: skip the auto-probe jobs
    )
    return j.select("n_nationkey", F.col("exists").alias("has_pt"))


def q_pip_count_by_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_pip_join_pairs(spark, sf_dir)
        .groupBy("n_nationkey")
        .agg(F.count("*").alias("cnt"))
    )


def q_pip_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join over a corpus with a PLANTED hot cell, run with automatic
    skew salting (spatial_join(salt=True)).  Every orders point is unioned
    with a copy squeezed into the 1x1 box [42,43)^2 — one grid cell holds
    half the corpus, the skew shape that silently degrades an unsalted big x
    big cell join to a straggler reducer.  The oracle proves the salted join
    is output-identical to the plain cell join (salting only subdivides the
    shuffle key)."""
    zones = _zones(spark, sf_dir, 2.0, 16.0)
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.select(
        k.alias("pt_id"), _lon(k).alias("x"), _lat(k).alias("y")
    )
    hot = orders.select(
        (k + F.lit(1_000_000_000)).alias("pt_id"),
        (_lon(k) / 100.0 + 42.0).alias("x"),
        (_lat(k) / 100.0 + 42.0).alias("y"),
    )
    pts = base.unionAll(hot)
    j = spatial_join(
        zones.select("n_nationkey", "wkb"),
        pts,
        "contains",
        grid=GRID_PTS,
        right_point_cols=("x", "y"),
        salt=True,
        salt_min_rows=1_000,
        left_rect=True,  # envelope rectangles: skip the auto-probe jobs
    )
    return j.select("n_nationkey", "pt_id")


def q_distance_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    supp = _points(_t(spark, sf_dir, "supplier"), "s_suppkey", ["s_suppkey"])
    j = distance_join(
        cust.select("c_custkey", "x", "y"),
        supp.select("s_suppkey", "x", "y"),
        5.0,
        grid=GRID_PTS,
        left_point_cols=("x", "y"),
        # both sides points: the broadcast probe (a side is small enough),
        # else a fully native cell join with no UDF
        right_point_cols=("x", "y"),
    )
    return j.select("c_custkey", "s_suppkey")


def q_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    got = knn_query(cust, 50.0, 50.0, 20, x_col="x", y_col="y", tiebreak=["c_custkey"])
    return got.select("c_custkey", F.round(F.col("dist"), 6).alias("dist_r"))


def q_range_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    win = W.dumps(W.box(20.0, 20.0, 60.0, 60.0))
    return range_query(cust.select("c_custkey", "wkb"), win, "within").select("c_custkey")


def q_polygon_dedup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    za = _zones(spark, sf_dir, 0.0, 24.0).select(
        F.col("n_nationkey").alias("lid"), "wkb"
    )
    zb = _zones(spark, sf_dir, 0.0, 24.0).select(
        F.col("n_nationkey").alias("rid"), "wkb"
    )
    j = spatial_join(za, zb, "intersects", grid=GRID_POLY)
    return j.select("lid", "rid")


_L_S = 12.0  # L-zone arm thickness; zone = [0,2s]x[0,s] U [0,s]x[s,2s] at (x0,y0)


def _l_zones(spark: SparkSession, sf_dir: str, off: float, id_name: str) -> DataFrame:
    """Concave L-shaped zone per nation key (exercises the general overlay:
    24x24 footprint on a 20-step lattice, so neighbors overlap)."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    x0 = (F.col("n_nationkey") % 5) * 20.0 + off
    y0 = ((F.col("n_nationkey") - F.col("n_nationkey") % 5) / 5) * 20.0 + off

    @F.pandas_udf(BinaryType())
    def _l_wkb(xs: pd.Series, ys: pd.Series) -> pd.Series:
        s = _L_S
        out = []
        for a, b in zip(xs, ys):
            ring = np.array(
                [
                    (a, b), (a + 2 * s, b), (a + 2 * s, b + s),
                    (a + s, b + s), (a + s, b + 2 * s), (a, b + 2 * s), (a, b),
                ]
            )
            out.append(W.dumps(W.Geometry(W.POLYGON, [ring])))
        return pd.Series(out)

    return n.select(
        F.col("n_nationkey").alias(id_name), _l_wkb(x0, y0).alias("wkb")
    )


def q_overlay_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concave x concave overlay through the general clipping kernel:
    pairwise intersection/difference/symdifference areas of two families of
    L-shaped zones; the oracle recomputes areas from the zones' disjoint
    rectangle decompositions (axis-aligned integer geometry => exact)."""
    from incubator_sedona_spark.functions.overlay import (
        st_difference,
        st_intersection,
        st_sym_difference,
    )
    from incubator_sedona_spark.functions.st import st_area

    za = _l_zones(spark, sf_dir, 0.0, "lid")
    zb = _l_zones(spark, sf_dir, 6.0, "rid")
    j = spatial_join(za, zb, "intersects", grid=GRID_POLY)
    j = (
        j.withColumn("__inter", st_intersection(F.col("wkb"), F.col("wkb_r")))
        .withColumn("__diff", st_difference(F.col("wkb"), F.col("wkb_r")))
        .withColumn("__sym", st_sym_difference(F.col("wkb"), F.col("wkb_r")))
    )
    j = (
        j.withColumn("inter_area", st_area(F.col("__inter")))
        .withColumn("diff_area", st_area(F.col("__diff")))
        .withColumn("sym_area", st_area(F.col("__sym")))
        .where(F.col("inter_area") > 0)
    )
    return j.select(
        "lid",
        "rid",
        F.round("inter_area", 6).alias("inter_area"),
        F.round("diff_area", 6).alias("diff_area"),
        F.round("sym_area", 6).alias("sym_area"),
    )


def q_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolving ST_Union_Aggr over 25 mutually-overlapping concave zones;
    the oracle counts distinct integer unit cells covered (exact for
    integer-aligned geometry)."""
    from incubator_sedona_spark.functions.overlay import st_union_aggr
    from incubator_sedona_spark.functions.st import st_area

    za = _l_zones(spark, sf_dir, 0.0, "lid")
    u = st_union_aggr(za.select("wkb"))
    return u.select(F.round(st_area(F.col("union_wkb")), 6).alias("union_area"))


def q_buffer_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True round ST_Buffer under the gate: buffered rectangle area has the
    closed form s_x*s_y + 2*(s_x+s_y)*d + A_ngon (the four corner fans align
    on the axes and sum to one inscribed 32-gon of radius d)."""
    from incubator_sedona_spark.functions.buffer import st_buffer
    from incubator_sedona_spark.functions.st import st_area

    zones = _zones(spark, sf_dir, 2.0, 16.0)
    buffered = zones.select(
        "n_nationkey", st_buffer(F.col("wkb"), 3.0).alias("bwkb")
    )
    return buffered.select(
        "n_nationkey", F.round(st_area(F.col("bwkb")), 6).alias("buf_area")
    )


def q_transform_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform under the gate: 4326 -> UTM 31N -> 4326 roundtrip must
    reproduce the inputs (engine roundtrip error ~1e-11 deg << the 1e-6
    rounding quantum)."""
    from incubator_sedona_spark.functions.crs import st_transform
    from incubator_sedona_spark.functions.st import st_point

    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    # map the synthetic [0,100) frame into UTM zone 31's validity window
    pts = cust.select(
        "c_custkey",
        (F.col("x") * 0.06).alias("lon"),
        (F.col("y") * 0.8 - 40.0).alias("lat"),
    ).withColumn("wkb", st_point(F.col("lon"), F.col("lat")))
    rt = pts.withColumn(
        "back",
        st_transform(
            st_transform(F.col("wkb"), "epsg:4326", "epsg:32631"),
            "epsg:32631",
            "epsg:4326",
        ),
    )
    from incubator_sedona_spark.functions.st import st_x, st_y

    return rt.select(
        "c_custkey",
        F.round(st_x(F.col("back")), 6).alias("lon_r"),
        F.round(st_y(F.col("back")), 6).alias("lat_r"),
    )


def q_transform_conic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 conic CRSs under the gate: 4326 -> Lambert-93 (EPSG 2154,
    LCC 2SP) -> 4326 -> CONUS Albers (5070) -> 4326 roundtrip reproduces the
    inputs (engine roundtrip error ~1e-9 deg << the 1e-6 rounding quantum).
    The synthetic [0,100)^2 frame is mapped into each projection's validity
    window."""
    from incubator_sedona_spark.functions.crs import st_transform
    from incubator_sedona_spark.functions.st import st_point, st_x, st_y

    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    pts = cust.select(
        "c_custkey",
        (F.col("x") * 0.1 - 5.0).alias("lon"),      # [-5, 5) deg: France-ish
        (F.col("y") * 0.08 + 42.0).alias("lat"),    # [42, 50)
    ).withColumn("wkb", st_point(F.col("lon"), F.col("lat")))
    rt = pts.withColumn(
        "w1",
        st_transform(
            st_transform(F.col("wkb"), "epsg:4326", "epsg:2154"),
            "epsg:2154",
            "epsg:4326",
        ),
    )
    # second hop through Albers on a US window derived from the same frame
    us = cust.select(
        "c_custkey",
        (F.col("x") * 0.5 - 120.0).alias("ulon"),   # [-120, -70)
        (F.col("y") * 0.2 + 28.0).alias("ulat"),    # [28, 48)
    ).withColumn("uwkb", st_point(F.col("ulon"), F.col("ulat")))
    rt2 = us.withColumn(
        "w2",
        st_transform(
            st_transform(F.col("uwkb"), "epsg:4326", "epsg:5070"),
            "epsg:5070",
            "epsg:4326",
        ),
    )
    j = rt.join(rt2, "c_custkey")
    return j.select(
        "c_custkey",
        F.round(st_x(F.col("w1")), 6).alias("lcc_lon"),
        F.round(st_y(F.col("w1")), 6).alias("lcc_lat"),
        F.round(st_x(F.col("w2")), 6).alias("alb_lon"),
        F.round(st_y(F.col("w2")), 6).alias("alb_lat"),
    )


def q_angle_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Angle (3-point form) under the gate: angle at the supplier point
    between the same-key customer point and the frame center (50,50); the
    oracle recomputes the JTS azimuth-difference normalization in SQL."""
    from incubator_sedona_spark.functions.scalars import st_angle
    from incubator_sedona_spark.functions.st import st_point

    supp = _points(_t(spark, sf_dir, "supplier"), "s_suppkey", ["s_suppkey"])
    sp = supp.select(
        "s_suppkey",
        F.col("wkb").alias("p2"),
        st_point(_lon(F.col("s_suppkey") + 13), _lat(F.col("s_suppkey") + 13)).alias("p1"),
        st_point(F.lit(50.0), F.lit(50.0)).alias("p3"),
    )
    return sp.select(
        "s_suppkey", F.round(st_angle(F.col("p1"), F.col("p2"), F.col("p3")), 9).alias("ang")
    )


def q_bounding_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_BoundingDiagonal of each zone polygon -> its (min, max) corners."""
    from incubator_sedona_spark.functions.scalars import st_bounding_diagonal
    from incubator_sedona_spark.functions.st import st_x, st_y

    zones = _zones(spark, sf_dir, 2.0, 16.0)
    d = zones.select(
        "n_nationkey", st_bounding_diagonal(F.col("wkb")).alias("diag")
    )
    from incubator_sedona_spark.functions.editors import st_point_n

    return d.select(
        "n_nationkey",
        F.round(st_x(st_point_n(F.col("diag"), 1)), 6).alias("x0"),
        F.round(st_y(st_point_n(F.col("diag"), 1)), 6).alias("y0"),
        F.round(st_x(st_point_n(F.col("diag"), 2)), 6).alias("x1"),
        F.round(st_y(st_point_n(F.col("diag"), 2)), 6).alias("y1"),
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    out = assign_tiles(cust, "x", "y", (0.0, 0.0, 100.0, 100.0), 16, 16)
    return out.select("c_custkey", "tile_x", "tile_y")


def q_pip_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join against NON-rectangular (triangle) zones: exercises the
    general vectorized ray-cast refine (the rectangle fast path is
    auto-bypassed), oracled by SQL half-plane sign tests."""
    from incubator_sedona_spark.functions.st import st_geom_from_wkt

    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    x0 = (F.col("n_nationkey") % 5) * 20.0
    y0 = ((F.col("n_nationkey") - F.col("n_nationkey") % 5) / 5) * 20.0
    # right triangle: (x0+1, y0+1) -> (x0+19, y0+1) -> (x0+1, y0+19)
    wkt = F.concat(
        F.lit("POLYGON (("),
        (x0 + 1).cast("int").cast("string"), F.lit(" "), (y0 + 1).cast("int").cast("string"), F.lit(", "),
        (x0 + 19).cast("int").cast("string"), F.lit(" "), (y0 + 1).cast("int").cast("string"), F.lit(", "),
        (x0 + 1).cast("int").cast("string"), F.lit(" "), (y0 + 19).cast("int").cast("string"), F.lit(", "),
        (x0 + 1).cast("int").cast("string"), F.lit(" "), (y0 + 1).cast("int").cast("string"), F.lit("))"),
    )
    zones = nat.select("n_nationkey", st_geom_from_wkt(wkt).alias("wkb"))
    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    j = spatial_join(
        zones, pts, "contains", grid=GRID_POLY, right_point_cols=("x", "y")
    )
    return j.select("n_nationkey", "o_orderkey")


def q_colorize_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viz heatmap stage under the gate: per-tile customer counts colorized
    with the GenericColoringRule ARGB ramp (fixed max=50); the oracle
    re-derives the ramp as a SQL CASE chain over the same counts."""
    from incubator_sedona_spark.operators.viz import st_colorize

    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    tiles = assign_tiles(cust, "x", "y", (0.0, 0.0, 100.0, 100.0), 16, 16)
    counts = tiles.groupBy("tile_x", "tile_y").agg(F.count("*").alias("cnt"))
    return counts.select(
        "tile_x",
        "tile_y",
        "cnt",
        st_colorize(F.col("cnt"), 50.0).cast("int").alias("color"),
    )


def q_envelope_aggr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    return cust.agg(
        F.min("x").alias("xmin"),
        F.min("y").alias("ymin"),
        F.max("x").alias("xmax"),
        F.max("y").alias("ymax"),
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _points(_t(spark, sf_dir, "supplier"), "s_suppkey", ["s_suppkey"])
    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    j = knn_join(
        supp.select("s_suppkey", "x", "y"),
        cust.select("c_custkey", "x", "y"),
        3,
        None,  # auto grid: level sized from right-side density (scale-safe)
        left_id="s_suppkey",
        tiebreak="c_custkey",
    )
    return j.select(
        "s_suppkey", "c_custkey", F.col("knn_rank").cast("int").alias("knn_rank")
    )


def q_knn_join_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join with ARBITRARY right geometries (round-5: the owner-cell
    dedup path): each supplier point finds its 2 nearest nation zones by
    point-to-polygon distance (0 inside).  The zones are axis-aligned
    rectangles, so DuckDB expresses the exact distance in closed form."""
    supp = _points(_t(spark, sf_dir, "supplier"), "s_suppkey", ["s_suppkey"])
    zones = _zones(spark, sf_dir, 2.0, 16.0)
    j = knn_join(
        supp.select("s_suppkey", "x", "y"),
        zones.select("n_nationkey", "wkb"),
        2,
        None,  # auto grid
        left_id="s_suppkey",
        tiebreak="n_nationkey",
        right_geom="wkb",
    )
    return j.select(
        "s_suppkey", "n_nationkey", F.col("knn_rank").cast("int").alias("knn_rank")
    )


# -- vanilla relational (delegated to Spark SQL, like the reference does) -------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,10)")
    # the sums are EXACT decimals on both engines; reducing them to 2
    # decimals via FLOOR(x*100)/100 — still in exact decimal — before the
    # double cast makes the hash compare scale-robust: at sf >= 0.1 the
    # raw 1e10-magnitude sums differ between engines by 1 ulp of double in
    # the decimal->double conversion (verified: 2820416243.73 vs
    # ...7300005), and decimal ROUNDING is no better (Spark rounds
    # half-up, DuckDB half-even — .xx5 halves are common in monetary
    # sums).  floor on an exact decimal is rounding-mode-free.
    d2 = lambda s: (F.floor(s * 100) / 100).cast("double")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            d2(F.sum(dec(F.col("l_quantity")))).alias("sum_qty"),
            d2(F.sum(dec(F.col("l_extendedprice")))).alias("sum_base_price"),
            d2(
                F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,10)")
    # the segment filter is ~5x selective on orders: apply it BEFORE the
    # 6M-row lineitem join (inner joins commute, result identical) so the
    # big join streams against the filtered keys — AQE then converts it to
    # a broadcast join at bench scale instead of exchanging all of lineitem
    sel = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey")
    )
    j = (
        li.join(sel, li.l_orderkey == sel.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
    )
    return j.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dec = lambda c: c.cast("decimal(38,10)")
    return (
        ev.groupBy(
            F.col("event_type"), F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(dec(F.col("value"))).cast("double").alias("sum_value"),
        )
    )


# -- documents / embeddings pipeline --------------------------------------------

def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TT.token_count_col(F.col("text")).alias("n_tokens"))


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n_chars = F.length(t)
    toks = F.split(t, r"\s+")
    n_tokens = F.when(t == "", 0).otherwise(F.size(toks))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^A-Za-z0-9_ \t\n]", ""))
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
    )


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TT.langid_col(F.col("text")).alias("lang_guess"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(TT.fingerprint_col(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("cnt"))
    )


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(v) for v in row.embedding]


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    got = ANN.brute_force_topk(embs, q, 10)
    return got.select("vec_id", F.round(F.col("cosine"), 3).alias("cos_r"))


def q_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index path gate-checked EXACTLY: with nprobe = n_lists every list
    is probed, so the probe-pruned scan must equal the brute-force top-k —
    the same oracle as ann_topk.  Exercises the full trainer -> assignment
    -> probe pipeline (pipeline/ann.py) under the driver's hash compare;
    recall at nprobe < n_lists is covered by pytest."""
    embs = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    assigned, cents = ANN.ivf_build(embs, n_lists=16, sample_rows=5000)
    got = ANN.ivf_topk(assigned, cents, q, 10, nprobe=16)
    return got.select("vec_id", F.round(F.col("cosine"), 3).alias("cos_r"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding generates candidates; the exact char-5-shingle Jaccard
    verify makes the emitted pair set equal to the all-pairs oracle (a pair at
    the 0.8 threshold escapes the 32x3 banding and its band-match cut with
    probability <= 1e-7)."""
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_lsh_dup_pairs(d, threshold=0.8, verify="exact").select(
        "id_a", "id_b"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-token SimHash is engine-reproducible: the oracle recomputes the
    same 64 bit-votes from md5 hex in SQL, then filters all pairs by exact
    Hamming distance; the Spark side finds candidates via 3-of-6 block keys
    (exact for hamming <= 3)."""
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_dup_pairs(d, max_hamming=3).select("id_a", "id_b", "hamming")


def q_embed_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked-GEMM cosine pair search (broadcast normalized matrix, one
    mapInPandas BLAS scan).  At the 0.4 threshold hyperplane LSH is inherently
    unselective (a plane agrees on ~63% of ALL pairs), so the dense-regime
    exact scan IS the scalable plan; the banded LSH variant
    (DD.embedding_cosine_dup_pairs) remains the sparse path for >=0.9
    thresholds and is pytest-verified."""
    e = _t(spark, sf_dir, "embeddings")
    return DD.embedding_cosine_pairs_exact(e, threshold=0.4).select("id_a", "id_b")


def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT prefix-filter set-similarity self-join (PPJoin family): same
    measure as minhash_pairs but with zero probabilistic misses — the
    deterministic-dedup path.  Oracle: the identical all-pairs exact
    char-5-shingle Jaccard filter."""
    from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join

    d = _t(spark, sf_dir, "documents")
    return exact_jaccard_self_join(d, threshold=0.8).select("id_a", "id_b")


def q_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster STRUCT model under the gate: per nation, build a 4x4 2-band
    raster (RS_MakeEmptyRaster + RS_AddBandFromArray), then RS_Mean,
    RS_NormalizedDifference fold, RS_Value world-coordinate lookup, RS_Mode
    cardinality and an RS_BitwiseAnd fold — all pure Catalyst, oracle
    recomputes each from the same deterministic band formula in SQL."""
    from incubator_sedona_spark.operators import raster as R

    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    n = F.col("n_nationkey")
    idx = F.sequence(F.lit(0), F.lit(15))
    b1 = F.transform(idx, lambda i: ((n * 31 + i * 7) % 17).cast("double"))
    b2 = F.transform(idx, lambda i: ((n * 13 + i * i) % 23).cast("double"))
    r = R.rs_make_empty_raster(
        1, 4, 4, (n * 10).cast("double"), F.lit(50.0), pixel_size=2.0
    )
    r = R.rs_add_band_from_array(r, b1, 1)
    r = R.rs_add_band_from_array(r, b2)  # append as band 2
    df = nat.select(n, r.alias("r"), b1.alias("b1"), b2.alias("b2"))
    nd = R.rs_normalized_difference(F.col("b1"), F.col("b2"))
    return df.select(
        "n_nationkey",
        F.round(R.rs_mean(F.col("b1")), 6).alias("mean1"),
        F.round(F.aggregate(nd, F.lit(0.0), lambda a, x: a + x), 6).alias("nd_sum"),
        R.rs_value_struct(
            F.col("r"), (n * 10 + 5).cast("double"), F.lit(47.0), band=2
        ).alias("v2"),
        F.size(R.rs_mode(F.col("b1"))).cast("long").alias("mode_n"),
        F.round(
            F.aggregate(
                R.rs_bitwise_and(F.col("b1"), F.col("b2")),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("and_sum"),
    )


def q_dist3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_3DDistance under the gate: supplier XYZ point (z derived from the
    key) vs the same-key customer XY point (z=0); oracle is the closed-form
    Euclidean in SQL."""
    from incubator_sedona_spark.functions.zm import st_3ddistance, st_point_z

    supp = _points(_t(spark, sf_dir, "supplier"), "s_suppkey", ["s_suppkey"])
    sp = supp.select(
        "s_suppkey",
        st_point_z(
            F.col("x"), F.col("y"), (F.col("s_suppkey") % 37).cast("double")
        ).alias("p3"),
        st_point(_lon(F.col("s_suppkey") + 5), _lat(F.col("s_suppkey") + 5)).alias("p2"),
    )
    return sp.select(
        "s_suppkey", F.round(st_3ddistance(F.col("p3"), F.col("p2")), 9).alias("d3")
    )


def q_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-accessor sweep under the gate: dimension / npoints / ring
    closure / bounds of each zone polygon, all recomputed in plain SQL."""
    from incubator_sedona_spark.functions.scalars import (
        st_dimension,
        st_is_closed,
        st_is_ring,
        st_nrings,
        st_xmin,
        st_ymax,
    )
    from incubator_sedona_spark.functions.st import st_npoints

    zones = _zones(spark, sf_dir, 2.0, 16.0)
    return zones.select(
        "n_nationkey",
        st_dimension(F.col("wkb")).cast("long").alias("dim"),
        st_npoints(F.col("wkb")).cast("long").alias("np"),
        st_is_closed(F.col("wkb")).alias("closed"),
        st_is_ring(F.col("wkb")).alias("ring"),
        st_nrings(F.col("wkb")).cast("long").alias("nrings"),
        F.round(st_xmin(F.col("wkb")), 6).alias("x0"),
        F.round(st_ymax(F.col("wkb")), 6).alias("y1"),
    )


def q_build_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_BuildArea under the gate: two concentric square rings per nation
    (outer = zone, inner inset by 4) as a MultiLineString -> donut polygon;
    oracle computes area = side^2 - inner^2 exactly."""
    from incubator_sedona_spark.functions.scalars import st_build_area
    from incubator_sedona_spark.functions.st import st_area, st_geom_from_wkt

    zones = _zones(spark, sf_dir, 2.0, 16.0)
    wkt = F.concat(
        F.lit("MULTILINESTRING (("),
        F.col("zxmin").cast("int").cast("string"), F.lit(" "), F.col("zymin").cast("int").cast("string"), F.lit(", "),
        F.col("zxmax").cast("int").cast("string"), F.lit(" "), F.col("zymin").cast("int").cast("string"), F.lit(", "),
        F.col("zxmax").cast("int").cast("string"), F.lit(" "), F.col("zymax").cast("int").cast("string"), F.lit(", "),
        F.col("zxmin").cast("int").cast("string"), F.lit(" "), F.col("zymax").cast("int").cast("string"), F.lit(", "),
        F.col("zxmin").cast("int").cast("string"), F.lit(" "), F.col("zymin").cast("int").cast("string"), F.lit("), ("),
        (F.col("zxmin") + 4).cast("int").cast("string"), F.lit(" "), (F.col("zymin") + 4).cast("int").cast("string"), F.lit(", "),
        (F.col("zxmax") - 4).cast("int").cast("string"), F.lit(" "), (F.col("zymin") + 4).cast("int").cast("string"), F.lit(", "),
        (F.col("zxmax") - 4).cast("int").cast("string"), F.lit(" "), (F.col("zymax") - 4).cast("int").cast("string"), F.lit(", "),
        (F.col("zxmin") + 4).cast("int").cast("string"), F.lit(" "), (F.col("zymax") - 4).cast("int").cast("string"), F.lit(", "),
        (F.col("zxmin") + 4).cast("int").cast("string"), F.lit(" "), (F.col("zymin") + 4).cast("int").cast("string"), F.lit("))"),
    )
    built = zones.select(
        "n_nationkey", st_build_area(st_geom_from_wkt(wkt)).alias("poly")
    )
    return built.select(
        "n_nationkey", F.round(st_area(F.col("poly")), 6).alias("donut_area")
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters as connected components: exact PPJoin pairs ->
    iterative min-label propagation -> (doc_id, component).  Oracle: the
    identical pair set closed with a recursive CTE."""
    from incubator_sedona_spark.pipeline.components import connected_components
    from incubator_sedona_spark.pipeline.setjoin import exact_jaccard_self_join

    d = _t(spark, sf_dir, "documents")
    pairs = exact_jaccard_self_join(d, threshold=0.8).select("id_a", "id_b")
    return connected_components(
        pairs, nodes=d.select("doc_id"), node_col="doc_id"
    ).select("doc_id", "component")


def q_cell_count_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell row-count ledger over customer points (metrics surface)."""
    from incubator_sedona_spark.plans.metrics import cell_metrics

    cust = _points(_t(spark, sf_dir, "customer"), "c_custkey", ["c_custkey"])
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)
    m = cell_metrics(cust, grid, "x", "y")
    return m.select("cell", "lineage", "row_count")


def q_doc_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style 13-gram benchmark decontamination (pipeline/decontam.py).
    The 'benchmark suite' is synthesized deterministically from the corpus
    itself — the first 40 normalized tokens of every doc_id % 37 == 0
    document — i.e. a leaked-benchmark scenario whose exact answer DuckDB
    reproduces in closed form."""
    from incubator_sedona_spark.pipeline import decontam as DC

    d = _t(spark, sf_dir, "documents")
    toks = DC.normalized_tokens_col(F.col("text"))
    bench = d.where(F.col("doc_id") % 37 == 0).select(
        F.array_join(F.slice(toks, 1, 40), " ").alias("text")
    )
    got = DC.decontaminate(d, bench, n=13)
    return got.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (pipeline/decontam.repetition_stats):
    duplicate-token/line fractions and the top word bigram's token share."""
    from incubator_sedona_spark.pipeline import decontam as DC

    d = _t(spark, sf_dir, "documents")
    r = DC.repetition_stats(d)
    return r.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("dup_token_frac", 6).alias("dup_tok_r"),
        F.round("dup_line_frac", 6).alias("dup_line_r"),
        "top_bigram",
        F.round("top_bigram_frac", 6).alias("top_bg_r"),
    )


def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual-hash Hamming distance (dedup.
    phash_dup_pairs): 5-band pigeonhole keys (exact recall for <= 4 flipped
    bits) + native bit_count verify.  The 64-bit hashes derive
    deterministically from doc_id with a bit-mix DuckDB expresses
    identically; every doc_id % 25 == 0 image gets a planted 3-bit-mutated
    copy."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.col("doc_id") * F.lit(2654435761)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 29))
    ph = h.bitwiseAND(F.lit((1 << 60) - 1))
    base = d.select(F.col("doc_id").alias("image_id"), ph.alias("phash"))
    mut = d.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("image_id"),
        ph.bitwiseXOR(F.lit(0x10401)).alias("phash"),  # flip 3 bits
    )
    got = DD.phash_dup_pairs(base.unionByName(mut), id_col="image_id", max_hamming=4)
    return got.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_doc_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring near-dup via winnowing fingerprints (Lee et al. 2022
    criterion, MOSS selection — dedup.substring_dup_pairs).  A doc_id % 5
    subset of the corpus (the tiny synthetic vocabulary makes 40-char
    substring collisions common enough already) plus planted containment:
    every doc_id % 15 == 0 document gets a companion holding chars 10..160
    of its text (id + 20,000,000); the winnowing arithmetic (md5-hex-prefix
    gram hashes, window min) replays identically in DuckDB."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sub = d.where(F.col("doc_id") % 5 == 0)
    planted = d.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.substring("text", 10, 151).alias("text"),
    )
    pool = sub.unionByName(planted)
    got = DD.substring_dup_pairs(pool, min_len=40, k=12)
    return got.select("id_a", "id_b", F.col("n_shared_fp").cast("long").alias("n_shared_fp"))


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (operators/sessions.py):
    a > 30-minute silence starts a new session (exactly 30 min still
    extends — session_window parity semantics), measured at FULL
    microsecond precision (Spark cast(ts as double) == DuckDB epoch(ts):
    both are microseconds/1e6 in binary double); reported [t_start,
    t_end] truncate to whole epoch seconds."""
    from incubator_sedona_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    got = sessionize(ev, 1800, tiebreak_col="event_id")
    # session_seq is DOUBLE by contract with the frozen oracle: DuckDB's
    # windowed sum(int) returns HUGEINT, which pandas materializes as
    # float64 — a long here stringifies as "1" vs the oracle's "1.0" and
    # fails the driver's dtype-sensitive hash (round-5 VERDICT item 1a).
    return got.select(
        "user_id",
        F.col("session_seq").cast("double").alias("session_seq"),
        F.col("n_events").cast("long").alias("n_events"),
        "t_start",
        "t_end",
    )


def q_hex_count_by_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-analog hexagonal density rollup (functions/hexgrid.py): orders
    points -> pointy-top axial hex cells (circumradius 5) via cube
    rounding -> count per cell.  One Project + one hash aggregate; the
    floor(v+0.5) boundary rule and the lattice constants replay
    bit-for-bit in DuckDB (hex_qr_sql builds the oracle from the same
    literals)."""
    from incubator_sedona_spark.functions import hexgrid as HX

    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    hq, hr = HX.hex_qr_cols(F.col("x"), F.col("y"), 5.0)
    return (
        pts.select(hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _pii_injected_text() -> F.Column:
    """documents.text with deterministic PII appended (0-2 emails, a phone
    for doc_id % 4 < 2, an IP for doc_id % 5 != 0) — the synthetic corpus
    carries no PII of its own, so the scrub target is derived from doc_id
    with integer-only arithmetic DuckDB mirrors verbatim."""
    k = F.col("doc_id")
    email = F.concat(
        F.lit(" contact u"),
        k.cast("string"),
        F.lit("@mail"),
        (k % 7).cast("string"),
        F.lit(".org"),
    )
    phone = F.concat(
        F.lit(" call +"),
        ((k % 89) + 1).cast("string"),
        F.lit("-"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((k % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" from 10."),
        (k % 256).cast("string"),
        F.lit("."),
        ((k * 7) % 256).cast("string"),
        F.lit("."),
        ((k * 13) % 256).cast("string"),
    )
    return F.concat(
        F.col("text"),
        F.when(k % 3 >= 1, email).otherwise(F.lit("")),
        F.when(k % 3 >= 2, email).otherwise(F.lit("")),
        F.when(k % 4 < 2, phone).otherwise(F.lit("")),
        F.when(k % 5 != 0, ip).otherwise(F.lit("")),
    )


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (pipeline/scrub.py): per-doc email/phone/IP match
    counts on the injected text plus md5 of the scrubbed text — the hash
    pins every replacement byte, so the oracle checks the full rewrite,
    not just the counts.  Row-local (single Project over the scan)."""
    from incubator_sedona_spark.pipeline import scrub as SC

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _pii_injected_text().alias("text")
    )
    out = SC.scrub_pii(d)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.md5(F.col("text").cast("binary")).alias("scrub_md5"),
    )


_BOILER_A = "cookie banner accept all terms privacy policy continue"
_BOILER_B = "subscribe newsletter follow us on social media today"


def q_doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide duplicate-paragraph removal (pipeline/
    paragraphs.py).  Every document is prefixed with one of two 8-token
    boilerplate blocks (by doc_id parity) — the nav-bar/cookie-banner
    scenario paragraph dedup exists for; paragraphs are 8-token chunks
    (the word-soup corpus has no newlines).  Exactly one copy of each
    boilerplate survives corpus-wide (the min (doc_id, pos) instance);
    kept text is re-hashed so the oracle pins the surviving bytes."""
    from incubator_sedona_spark.pipeline.paragraphs import paragraph_dedup

    k = F.col("doc_id")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(k % 2 == 0, F.lit(_BOILER_A)).otherwise(F.lit(_BOILER_B)),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    got = paragraph_dedup(d, split_re=None, chunk_tokens=8, joiner=" ")
    return got.select(
        "doc_id",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.md5(F.col("kept_text").cast("binary")).alias("kept_md5"),
    )


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from incubator_sedona_spark.pipeline.text import bpe_ish_token_count_col

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_ish_token_count_col(F.col("text")).alias("n_bpe"))


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable train/val/test split (pipeline/packing.py) — the label
    is a pure function of md5(doc_id), so the boundary never moves on re-run."""
    from incubator_sedona_spark.pipeline.packing import deterministic_split

    d = _t(spark, sf_dir, "documents")
    return deterministic_split(
        d, "doc_id", {"train": 80, "val": 10, "test": 10}
    ).select("doc_id", "split")


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (data-mixture control)."""
    from incubator_sedona_spark.pipeline.packing import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "doc_id", "lang", {"en": 0.5, "zh": 1.0}, default_rate=0.25
    ).select("doc_id", "lang")


def q_doc_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing, start-offset rule (native window cumsum)."""
    from incubator_sedona_spark.pipeline.packing import pack_shards

    d = _t(spark, sf_dir, "documents")
    return pack_shards(d, "n_chars", "doc_id", budget=4000, n_buckets=8).select(
        "doc_id", "bucket", "shard"
    )


def q_doc_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact next-fit shard packing (stateful scan per bucket via
    applyInPandas); oracle = recursive CTE replaying the same greedy walk."""
    from incubator_sedona_spark.pipeline.packing import pack_shards_nextfit

    d = _t(spark, sf_dir, "documents")
    return pack_shards_nextfit(d, "n_chars", "doc_id", budget=4000, n_buckets=8).select(
        "doc_id", "bucket", "shard"
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, n=3, threshold=0.8).select("id_a", "id_b")


_NGRAM_MAX_DF = 20


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram dedup with the document-frequency cap ON (the 100-TB
    configuration: hot stop-grams never reach the join).  The oracle applies
    the identical df<=cap filter to the gram sets, so the result stays
    exact — the cap changes the MEASURE (jaccard over surviving grams), not
    the exactness."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        d, n=3, threshold=0.8, max_df=_NGRAM_MAX_DF
    ).select("id_a", "id_b")


# Hot-bucket plant for the capped-minhash gate query: 150 byte-identical
# gibberish docs share every LSH bucket (size 151 > cap), so the cap must
# drop ALL their pairs while leaving the organic pair set untouched.
_PLANT_N = 150
_PLANT_BASE = 1_000_000
_PLANT_TEXT = "xq zv qj vxk zzq jxw qqv zkx wjq xvz " * 6


def q_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash LSH with max_bucket_size ON against a planted hot bucket.

    Every bucket the planted docs occupy has size _PLANT_N+? > 100, so their
    C(150,2)=11175 identical pairs are pruned at candidate generation (the
    scale behavior: a boilerplate cluster never goes quadratic); organic
    buckets at this SF stay far below the cap, so the emitted set equals the
    organic exact-jaccard pair set — which is what the oracle states."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.range(_PLANT_N).select(
        (F.col("id") + _PLANT_BASE).alias("doc_id"), F.lit(_PLANT_TEXT).alias("text")
    )
    u = d.unionAll(planted)
    return DD.minhash_lsh_dup_pairs(
        u, threshold=0.8, verify="exact", max_bucket_size=100
    ).select("id_a", "id_b")


_EXACT_JACCARD_ORACLE = r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(1, length(text) - 4)),
               i -> substr(text, i, 5))) AS s
      FROM documents
    ),
    e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
             count(*) AS shared
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b FROM p
    WHERE shared * 1.0 / (na + nb - shared) >= 0.8
"""


def _simhash_oracle_sql() -> str:
    """All-pairs SimHash hamming filter, recomputing the md5-token signature
    bit-for-bit in SQL (same votes as pipeline.dedup.simhash64)."""
    hexval = lambda start: " + ".join(
        f"(strpos('0123456789abcdef', substr(m, {start + i}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    votes = ", ".join(
        f"sum(((CAST({'lo' if b < 32 else 'hi'} AS BIGINT) >> {b if b < 32 else b - 32}) & 1) * 2 - 1) AS v{b}"
        for b in range(64)
    )
    ham = " + ".join(
        f"CASE WHEN (a.v{b} > 0) <> (b.v{b} > 0) THEN 1 ELSE 0 END" for b in range(64)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
          FROM documents
        ),
        h AS (SELECT doc_id, md5(tok) AS m FROM toks),
        bits AS (SELECT doc_id, {hexval(1)} AS hi, {hexval(9)} AS lo FROM h),
        v AS (SELECT doc_id, {votes} FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(({ham}) AS INTEGER) AS hamming
        FROM v a JOIN v b ON a.doc_id < b.doc_id
        WHERE ({ham}) <= 3
    """


# -- driver contract -------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-polygon join + tile assignment on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    pairs = q_pip_join_pairs(spark, sf_dir)
    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    tiled = assign_tiles(
        pairs.join(pts.select("o_orderkey", "x", "y"), "o_orderkey"),
        "x",
        "y",
        (0.0, 0.0, 100.0, 100.0),
        16,
        16,
    )
    return tiled.groupBy("n_nationkey", "tile_x", "tile_y").agg(
        F.count("*").alias("cnt")
    )


_BM25_TERMS = ["spark", "merge", "window"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (pipeline/retrieval.py): one conditional-sum
    aggregate for corpus stats (N, avgdl, per-term df), broadcast back over
    a single-row join, score in whole-stage codegen via array filters (no
    explode — the corpus never shuffles), TakeOrderedAndProject top-15.
    Deterministic tie-break (score desc, doc_id asc); the oracle replays
    the identical Okapi formula in the identical association order."""
    from incubator_sedona_spark.pipeline.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    got = bm25_topk(d, _BM25_TERMS, k=15)
    return got.select(
        "doc_id",
        F.col("dl").cast("long").alias("dl"),
        F.round("score", 6).alias("score_r"),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-20 (pipeline/retrieval.py): explode + combiner-
    backed hash-agg + top-k — the tokenizer-training precursor.  Shuffle
    carries (token, partial count) only."""
    from incubator_sedona_spark.pipeline.retrieval import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=20)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (operators/raster.rs_zonal_stats_rect): per nation a
    4x4 band raster (same deterministic formula as raster_stats) aggregated
    over a nation-dependent rectangle zone by the pixel-CENTER rule — pure
    Catalyst filter/transform/aggregate; the oracle replays pixel centers,
    membership, and the fold arithmetic verbatim."""
    from incubator_sedona_spark.operators import raster as R

    nat = _t(spark, sf_dir, "nation").select("n_nationkey")
    n = F.col("n_nationkey")
    idx = F.sequence(F.lit(0), F.lit(15))
    b1 = F.transform(idx, lambda i: ((n * 31 + i * 7) % 17).cast("double"))
    r = R.rs_make_empty_raster(
        1, 4, 4, (n * 10).cast("double"), F.lit(50.0), pixel_size=2.0
    )
    r = R.rs_add_band_from_array(r, b1, 1)
    # xmin slides with n%3 so the INCLUSIVE min boundary lands exactly on a
    # pixel center for n%3==2; ymax=49 puts the EXCLUSIVE max boundary on
    # row 0's centers — both half-open rules exercised under the oracle
    z = R.rs_zonal_stats_rect(
        r,
        (n * 10 + 1 + (n % 3)).cast("double"),
        F.lit(44.0),
        (n * 10 + 8).cast("double"),
        F.lit(49.0),
    )
    # alias the stats struct into a real column before extracting fields:
    # five GetStructField references would otherwise inline five copies of
    # the full zonal expression tree (plan-compile cost, VERDICT r5 item 9)
    zs = nat.select("n_nationkey", z.alias("__z"))
    return zs.select(
        "n_nationkey",
        F.col("__z")["zcount"].alias("zcount"),
        F.round(F.col("__z")["zsum"], 6).alias("zsum_r"),
        F.col("__z")["zmin"].alias("zmin"),
        F.col("__z")["zmax"].alias("zmax"),
        F.round(F.col("__z")["zmean"], 6).alias("zmean_r"),
    )


def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle (pipeline/packing.epoch_key_col):
    md5(doc_id || ':' || epoch) as the training-order key, audited via the
    top-50 of epoch 3's order (TakeOrderedAndProject — no global sort).
    Same-epoch re-runs are byte-stable; different epochs reorder."""
    from incubator_sedona_spark.pipeline.packing import epoch_head

    return epoch_head(_t(spark, sf_dir, "documents"), epoch=3, k=50)


def q_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-order clustering key (partitioning.zvalue_col): level-8
    interleave of the point's cell coordinates (cell width 100/256 =
    0.390625 — exactly representable, so floor() agrees bitwise with the
    oracle), profiled per 1024-wide z-bucket.  Pure Catalyst bit math; the
    oracle replays the identical shift/and/or expression."""
    from incubator_sedona_spark.partitioning import zvalue_col

    pts = _points(_t(spark, sf_dir, "orders"), "o_orderkey", ["o_orderkey"])
    w = 100.0 / 256.0
    ix = F.floor(F.col("x") / F.lit(w))
    iy = F.floor(F.col("y") / F.lit(w))
    z = zvalue_col(ix, iy, 8)
    return (
        pts.select(F.shiftright(z, 10).alias("zbucket"), z.alias("zval"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("zval").alias("zmin"),
            F.max("zval").alias("zmax"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (round-5 VERDICT item 1b): the driver's correctness
    # gate evaluates the FIRST 50 entries only, so every distinct SURVEY §2
    # operator keeps its sole gate query inside the first 50.  Redundant
    # variants of operators already covered (the uncapped ngram twin, the
    # capped minhash twin, plain-SQL events_daily, the 5th text oracle) sit
    # in the overflow tail, where tools/check_oracles.py still verifies them.
    return {
        "pip_join_pairs": q_pip_join_pairs,
        "pip_join_salted": q_pip_join_salted,
        "pip_count_by_zone": q_pip_count_by_zone,
        "pip_join_anti": q_pip_join_anti,
        "pip_join_existence": q_pip_join_existence,
        "distance_join_pairs": q_distance_join_pairs,
        "knn_query": q_knn_query,
        "range_box": q_range_box,
        "polygon_dedup_join": q_polygon_dedup_join,
        "tile_assign": q_tile_assign,
        "colorize_tiles": q_colorize_tiles,
        "pip_triangles": q_pip_triangles,
        "transform_conic": q_transform_conic,
        "angle_points": q_angle_points,
        "bounding_diag": q_bounding_diag,
        "raster_stats": q_raster_stats,
        "dist3d": q_dist3d,
        "accessors": q_accessors,
        "build_area": q_build_area,
        "envelope_aggr": q_envelope_aggr,
        "knn_join": q_knn_join,
        "knn_join_geom": q_knn_join_geom,
        "tpch_q1": q_tpch_q1,
        "tpch_q3_top10": q_tpch_q3_top10,
        "overlay_area": q_overlay_area,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_token_stats": q_doc_token_stats,
        "doc_quality": q_doc_quality,
        "doc_langid": q_doc_langid,
        "doc_fingerprint": q_doc_fingerprint,
        "ann_topk": q_ann_topk,
        "ann_ivf_exact": q_ann_ivf_exact,
        "minhash_pairs": q_minhash_pairs,
        "ppjoin_pairs": q_ppjoin_pairs,
        "dedup_components": q_dedup_components,
        "simhash_pairs": q_simhash_pairs,
        "embed_dup_pairs": q_embed_dup_pairs,
        "union_area": q_union_area,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "buffer_area": q_buffer_area,
        "cell_count_ledger": q_cell_count_ledger,
        "transform_roundtrip": q_transform_roundtrip,
        "event_sessions": q_event_sessions,
        "doc_substring_pairs": q_doc_substring_pairs,
        "doc_decontam": q_doc_decontam,
        "doc_repetition": q_doc_repetition,
        "image_phash_pairs": q_image_phash_pairs,
        "hex_count_by_cell": q_hex_count_by_cell,
        "doc_pii_scrub": q_doc_pii_scrub,
        "doc_paragraph_dedup": q_doc_paragraph_dedup,
        "doc_split": q_doc_split,
        "doc_stratified_sample": q_doc_stratified_sample,
        "doc_pack_shards": q_doc_pack_shards,
        "doc_pack_nextfit": q_doc_pack_nextfit,
        "bm25_topk": q_bm25_topk,
        "vocab_topk": q_vocab_topk,
        "zorder_profile": q_zorder_profile,
        "epoch_order": q_epoch_order,
        "zonal_stats": q_zonal_stats,
        "events_daily": q_events_daily,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_pairs_capped": q_minhash_pairs_capped,
        "doc_bpe_tokens": q_doc_bpe_tokens,
    }


def _zorder_oracle_sql() -> str:
    from incubator_sedona_spark.partitioning import zvalue_sql

    lon = _SQL_LON.format(k="o_orderkey")
    lat = _SQL_LAT.format(k="o_orderkey")
    z = zvalue_sql(
        f"CAST(floor(({lon}) / 0.390625) AS BIGINT)",
        f"CAST(floor(({lat}) / 0.390625) AS BIGINT)",
        8,
    )
    return f"""
        WITH z AS (SELECT {z} AS zval FROM orders)
        SELECT zval >> 10 AS zbucket,
               count(*)::BIGINT AS cnt,
               min(zval) AS zmin,
               max(zval) AS zmax
        FROM z GROUP BY zbucket
    """


def _bm25_oracle_sql_entry() -> str:
    from incubator_sedona_spark.pipeline.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS, k=15)


def _lon_sql(k: str) -> str:
    return _SQL_LON.format(k=k)


def _lat_sql(k: str) -> str:
    return _SQL_LAT.format(k=k)


def _overlay_oracle_sql() -> str:
    """Pairwise L-zone overlay areas from disjoint rectangle decompositions:
    area(A∩B) = sum of rect-pair overlaps; diff/sym follow by inclusion-
    exclusion (area(A\\B) = area(A) - area(A∩B))."""
    s = _L_S
    rects = [(0.0, 0.0, 2 * s, s), (0.0, s, s, 2 * s)]
    area_one = 2 * s * s + s * s
    terms = []
    for ax0, ay0, ax1, ay1 in rects:
        for bx0, by0, bx1, by1 in rects:
            terms.append(
                f"greatest(0, least(a.x0 + {ax1}, b.x0 + {bx1}) - greatest(a.x0 + {ax0}, b.x0 + {bx0}))"
                f" * greatest(0, least(a.y0 + {ay1}, b.y0 + {by1}) - greatest(a.y0 + {ay0}, b.y0 + {by0}))"
            )
    inter = " + ".join(terms)
    return f"""
        WITH za AS (
          SELECT n_nationkey AS lid,
                 (n_nationkey % 5) * 20.0 AS x0,
                 ((n_nationkey - n_nationkey % 5) / 5) * 20.0 AS y0
          FROM nation
        ),
        zb AS (
          SELECT n_nationkey AS rid,
                 (n_nationkey % 5) * 20.0 + 6.0 AS x0,
                 ((n_nationkey - n_nationkey % 5) / 5) * 20.0 + 6.0 AS y0
          FROM nation
        ),
        p AS (SELECT lid, rid, {inter} AS ia FROM za a, zb b)
        SELECT lid, rid,
               round(ia, 6) AS inter_area,
               round({area_one} - ia, 6) AS diff_area,
               round(2 * {area_one} - 2 * ia, 6) AS sym_area
        FROM p WHERE ia > 0
    """


def _hex_count_oracle_sql() -> str:
    hq, hr = hex_qr_sql("x", "y", 5.0)
    return f"""
        WITH pts AS (
          SELECT {_lon_sql('o_orderkey')} AS x, {_lat_sql('o_orderkey')} AS y
          FROM orders
        )
        SELECT {hq} AS hq, {hr} AS hr, CAST(count(*) AS BIGINT) AS cnt
        FROM pts GROUP BY 1, 2
    """


def _pii_scrub_oracle_sql() -> str:
    from incubator_sedona_spark.pipeline.scrub import pii_sql_exprs

    email = (
        "' contact u' || CAST(doc_id AS VARCHAR) || '@mail' || "
        "CAST(doc_id % 7 AS VARCHAR) || '.org'"
    )
    inj = f"""text
        || CASE WHEN doc_id % 3 >= 1 THEN {email} ELSE '' END
        || CASE WHEN doc_id % 3 >= 2 THEN {email} ELSE '' END
        || CASE WHEN doc_id % 4 < 2 THEN ' call +' || CAST((doc_id % 89) + 1 AS VARCHAR)
             || '-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        || CASE WHEN doc_id % 5 <> 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
             || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
             || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END"""
    e = pii_sql_exprs("t")
    return f"""
        WITH inj AS (SELECT doc_id, ({inj}) AS t FROM documents)
        SELECT doc_id,
               CAST({e['n_email']} AS BIGINT) AS n_email,
               CAST({e['n_phone']} AS BIGINT) AS n_phone,
               CAST({e['n_ip']} AS BIGINT) AS n_ip,
               md5({e['scrubbed']}) AS scrub_md5
        FROM inj
    """


def _paragraph_dedup_oracle_sql() -> str:
    return rf"""
        WITH base AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(
                   CASE WHEN doc_id % 2 = 0 THEN '{_BOILER_A}'
                        ELSE '{_BOILER_B}' END || ' ' || text), '\s+') AS toks
          FROM documents
        ),
        inst AS (
          SELECT doc_id,
                 CAST(ceil(len(toks) / 8.0) AS BIGINT) AS n_total,
                 i AS pos,
                 array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS para
          FROM base, UNNEST(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS t(i)
        ),
        k AS (
          SELECT *, row_number() OVER (PARTITION BY md5(para)
                                       ORDER BY doc_id, pos) AS rn
          FROM inst
        )
        SELECT doc_id, n_total,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                                       ' ' ORDER BY pos), '')) AS kept_md5
        FROM k GROUP BY doc_id, n_total
    """


def oracle_sql() -> dict[str, str]:
    lon_o, lat_o = _lon_sql("o_orderkey"), _lat_sql("o_orderkey")
    lon_c, lat_c = _lon_sql("c_custkey"), _lat_sql("c_custkey")
    lon_s, lat_s = _lon_sql("s_suppkey"), _lat_sql("s_suppkey")
    zones16 = _SQL_ZONES.format(off=2.0, side=16.0)
    zones24 = _SQL_ZONES.format(off=0.0, side=24.0)

    pip_pairs = f"""
        WITH z AS ({zones16}),
        p AS (SELECT o_orderkey, {lon_o} AS x, {lat_o} AS y FROM orders)
        SELECT z.n_nationkey, p.o_orderkey
        FROM z, p
        WHERE p.x > z.zxmin AND p.x < z.zxmax AND p.y > z.zymin AND p.y < z.zymax
    """
    tile_expr = lambda v, res: (
        f"CASE WHEN fmod({v}, 100.0) = 0.0 AND ({v})/100.0*{res} <> 0.0 "
        f"THEN CAST(trunc(({v})/100.0*{res}) AS INTEGER) - 1 "
        f"WHEN CAST(trunc(({v})/100.0*{res}) AS INTEGER) >= {res} THEN {res} - 1 "
        f"ELSE CAST(trunc(({v})/100.0*{res}) AS INTEGER) END"
    )
    stop = {
        "en": ["the", "and", "of", "to", "in", "is", "that"],
        "de": ["der", "die", "und", "das", "nicht", "ist"],
        "fr": ["le", "la", "les", "et", "des", "est"],
        "es": ["el", "la", "los", "que", "de", "es"],
    }
    votes = {
        lang: "(" + " + ".join(
            f"CASE WHEN position(' {w} ' IN s) > 0 THEN 1 ELSE 0 END" for w in words
        ) + ")"
        for lang, words in stop.items()
    }
    best = f"greatest({votes['en']}, {votes['de']}, {votes['fr']}, {votes['es']})"
    lang_case = (
        f"CASE WHEN {votes['en']} = {best} AND {best} > 0 THEN 'en' "
        f"WHEN {votes['de']} = {best} AND {best} > 0 THEN 'de' "
        f"WHEN {votes['fr']} = {best} AND {best} > 0 THEN 'fr' "
        f"WHEN {votes['es']} = {best} AND {best} > 0 THEN 'es' "
        f"ELSE 'und' END"
    )

    pip_salted = f"""
        WITH z AS ({zones16}),
        p AS (
          SELECT o_orderkey AS pt_id, {lon_o} AS x, {lat_o} AS y FROM orders
          UNION ALL
          SELECT o_orderkey + 1000000000 AS pt_id,
                 ({lon_o}) / 100.0 + 42.0 AS x,
                 ({lat_o}) / 100.0 + 42.0 AS y
          FROM orders
        )
        SELECT z.n_nationkey, p.pt_id
        FROM z, p
        WHERE p.x > z.zxmin AND p.x < z.zxmax AND p.y > z.zymin AND p.y < z.zymax
    """

    return {
        "pip_join_pairs": pip_pairs,
        "pip_join_salted": pip_salted,
        "pip_count_by_zone": f"SELECT n_nationkey, count(*) AS cnt FROM ({pip_pairs}) GROUP BY n_nationkey",
        # ExistenceJoin coverage: every small zone + EXISTS boolean
        "pip_join_existence": f"""
            WITH z AS ({_SQL_ZONES.format(off=18.0, side=0.5)}),
            p AS (SELECT o_orderkey, {lon_o} AS x, {lat_o} AS y FROM orders)
            SELECT z.n_nationkey,
                   EXISTS (
                     SELECT 1 FROM p
                     WHERE p.x > z.zxmin AND p.x < z.zxmax
                       AND p.y > z.zymin AND p.y < z.zymax
                   ) AS has_pt
            FROM z
        """,
        # the NOT EXISTS complement of pip_join_pairs (left_anti coverage)
        "pip_join_anti": f"""
            WITH z AS ({zones16}),
            p AS (SELECT o_orderkey, {lon_o} AS x, {lat_o} AS y FROM orders)
            SELECT p.o_orderkey FROM p
            WHERE NOT EXISTS (
              SELECT 1 FROM z
              WHERE p.x > z.zxmin AND p.x < z.zxmax
                AND p.y > z.zymin AND p.y < z.zymax
            )
        """,
        "distance_join_pairs": f"""
            WITH c AS (SELECT c_custkey, {lon_c} AS x, {lat_c} AS y FROM customer),
            s AS (SELECT s_suppkey, {lon_s} AS x, {lat_s} AS y FROM supplier)
            SELECT c.c_custkey, s.s_suppkey
            FROM c, s
            WHERE sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)) <= 5.0
        """,
        "knn_query": f"""
            SELECT c_custkey, round(dist, 6) AS dist_r FROM (
              SELECT c_custkey,
                     sqrt(({lon_c} - 50.0) * ({lon_c} - 50.0) + ({lat_c} - 50.0) * ({lat_c} - 50.0)) AS dist
              FROM customer
            ) ORDER BY dist, c_custkey LIMIT 20
        """,
        "range_box": f"""
            SELECT c_custkey FROM (
              SELECT c_custkey, {lon_c} AS x, {lat_c} AS y FROM customer
            ) WHERE x > 20.0 AND x < 60.0 AND y > 20.0 AND y < 60.0
        """,
        "polygon_dedup_join": f"""
            WITH z AS ({zones24})
            SELECT a.n_nationkey AS lid, b.n_nationkey AS rid
            FROM z a, z b
            WHERE a.zxmin <= b.zxmax AND b.zxmin <= a.zxmax
              AND a.zymin <= b.zymax AND b.zymin <= a.zymax
        """,
        "tile_assign": f"""
            SELECT c_custkey,
                   {tile_expr('x', 16)} AS tile_x,
                   {tile_expr('y', 16)} AS tile_y
            FROM (SELECT c_custkey, {lon_c} AS x, {lat_c} AS y FROM customer)
        """,
        # GenericColoringRule.java ramp re-derived as a CASE chain; the ARGB
        # literals are java.awt.Color.getRGB of the rule's public constants
        "colorize_tiles": f"""
            SELECT tile_x, tile_y, cnt,
                   CAST(CASE WHEN cnt = 0 THEN 16777215
                        WHEN cnt * 255.0 / 50.0 < 5 THEN -1778319616 WHEN cnt * 255.0 / 50.0 < 15 THEN -1772749056 WHEN cnt * 255.0 / 50.0 < 25 THEN -1767178496 WHEN cnt * 255.0 / 50.0 < 35 THEN -1761607936 WHEN cnt * 255.0 / 50.0 < 45 THEN -1761607936 WHEN cnt * 255.0 / 50.0 < 60 THEN -1761629696 WHEN cnt * 255.0 / 50.0 < 80 THEN -1761651456 ELSE -1761673216 END AS INTEGER) AS color
            FROM (
              SELECT {tile_expr('x', 16)} AS tile_x,
                     {tile_expr('y', 16)} AS tile_y,
                     count(*) AS cnt
              FROM (SELECT {lon_c} AS x, {lat_c} AS y FROM customer)
              GROUP BY 1, 2
            )
        """,
        # right triangle legs x=x0+1, y=y0+1, hypotenuse x'+y'=18 (strict
        # interior = ST_Contains for points off the boundary)
        "pip_triangles": f"""
            SELECT z.n_nationkey, p.o_orderkey
            FROM (SELECT n_nationkey,
                         (n_nationkey % 5) * 20.0 AS zx0,
                         ((n_nationkey - n_nationkey % 5) / 5) * 20.0 AS zy0
                  FROM nation) z
            JOIN (SELECT o_orderkey, {lon_o} AS x, {lat_o} AS y FROM orders) p
              ON p.x > z.zx0 + 1 AND p.y > z.zy0 + 1
             AND (p.x - z.zx0 - 1) + (p.y - z.zy0 - 1) < 18
        """,
        "envelope_aggr": f"""
            SELECT min(x) AS xmin, min(y) AS ymin, max(x) AS xmax, max(y) AS ymax
            FROM (SELECT {lon_c} AS x, {lat_c} AS y FROM customer)
        """,
        "knn_join": f"""
            SELECT s_suppkey, c_custkey, CAST(rn AS INTEGER) AS knn_rank FROM (
              SELECT s.s_suppkey, c.c_custkey,
                     row_number() OVER (
                       PARTITION BY s.s_suppkey
                       ORDER BY sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)), c.c_custkey
                     ) AS rn
              FROM (SELECT s_suppkey, {lon_s} AS x, {lat_s} AS y FROM supplier) s
              CROSS JOIN (SELECT c_custkey, {lon_c} AS x, {lat_c} AS y FROM customer) c
            ) WHERE rn <= 3
        """,
        "knn_join_geom": f"""
            SELECT s_suppkey, n_nationkey, CAST(rn AS INTEGER) AS knn_rank FROM (
              SELECT s.s_suppkey, z.n_nationkey,
                     row_number() OVER (
                       PARTITION BY s.s_suppkey
                       ORDER BY sqrt(
                         greatest(z.zxmin - s.x, s.x - z.zxmax, 0) * greatest(z.zxmin - s.x, s.x - z.zxmax, 0)
                         + greatest(z.zymin - s.y, s.y - z.zymax, 0) * greatest(z.zymin - s.y, s.y - z.zymax, 0)
                       ), z.n_nationkey
                     ) AS rn
              FROM (SELECT s_suppkey, {lon_s} AS x, {lat_s} AS y FROM supplier) s
              CROSS JOIN ({zones16}) z
            ) WHERE rn <= 2
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(38,10))) * 100) / 100 AS DOUBLE) AS sum_qty,
                   CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) * 100) / 100 AS DOUBLE) AS sum_base_price,
                   CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) * 100) / 100 AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_top10": """
            SELECT o_orderkey,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "events_daily": """
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   count(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY event_type, strftime(ts, '%Y-%m-%d')
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "doc_token_stats": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
            FROM documents
        """,
        "doc_quality": r"""
            SELECT doc_id,
                   length(trim(text)) AS n_chars,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                   length(trim(text)) - length(regexp_replace(trim(text), '[^A-Za-z0-9_ \t\n]', '', 'g')) AS n_punct
            FROM documents
        """,
        "doc_langid": f"""
            SELECT doc_id, {lang_case} AS lang_guess
            FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents)
        """,
        "doc_fingerprint": r"""
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp, count(*) AS cnt
            FROM documents
            GROUP BY 1
        """,
        "ann_topk": """
            SELECT vec_id, round(CAST(cosine AS DOUBLE), 3) AS cos_r FROM (
              SELECT e.vec_id,
                     list_cosine_similarity(e.embedding, q.embedding) AS cosine
              FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ) ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        # nprobe = n_lists probes every inverted list, so the IVF path must
        # reproduce the exact brute-force answer — same oracle by design
        "ann_ivf_exact": """
            SELECT vec_id, round(CAST(cosine AS DOUBLE), 3) AS cos_r FROM (
              SELECT e.vec_id,
                     list_cosine_similarity(e.embedding, q.embedding) AS cosine
              FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ) ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "cell_count_ledger": f"""
            WITH pts AS (SELECT {lon_c} AS x, {lat_c} AS y FROM customer),
            cells AS (
              SELECT ((CAST(4 AS BIGINT) << 58)
                      | (CAST(least(15, greatest(0, floor(x / 6.250625))) AS BIGINT) << 29)
                      | CAST(least(15, greatest(0, floor(y / 6.250625))) AS BIGINT)) AS cell,
                     CAST(least(15, greatest(0, floor(x / 6.250625))) AS BIGINT) AS ix,
                     CAST(least(15, greatest(0, floor(y / 6.250625))) AS BIGINT) AS iy
              FROM pts)
            SELECT cell,
                   concat(
                     CAST(((ix >> 3) & 1) | (((iy >> 3) & 1) * 2) AS VARCHAR),
                     CAST(((ix >> 2) & 1) | (((iy >> 2) & 1) * 2) AS VARCHAR),
                     CAST(((ix >> 1) & 1) | (((iy >> 1) & 1) * 2) AS VARCHAR),
                     CAST((ix & 1) | ((iy & 1) * 2) AS VARCHAR)
                   ) AS lineage,
                   count(*) AS row_count
            FROM cells GROUP BY 1, 2
        """,
        "doc_bpe_tokens": r"""
            SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_bpe
            FROM documents
        """,
        # operators/sessions.sessionize: identical lag/cumsum windows at
        # FULL microsecond precision — Spark cast(ts as double) == DuckDB
        # epoch(ts) (both compute microseconds/1e6 in binary double);
        # bounds truncate after assignment
        "event_sessions": """
            WITH e AS (
              SELECT user_id, event_id, epoch(ts) AS dsec FROM events
            ), flagged AS (
              SELECT user_id, event_id, dsec,
                     CASE WHEN lag(dsec) OVER w IS NULL
                               OR dsec - lag(dsec) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY dsec, event_id)
            ), s AS (
              SELECT user_id, dsec,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY dsec, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM flagged
            )
            SELECT user_id, session_seq, count(*) AS n_events,
                   floor(min(dsec))::BIGINT AS t_start,
                   floor(max(dsec))::BIGINT AS t_end
            FROM s GROUP BY 1, 2
        """,
        # dedup.substring_dup_pairs: winnowing (k=8 gram md5-prefix hashes,
        # window-13 min, distinct) replayed laterally; planted containment
        # mirrors the Spark construction
        "doc_substring_pairs": """
            WITH pool AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id + 20000000, substr(text, 10, 151)
              FROM documents WHERE doc_id % 15 = 0
            ),
            fp AS (
              SELECT doc_id, fp FROM (
                SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, greatest(0, length(text) - 12 + 1 - 29 + 1)),
                  j -> list_min(list_transform(generate_series(j, j + 28),
                       i -> ('0x' || substr(md5(substr(text, i, 12)), 1, 15))::BIGINT))
                )) AS fps
                FROM pool WHERE length(text) >= 40
              ), UNNEST(fps) AS u(fp)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_fp
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        # decontam.py: tokenization is one shared regex; DuckDB rebuilds the
        # same 13-grams laterally (t[i:i+12] is 13 elements, 1-based
        # inclusive = Spark's slice(toks, i+1, 13))
        "doc_decontam": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                                 x -> x <> '') AS t
              FROM documents
            ),
            btoks AS (
              SELECT list_filter(string_split(regexp_replace(lower(array_to_string(t[1:40], ' ')),
                                                             '[^a-z0-9]+', ' ', 'g'), ' '),
                                 x -> x <> '') AS t
              FROM toks WHERE doc_id % 37 = 0
            ),
            bgrams AS (
              SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS g
              FROM btoks, UNNEST(generate_series(1, len(t) - 12)) AS s(i)
              WHERE len(t) >= 13
            ),
            cgrams AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+12], ' ') AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 12)) AS s(i)
              WHERE len(t) >= 13
            )
            SELECT doc_id, count(*) AS n_hits
            FROM cgrams JOIN bgrams USING (g)
            GROUP BY doc_id
        """,
        "doc_repetition": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                                 x -> x <> '') AS t,
                     list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                                 s -> s <> '') AS l
              FROM documents
            ), base AS (
              SELECT doc_id, len(t) AS n_tokens,
                     1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_token_frac,
                     CASE WHEN len(l) <= 1 THEN 0.0
                          ELSE 1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) END AS dup_line_frac,
                     t
              FROM toks WHERE len(t) >= 2
            ), bg AS (
              SELECT doc_id, n_tokens, dup_token_frac, dup_line_frac,
                     t[i] || ' ' || t[i+1] AS g
              FROM base, UNNEST(generate_series(1, n_tokens - 1)) AS s(i)
            ), cnt AS (
              SELECT doc_id, n_tokens, dup_token_frac, dup_line_frac, g, count(*) AS c
              FROM bg GROUP BY ALL
            ), top AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
              FROM cnt
            )
            SELECT doc_id, n_tokens,
                   round(dup_token_frac, 6) AS dup_tok_r,
                   round(dup_line_frac, 6) AS dup_line_r,
                   g AS top_bigram,
                   round(2.0 * c / n_tokens, 6) AS top_bg_r
            FROM top WHERE rn = 1
        """,
        # brute-force O(n^2) oracle: the banded pigeonhole join must
        # reproduce it exactly (recall guaranteed for hamming <= bands - 1)
        "image_phash_pairs": """
            WITH ph AS (
              SELECT doc_id,
                     xor(doc_id * 2654435761, (doc_id * 2654435761) >> 29)
                       & ((1::BIGINT << 60) - 1) AS h
              FROM documents
            ),
            pool AS (
              SELECT doc_id AS image_id, h AS phash FROM ph
              UNION ALL
              SELECT doc_id + 10000000, xor(h, 66561) FROM ph WHERE doc_id % 25 = 0
            )
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
            FROM pool a JOIN pool b ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 4
        """,
        # hexgrid.py: same double literals, same operation order, same
        # floor(v+0.5) rounding rule — the cell assignment replays
        # bit-for-bit (hex_qr_sql is generated from the module constants)
        "hex_count_by_cell": _hex_count_oracle_sql(),
        "doc_pii_scrub": _pii_scrub_oracle_sql(),
        "doc_paragraph_dedup": _paragraph_dedup_oracle_sql(),
        # packing.py: the bucket hash is md5 over the id's string form —
        # byte-identical across Spark and DuckDB, so every packing/split
        # oracle replays the exact engine arithmetic
        "doc_split": """
            WITH b AS (
              SELECT doc_id,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS bucket
              FROM documents)
            SELECT doc_id,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "doc_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT <
                  CASE lang WHEN 'en' THEN 32768
                            WHEN 'zh' THEN 65536
                            ELSE 16384 END
        """,
        "doc_pack_shards": """
            WITH b AS (
              SELECT doc_id, n_chars,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 8 AS bucket
              FROM documents)
            SELECT doc_id, bucket,
                   CAST(floor((SUM(n_chars) OVER (
                          PARTITION BY bucket ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_chars) / 4000.0) AS BIGINT) AS shard
            FROM b
        """,
        # the greedy next-fit walk replayed one row at a time per bucket
        "doc_pack_nextfit": """
            WITH RECURSIVE b AS (
              SELECT doc_id, n_chars,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 8 AS bucket
              FROM documents),
            o AS (
              SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
              FROM b),
            walk AS (
              SELECT bucket, rn, doc_id,
                     CAST(0 AS BIGINT) AS shard,
                     CAST(n_chars AS DOUBLE) AS running
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.bucket, o.rn, o.doc_id,
                     CASE WHEN w.running + o.n_chars > 4000
                          THEN w.shard + 1 ELSE w.shard END,
                     CASE WHEN w.running + o.n_chars > 4000
                          THEN CAST(o.n_chars AS DOUBLE)
                          ELSE w.running + o.n_chars END
              FROM walk w JOIN o ON o.bucket = w.bucket AND o.rn = w.rn + 1
            )
            SELECT doc_id, bucket, shard FROM walk
        """,
        # The LSH queries verify candidates EXACTLY (char-shingle jaccard /
        # md5-bit hamming / cosine), so their oracles are plain all-pairs
        # filters over the same exact measure — LSH only prunes the search.
        # ppjoin_pairs computes the IDENTICAL measure with deterministic
        # prefix-filter candidates, hence the same oracle.
        "minhash_pairs": _EXACT_JACCARD_ORACLE,
        "ppjoin_pairs": _EXACT_JACCARD_ORACLE,
        # the same exact pair set, transitively closed with a recursive CTE;
        # component = min reachable doc_id (the engine's label-propagation
        # fixed point by construction)
        "dedup_components": f"""
            WITH RECURSIVE pairs AS ({_EXACT_JACCARD_ORACLE}),
            symedges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL
              SELECT id_b AS u, id_a AS v FROM pairs
            ),
            walk(node, reach) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT w.node, se.v FROM walk w JOIN symedges se ON w.reach = se.u
            )
            SELECT node AS doc_id, min(reach) AS component
            FROM walk GROUP BY node
        """,
        # raster.rs_zonal_stats_rect: pixel centers, half-open membership,
        # and fold arithmetic replayed with exact integer/double math
        "zonal_stats": """
            WITH px AS (
              SELECT n_nationkey AS n, i,
                     ((n_nationkey * 31 + i * 7) % 17)::DOUBLE AS v,
                     n_nationkey * 10 + 2 * (i % 4) + 1 AS cx,
                     49 - 2 * (i // 4) AS cy
              FROM nation, generate_series(0, 15) AS t(i)
            ), z AS (
              SELECT n, v FROM px
              WHERE cx >= n * 10 + 1 + (n % 3) AND cx < n * 10 + 8
                AND cy >= 44 AND cy < 49
            )
            SELECT n AS n_nationkey,
                   count(*)::BIGINT AS zcount,
                   round(sum(v), 6) AS zsum_r,
                   min(v) AS zmin,
                   max(v) AS zmax,
                   round(sum(v) / count(*), 6) AS zmean_r
            FROM z GROUP BY n
        """,
        # packing.epoch_key_col: md5 over the same concatenated string —
        # byte-identical digests, so the epoch order replays exactly
        "epoch_order": """
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':3') AS epoch_key
            FROM documents
            ORDER BY epoch_key, doc_id
            LIMIT 50
        """,
        # partitioning.zvalue_sql: the identical shift/and/or interleave;
        # cell width 100/256 is a dyadic rational, so the double floor()
        # agrees bitwise across engines
        "zorder_profile": _zorder_oracle_sql(),
        # retrieval.py: same Okapi BM25 formula in the same association
        # order (stats pass -> broadcast -> score), single-space tokens
        "bm25_topk": _bm25_oracle_sql_entry(),
        "vocab_topk": """
            SELECT token, count(*)::BIGINT AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            WHERE token <> ''
            GROUP BY token
            ORDER BY cnt DESC, token ASC
            LIMIT 20
        """,
        "simhash_pairs": _simhash_oracle_sql(),
        "overlay_area": _overlay_oracle_sql(),
        # buffered 16x16 zone with d=3, 32-gon corners:
        # 256 + 2*(16+16)*3 + 0.5*32*9*sin(2*pi/32)
        "buffer_area": f"""
            SELECT n_nationkey,
                   round(256.0 + 192.0 + {0.5 * 32 * 9.0}*sin(2*pi()/32), 6) AS buf_area
            FROM nation
        """,
        "transform_roundtrip": f"""
            SELECT c_custkey,
                   round(({_lon_sql('c_custkey')}) * 0.06, 6) AS lon_r,
                   round(({_lat_sql('c_custkey')}) * 0.8 - 40.0, 6) AS lat_r
            FROM customer
        """,
        "transform_conic": f"""
            SELECT c_custkey,
                   round(({_lon_sql('c_custkey')}) * 0.1 - 5.0, 6) AS lcc_lon,
                   round(({_lat_sql('c_custkey')}) * 0.08 + 42.0, 6) AS lcc_lat,
                   round(({_lon_sql('c_custkey')}) * 0.5 - 120.0, 6) AS alb_lon,
                   round(({_lat_sql('c_custkey')}) * 0.2 + 28.0, 6) AS alb_lat
            FROM customer
        """,
        # JTS Angle convention: a = norm(azimuth(p2->p1)) - norm(azimuth(p2->p3)),
        # each azimuth = atan2(dy, dx), all three normalized into [0, 2pi)
        "dist3d": f"""
            SELECT s_suppkey,
                   round(sqrt(
                     pow(({_lon_sql('s_suppkey')}) - ({_lon_sql('s_suppkey + 5')}), 2)
                   + pow(({_lat_sql('s_suppkey')}) - ({_lat_sql('s_suppkey + 5')}), 2)
                   + pow(s_suppkey % 37, 2)), 9) AS d3
            FROM supplier
        """,
        # zone polygons are closed 5-point single-ring squares; ST_IsRing is
        # LineString-only (JTS), hence false for polygons
        "accessors": f"""
            SELECT n_nationkey,
                   CAST(2 AS BIGINT) AS dim, CAST(5 AS BIGINT) AS np,
                   TRUE AS closed, FALSE AS ring, CAST(1 AS BIGINT) AS nrings,
                   round(zxmin, 6) AS x0, round(zymax, 6) AS y1
            FROM ({_SQL_ZONES.format(off=2.0, side=16.0)})
        """,
        # donut area from the two integer-aligned concentric squares
        "build_area": f"""
            SELECT n_nationkey,
                   round((zxmax - zxmin) * (zymax - zymin)
                         - (zxmax - zxmin - 8) * (zymax - zymin - 8), 6)
                     AS donut_area
            FROM ({_SQL_ZONES.format(off=2.0, side=16.0)})
        """,
        "angle_points": f"""
            WITH p AS (
              SELECT s_suppkey,
                     {_lon_sql('s_suppkey')} AS x2, {_lat_sql('s_suppkey')} AS y2,
                     {_lon_sql('s_suppkey + 13')} AS x1, {_lat_sql('s_suppkey + 13')} AS y1
              FROM supplier
            ),
            az AS (
              SELECT s_suppkey,
                     CASE WHEN atan2(y1 - y2, x1 - x2) < 0
                          THEN atan2(y1 - y2, x1 - x2) + 2 * pi()
                          ELSE atan2(y1 - y2, x1 - x2) END AS a1,
                     CASE WHEN atan2(50.0 - y2, 50.0 - x2) < 0
                          THEN atan2(50.0 - y2, 50.0 - x2) + 2 * pi()
                          ELSE atan2(50.0 - y2, 50.0 - x2) END AS a2
              FROM p
            )
            SELECT s_suppkey,
                   round(CASE WHEN a1 - a2 < 0 THEN a1 - a2 + 2 * pi() ELSE a1 - a2 END, 9) AS ang
            FROM az
        """,
        "bounding_diag": f"""
            SELECT n_nationkey,
                   round(zxmin, 6) AS x0, round(zymin, 6) AS y0,
                   round(zxmax, 6) AS x1, round(zymax, 6) AS y1
            FROM ({_SQL_ZONES.format(off=2.0, side=16.0)})
        """,
        # raster band formulas inlined identically on both sides; the world
        # coordinate (n*10+5, 47) lands on grid (col 2, row 1) -> element 7
        "raster_stats": """
            WITH b AS (
              SELECT n_nationkey,
                     list_transform(range(16),
                       i -> CAST((n_nationkey*31 + i*7) % 17 AS DOUBLE)) AS b1,
                     list_transform(range(16),
                       i -> CAST((n_nationkey*13 + i*i) % 23 AS DOUBLE)) AS b2
              FROM nation
            ),
            m AS (
              SELECT n_nationkey, b1, b2,
                     list_max(list_transform(list_distinct(b1),
                       v -> length(list_filter(b1, x -> x = v)))) AS maxf
              FROM b
            )
            SELECT n_nationkey,
                   round(list_sum(b1) / 16.0, 6) AS mean1,
                   round(list_sum(list_transform(range(16),
                     i -> CASE WHEN b1[i+1] + b2[i+1] = 0 THEN 0.0
                          ELSE round((b2[i+1] - b1[i+1]) / (b2[i+1] + b1[i+1]), 2)
                          END)), 6) AS nd_sum,
                   b2[7] AS v2,
                   length(list_filter(list_distinct(b1),
                     v -> length(list_filter(b1, x -> x = v)) = maxf)) AS mode_n,
                   round(list_sum(list_transform(range(16),
                     i -> CAST(CAST(b1[i+1] AS INT) & CAST(b2[i+1] AS INT) AS DOUBLE))),
                     6) AS and_sum
            FROM m
        """,
        "union_area": """
            WITH z AS (
              SELECT (n_nationkey % 5) * 20 AS x0,
                     CAST((n_nationkey - n_nationkey % 5) / 5 AS INTEGER) * 20 AS y0
              FROM nation
            ),
            cells AS (
              SELECT DISTINCT z.x0 + i.i AS cx, z.y0 + j.j AS cy
              FROM z, generate_series(0, 23) i(i), generate_series(0, 23) j(j)
              WHERE (i.i < 24 AND j.j < 12) OR (i.i < 12 AND j.j < 24)
            )
            SELECT round(CAST(count(*) AS DOUBLE), 6) AS union_area FROM cells
        """,
        "embed_dup_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        """,
        # df-capped variant: the document-frequency filter is applied to the
        # gram sets on BOTH sides (join keys and set sizes), mirroring
        # pipeline.dedup.ngram_jaccard_pairs(max_df=...) exactly.
        "ngram_jaccard_capped": rf"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
            ),
            g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(0, greatest(0, len(t) - 3)),
                       i -> array_to_string(t[i+1:i+3], ' '))) AS grams
              FROM toks
            ),
            e0 AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE len(grams) > 0),
            dfreq AS (SELECT gram, count(*) AS c FROM e0 GROUP BY gram),
            e AS (
              SELECT e0.doc_id, e0.gram FROM e0
              JOIN dfreq ON e0.gram = dfreq.gram
              WHERE dfreq.c <= {_NGRAM_MAX_DF}
            ),
            sz AS (SELECT doc_id, count(*) AS ng FROM e GROUP BY doc_id),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, sa.ng AS na, sb.ng AS nb,
                     count(*) AS shared
              FROM e a
              JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
              JOIN sz sa ON sa.doc_id = a.doc_id
              JOIN sz sb ON sb.doc_id = b.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b FROM p
            WHERE shared * 1.0 / (na + nb - shared) >= 0.8
        """,
        # capped minhash: exact jaccard over the documents+plant union; the
        # planted hot bucket (150 identical docs, bucket size > cap in every
        # band) contributes no candidates, which the oracle states as the
        # both-planted exclusion — planted-vs-organic pairs are killed by the
        # jaccard filter itself (gibberish text), which the oracle also
        # verifies rather than assumes.
        "minhash_pairs_capped": rf"""
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT {_PLANT_BASE} + i AS doc_id, '{_PLANT_TEXT}' AS text
              FROM generate_series(0, {_PLANT_N - 1}) t(i)
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(1, length(text) - 4)),
                       i -> substr(text, i, 5))) AS s
              FROM docs
            ),
            e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sh),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
                     count(*) AS shared
              FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b FROM p
            WHERE shared * 1.0 / (na + nb - shared) >= 0.8
              AND NOT (id_a >= {_PLANT_BASE} AND id_b >= {_PLANT_BASE})
        """,
        "ngram_jaccard_pairs": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
            ),
            g AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(0, greatest(0, len(t) - 3)),
                       i -> array_to_string(t[i+1:i+3], ' '))) AS grams
              FROM toks
            ),
            e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g WHERE len(grams) > 0),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb,
                     count(*) AS shared
              FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b FROM p
            WHERE shared * 1.0 / (na + nb - shared) >= 0.8
        """,
    }
