"""kNN query/join vs numpy brute-force oracles (FIXTURES.md F5 pattern;
reference: /root/reference/python/tests/spatial_operator/test_point_knn.py:39-72)."""

import numpy as np
import pyarrow as pa
import pytest

from incubator_sedona_spark.cells import Grid
from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.operators.knn import knn_join, knn_query


def test_knn_query_matches_argsort(spark):
    rng = np.random.default_rng(11)
    xs, ys = rng.uniform(0, 100, 500), rng.uniform(0, 100, 500)
    qx, qy, k = 42.0, 58.0, 100
    d = np.hypot(xs - qx, ys - qy)
    expected_ids = set(np.argsort(d)[:k].tolist())
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "pid int, x double, y double",
    )
    got = knn_query(df, qx, qy, k, x_col="x", y_col="y", tiebreak=["pid"]).collect()
    assert len(got) == k
    assert {r.pid for r in got} == expected_ids
    dists = [r.dist for r in got]
    assert dists == sorted(dists)


def test_knn_query_wkb_path(spark):
    pts = W.points_to_wkb(np.array([0.0, 3.0, 10.0]), np.array([0.0, 4.0, 0.0]))
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(pts)], "pid int, wkb binary"
    )
    got = knn_query(df, 0.0, 0.0, 2, tiebreak=["pid"]).collect()
    assert [r.pid for r in got] == [0, 1]


@pytest.mark.parametrize("form", ["xy", "wkb"])
def test_knn_query_skips_null_and_nonfinite_rows(spark, form):
    """A NULL geometry or a NULL or non-finite coordinate takes no part: it
    is neither ranked first (Spark orders NULL first ascending) nor fails
    the WKB distance, even when k exceeds the rows that can rank."""
    xy = [(0.0, 0.0), (None, None), (1.0, 1.0), (float("nan"), 0.0), (float("inf"), 0.0)]
    if form == "xy":
        df = spark.createDataFrame(
            [(i + 1, x, y) for i, (x, y) in enumerate(xy)], "pid int, x double, y double"
        )
        got = knn_query(df, 0.0, 0.0, 3, x_col="x", y_col="y")
    else:
        rows = [(i + 1, None if x is None else bytearray(W.dumps(W.point(x, y))))
                for i, (x, y) in enumerate(xy)]
        got = knn_query(spark.createDataFrame(rows, "pid int, wkb binary"), 0.0, 0.0, 3)
    assert [(r.pid, r.dist) for r in got.collect()] == [(1, 0.0), (3, 2.0 ** 0.5)]


def test_knn_join_matches_bruteforce(spark):
    rng = np.random.default_rng(5)
    lx, ly = rng.uniform(0, 100, 60), rng.uniform(0, 100, 60)
    rx, ry = rng.uniform(0, 100, 300), rng.uniform(0, 100, 300)
    k = 5
    left = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(lx, ly))],
        "lid int, x double, y double",
    )
    right = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(rx, ry))],
        "rid int, x double, y double",
    )
    grid = Grid(0.0, 0.0, 100.01, 100.01, 4)
    got = knn_join(left, right, k, grid, left_id="lid").collect()
    by_left = {}
    for r in got:
        by_left.setdefault(r.lid, []).append((r.rid, r.knn_dist))
    d = np.hypot(lx[:, None] - rx[None, :], ly[:, None] - ry[None, :])
    assert len(by_left) == 60
    for li in range(60):
        expected = set(np.argsort(d[li])[:k].tolist())
        gots = {rid for rid, _ in by_left[li]}
        assert len(gots) == k
        # allow tie permutations at the kth boundary: compare distance multisets
        exp_d = sorted(d[li][sorted(expected)])
        got_d = sorted(dd for _, dd in by_left[li])
        assert np.allclose(exp_d, got_d)


def test_knn_join_k_larger_than_matches(spark):
    left = spark.createDataFrame([(0, 1.0, 1.0)], "lid int, x double, y double")
    right = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 90.0, 90.0)], "rid int, x double, y double"
    )
    grid = Grid(0.0, 0.0, 100.01, 100.01, 3)
    got = knn_join(left, right, 5, grid, left_id="lid").collect()
    assert len(got) == 2  # only 2 exist in total


# -- the broadcast probe vs the ring schedule ---------------------------------

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
_ID_EDGES = (-(2**63), 2**63 - 1)


def _table(spark, **cols):
    """An Arrow-built side: a local relation with optimizer statistics, so
    the default threshold broadcasts it and ``knn_join`` takes the probe."""
    types = {"lid": pa.int64(), "rid": pa.int64(), "x": pa.float64(), "y": pa.float64()}
    arrays = {k: v if isinstance(v, pa.Array) else pa.array(v, types.get(k)) for k, v in cols.items()}
    return spark.createDataFrame(pa.table(arrays))


def _run_knn(spark, plan, left, right, k, grid=None, **kw):
    """``knn_join`` on the named plan: ``probe`` (default threshold) or
    ``ring`` (auto-broadcast off); asserts which one ran."""
    old = spark.conf.get(_THRESHOLD)
    if plan == "ring":
        spark.conf.set(_THRESHOLD, "-1")
    try:
        df = knn_join(left, right, k, grid, left_id="lid", **kw)
        ran = "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
        rows = df.collect()
    finally:
        spark.conf.set(_THRESHOLD, old)
    assert ran == (plan == "probe"), plan
    return df, rows


def _uniform(rng, n, lo=0.0, hi=100.0):
    return {"x": rng.uniform(lo, hi, n), "y": rng.uniform(lo, hi, n)}


def _lattice(n):
    xs, ys = np.meshgrid(np.arange(n, dtype=float), np.arange(n, dtype=float))
    return {"x": xs.ravel(), "y": ys.ravel()}


def _case(name):
    """(left columns, right columns, k, grid, knn_join kwargs, compared
    output columns or None for all) of one parity case.  ``tiebreak_null``
    is a double column with NULL and NaN values."""
    rng = np.random.default_rng(sum(map(ord, name)))
    tie = {"tiebreak": "rid"}
    if name == "uniform":
        return {"lid": range(120), **_uniform(rng, 120)}, {"rid": range(800), **_uniform(rng, 800)}, 5, None, tie, None
    if name == "lattice_ties":
        # on lattice points and at cell centres: 4-way ties everywhere
        left = {k: np.concatenate([v * 2, v * 2 + 0.5]) for k, v in _lattice(9).items()}
        return {"lid": range(162), **left}, {"rid": range(441), **_lattice(21)}, 6, None, tie, None
    if name == "k_above_right":
        return {"lid": range(10), **_uniform(rng, 10)}, {"rid": range(4), **_uniform(rng, 4)}, 7, None, tie, None
    if name == "left_outside_right":
        return ({"lid": range(60), **_uniform(rng, 60, -300.0, 400.0)},
                {"rid": range(300), **_uniform(rng, 300, 40.0, 60.0)}, 3, None, tie, None)
    if name == "given_grid":
        return ({"lid": range(80), **_uniform(rng, 80, -20.0, 120.0)},
                {"rid": range(400), **_uniform(rng, 400, -10.0, 110.0)}, 4,
                Grid(0.0, 0.0, 100.01, 100.01, 4), tie, None)
    if name == "hot_cell":
        hot = {k: np.concatenate([rng.uniform(50.0, 50.5, 900), rng.uniform(0, 100, 100)]) for k in "xy"}
        return {"lid": range(80), **_uniform(rng, 80)}, {"rid": range(1000), **hot}, 5, None, tie, None
    if name == "empty_left":
        return {"lid": [], "x": [], "y": []}, {"rid": range(50), **_uniform(rng, 50)}, 3, None, tie, None
    if name == "empty_right":
        return {"lid": range(20), **_uniform(rng, 20)}, {"rid": [], "x": [], "y": []}, 3, None, tie, None
    if name == "null_coordinates":
        lx, ly = (list(v) for v in _uniform(rng, 40).values())
        rx, ry = (list(v) for v in _uniform(rng, 200).values())
        lx[:4], ly[:4] = [None, 3.0, float("nan"), float("inf")], [5.0, None, 1.0, 2.0]
        rx[:5], ry[:5] = [None, 2.0, float("nan"), 4.0, float("-inf")], [1.0, None, 3.0, float("nan"), 6.0]
        return {"lid": range(40), "x": lx, "y": ly}, {"rid": range(200), "x": rx, "y": ry}, 4, None, tie, None
    if name == "id_limits":
        lid, rid = list(range(30)), list(range(150))
        lid[:2], rid[:2], rid[-2:] = _ID_EDGES, _ID_EDGES, [_ID_EDGES[1] - 1, _ID_EDGES[0] + 1]
        return {"lid": lid, **_uniform(rng, 30)}, {"rid": rid, **_uniform(rng, 150)}, 4, None, tie, None
    if name == "duplicate_left_id":
        # two left rows share an id: each still gets its own k neighbours
        return ({"lid": [7, 7], "x": [1.0, 90.0], "y": [1.0, 90.0]},
                {"rid": [1, 2, 3, 4], "x": [0.0, 2.0, 89.0, 91.0], "y": [0.0, 2.0, 89.0, 91.0]},
                2, None, tie, None)
    right = {"rid": range(441), **_lattice(21)}
    left = {"lid": range(40), **{k: rng.integers(0, 20, 40) + 0.5 for k in "xy"}}
    if name == "tiebreak_long":
        right["t"] = pa.array([-i for i in range(441)], pa.int64())
        return left, right, 6, None, {"tiebreak": "t"}, None
    if name == "tiebreak_string":
        right["t"] = [f"s{i * 7919 % 441}"[::-1] for i in range(441)]
        return left, right, 6, None, {"tiebreak": "t"}, None
    assert name == "tiebreak_null"
    # NULL sorts first and NaN after every number, as Spark's ascending order
    right["t"] = pa.array([None if i % 3 == 0 else np.nan if i % 5 == 0 else i / 4 for i in range(441)])
    # rows tied on distance and tiebreak may swap: compare what ties keep
    return left, right, 6, None, {"tiebreak": "t"}, ["lid", "x_l", "y_l", "t", "knn_dist", "knn_rank"]


_PARITY = ("uniform", "lattice_ties", "k_above_right", "left_outside_right", "given_grid",
           "hot_cell", "empty_left", "empty_right", "null_coordinates", "id_limits",
           "tiebreak_long", "tiebreak_string", "tiebreak_null", "duplicate_left_id")


@pytest.mark.parametrize("name", _PARITY)
def test_knn_probe_matches_ring(spark, name):
    """The broadcast probe returns the ring schedule's rows — exact
    ``knn_dist``, ranks and right rows — with its column names and types,
    over ties, sparse and hot right sides, outside points, NULL and
    non-finite coordinates, int64-limit ids, a repeated left id and every
    tiebreak type."""
    lcols, rcols, k, grid, kw, cols = _case(name)
    left, right = _table(spark, **lcols), _table(spark, **rcols)
    ring, want = _run_knn(spark, "ring", left, right, k, grid, **kw)
    probe, got = _run_knn(spark, "probe", left, right, k, grid, **kw)
    assert probe.columns == ring.columns and probe.dtypes == ring.dtypes
    assert probe.columns[:3] == ["lid", "x_l", "y_l"] and probe.columns[-2:] == ["knn_dist", "knn_rank"]
    pick = [probe.columns.index(c) for c in cols or probe.columns]
    # str keeps NULL and NaN apart and prints doubles exactly
    key = lambda r: tuple((r[i] is None, str(r[i])) for i in pick)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    if name not in ("empty_left", "empty_right", "k_above_right", "null_coordinates"):
        assert len(got) == len(lcols["lid"]) * k


@pytest.mark.parametrize("plan", ["ring", "probe"])
def test_knn_join_border_tie_waits_for_unseen_cell(spark, plan):
    """A right point exactly on the searched square's border lies in the
    next half-open cell, unseen: a k-th distance equal to the border
    distance must not finish the point.  rid 1 (on the border) and rid 2
    (inside) are both 1.5 away; the tiebreak picks rid 1."""
    far = [(i + 3, 0.2 + 0.38 * i, 0.5) for i in range(20)]  # fills the grid: R0 = 1
    rows = [(1, 4.5, 6.0), (2, 4.5, 3.0)] + far
    left = _table(spark, lid=[0], x=[4.5], y=[4.5])
    right = _table(spark, **dict(zip(("rid", "x", "y"), map(list, zip(*rows)))))
    _, got = _run_knn(spark, plan, left, right, 1, Grid(0.0, 0.0, 8.0, 8.0, 3), tiebreak="rid")
    assert [(r.rid, r.knn_dist, r.knn_rank) for r in got] == [(1, 1.5, 1)]


@pytest.mark.parametrize("plan", ["ring", "probe"])
def test_knn_join_null_coordinates_take_no_part(spark, plan):
    """A left row with a NULL or non-finite coordinate gets no output row;
    a right row with one is never a neighbour, even when k exceeds the
    finite right rows and the ring schedule reaches its cross round."""
    left = _table(spark, lid=[0, 1, 2], x=[0.5, None, float("nan")], y=[0.5, 3.0, 1.0])
    right = _table(spark, rid=[0, 1, 2, 3, 4], x=[1.0, None, 5.0, float("nan"), 7.5],
                   y=[1.0, None, None, 2.0, float("inf")])
    _, got = _run_knn(spark, plan, left, right, 3, Grid(0.0, 0.0, 8.0, 8.0, 3), tiebreak="rid")
    assert [(r.lid, r.rid, r.knn_rank) for r in got] == [(0, 0, 1)]


def test_ring_knn_join_pins_each_plan_once(spark):
    """Repeated ring-path calls over the same sides re-use the cached
    intermediates the first call pinned instead of registering them again."""
    from incubator_sedona_spark.pipeline import dedup

    left = spark.createDataFrame([(i, i * 3.0, i * 2.0) for i in range(20)], "lid long, x double, y double")
    right = spark.createDataFrame([(i, i * 0.7, 90 - i * 0.9) for i in range(90)], "rid long, x double, y double")
    sizes = []
    for _ in range(3):
        assert knn_join(left, right, 3, Grid(0.0, 0.0, 100.0, 100.0, 5), left_id="lid", tiebreak="rid").count() == 60
        sizes.append(len(dedup._PINNED))
    assert sizes[0] > 0 and sizes == [sizes[0]] * 3
